package graft.scd

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The large-log replay guard (VERDICT r16 #4): an uncompacted log
  * makes every read pay a plan build linear in its length (see the
  * decade table on [[ScdCompiler.MaxReplayStatementsConf]]). The guard
  * turns that into a loud, actionable error naming the reference's own
  * remedy (compact + truncate), overridable by conf for users who
  * accept the plan tax knowingly. */
class ReplaySizeGuardSpec extends SparkSpec {

  private def logOf(k: Int): String =
    (1 to k).map(i =>
      s"UPDATE t SET v = v + 1 WHERE id = $i;").mkString("\n")

  private def dirWith(k: Int): String = {
    val dir = Files.createTempDirectory("replayguard").toString
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    Files.write(java.nio.file.Paths.get(dir, ".updates"),
      logOf(k).getBytes("UTF-8"))
    dir
  }

  test("replay at the default cap succeeds; one past it fails loud with the compaction hint") {
    val max = ScdCompiler.MaxReplayStatementsDefault
    assert(max == 250) // the SCALE.md-measured threshold, pinned
    import spark.implicits._
    val base = Seq((1L, 10L)).toDF("id", "v")
    val at = UpdatesParser.parse(logOf(max), Long.MaxValue)
    assert(ScdCompiler(base, at).count() == 1) // builds, no guard trip
    val over = UpdatesParser.parse(logOf(max + 1), Long.MaxValue)
    val e = intercept[IllegalStateException] {
      ScdCompiler(base, over)
    }
    assert(e.getMessage.contains("compact") &&
      e.getMessage.contains(ScdCompiler.MaxReplayStatementsConf),
      e.getMessage)
  }

  test("conf override raises the cap; guard covers the reader path end-to-end") {
    val dir = dirWith(150)
    // lowering the conf trips the guard on a log the default accepts
    spark.conf.set(ScdCompiler.MaxReplayStatementsConf, "100")
    try {
      val e = intercept[IllegalStateException] {
        ScdReader.read(spark, dir)
      }
      assert(e.getMessage.contains("150"), e.getMessage)
    } finally spark.conf.unset(ScdCompiler.MaxReplayStatementsConf)
    // and the default cap replays the same dir fine
    val out = ScdReader.read(spark, dir)
    assert(out.where(col("id") === 1L).head.getLong(1) == 11L)
  }

  test("compact(clearLog) is the prescribed escape: the compacted dir replays with an empty log") {
    val dir = dirWith(200) // under cap: compaction itself must replay
    val out = Files.createTempDirectory("replayguardout").toString
    ScdReader.compact(spark, dir, out, clearLog = true)
    // the compacted copy carries the applied state and no sidecar debt
    val compacted = ScdReader.read(spark, out)
    assert(compacted.where(col("id") === 1L).head.getLong(1) == 11L)
    // the source's log was truncated: replay is now guard-free
    assert(ScdReader.read(spark, dir).count() == 2)
  }
}
