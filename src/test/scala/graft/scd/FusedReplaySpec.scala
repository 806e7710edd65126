package graft.scd

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The fused replay's plan-shape and cliff regressions: the whole log
  * is ONE expression, so plan depth does not grow with the log, the
  * replay is evaluated once per row inside whole-stage codegen, and a
  * log long enough to overflow the old per-statement projection chain
  * still compiles and writes. Tables are tiny — the cost under test is
  * the plan's, not the data's. */
class FusedReplaySpec extends SparkSpec {

  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("fusedreplay").toString
    (1 to 20).map(i => (i.toLong, i * 10L, if (i % 2 == 0) "A" else "B"))
      .toDF("id", "v", "seg")
      .write.mode("overwrite").parquet(d)
    d
  }

  /** k statements cycling UPDATE v / UPDATE seg / DELETE (on the
    * updated seg, so every DELETE runs inside the replay). */
  private def log(k: Int): Seq[ScdStatement] =
    UpdatesParser.parse((1 to k).map { i =>
      i % 3 match {
        case 0 => s"UPDATE t SET v = v + $i WHERE id % 4 = ${i % 4};"
        case 1 => s"UPDATE t SET seg = 'S$i' WHERE v > $i;"
        case _ => s"DELETE FROM t WHERE seg = 'S${i - 1}' AND id % 5 = 0;"
      }
    }.mkString("\n"), Long.MaxValue).statements

  private def planNodes(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collect { case p => p }.size

  test("analyzed plan node count is the same at k = 10 and k = 250") {
    val base = spark.read.parquet(dir)
    val at10 = planNodes(ScdCompiler(base, log(10)).groupBy("seg").count())
    val at250 = planNodes(ScdCompiler(base, log(250)).groupBy("seg").count())
    assert(at10 == at250, s"plan depth grows with the log: $at10 vs $at250")
  }

  test("the executed plan evaluates the replay once, inside a *(n) codegen stage") {
    val view = ScdCompiler(spark.read.parquet(dir), log(30))
    // filters on an unwritten (id) and a written (v) column: the first
    // must reach the scan, neither may copy the replay into a filter
    val q = view.where(col("id") > 2 && col("v") > 50)
    val plan = q.queryExecution.executedPlan.toString
    val replays = plan.linesIterator.filter(_.contains("scd_replay(")).toSeq
    assert(replays.size == 1, s"replay evaluated ${replays.size} times:\n$plan")
    assert(replays.head.trim.matches("""^[+:\- ]*\*\(\d+\) .*"""),
      s"replay outside whole-stage codegen:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,2)]"),
      s"unwritten-column filter not pushed:\n$plan")
    // the summary string, not the statement trees
    assert(replays.head.contains("scd_replay(stmts=30, deletes=10, writes=[v, seg])"),
      replays.head)
    val want = ScdCompiler(spark.read.parquet(dir), log(30)).collect()
      .filter(r => r.getLong(0) > 2 && r.getLong(1) > 50)
    assert(q.collect().sortBy(_.getLong(0)).toSeq == want.sortBy(_.getLong(0)).toSeq)
  }

  test("a DELETE over never-written columns filters below the replay, at the scan") {
    val stmts = UpdatesParser.parse(
      """UPDATE t SET v = v + 1 WHERE id > 3;
        |DELETE FROM t WHERE id % 7 = 0;
        |DELETE FROM t WHERE v > 150;
        |""".stripMargin, Long.MaxValue).statements
    val view = ScdCompiler(spark.read.parquet(dir), stmts)
    val plan = view.queryExecution.executedPlan.toString
    assert(plan.contains("scd_replay(stmts=2, deletes=1"), plan)
    assert("DataFilters: \\[[^\\]]*\\(id#\\d+L % 7\\)".r.findFirstIn(plan).nonEmpty, plan)
    val want = (1 to 20).map(i => (i.toLong, if (i > 3) i * 10L + 1 else i * 10L))
      .filter { case (id, v) => id % 7 != 0 && v <= 150 }
    assert(view.select("id", "v").as[(Long, Long)].collect().sorted.toSeq == want)
  }

  test("interpreted-only statement parts read the current slot values") {
    // reflect() has no generated code: it evaluates against a row copy
    // of the slots, which must carry the first statement's write
    val stmts = UpdatesParser.parse(
      """UPDATE t SET v = v + 1;
        |UPDATE t SET seg = reflect('java.lang.String', 'valueOf', v) WHERE id = 3;
        |UPDATE t SET v = v * 2 WHERE seg = '31';
        |""".stripMargin, Long.MaxValue).statements
    val got = ScdCompiler(spark.read.parquet(dir), stmts).where(col("id") <= 4)
      .orderBy("id").select("v", "seg").as[(Long, String)].collect().toSeq
    assert(got == Seq((11L, "B"), (21L, "A"), (62L, "31"), (41L, "A")))
  }

  test("a query reading no written column prunes the replay away") {
    val stmts = log(30).filter(_.isInstanceOf[ScdUpdate])
    val plan = ScdCompiler(spark.read.parquet(dir), stmts).select("id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("scd_replay("), plan)
    assert(plan.contains("ReadSchema: struct<id:bigint>"), plan)
  }

  test("1 000 same-column SETs write to parquet (past the old stack cliffs)") {
    // the per-statement chain overflowed the stack here (analysis of a
    // 1 000-deep projection chain; codegen of nested same-column SETs
    // from ~400)
    val stmts = UpdatesParser.parse(
      (1 to 1000).map(_ => "UPDATE t SET v = v + 1;").mkString("\n"),
      Long.MaxValue).statements
    val out = Files.createTempDirectory("fusedreplay1k").toString
    spark.conf.set(ScdCompiler.MaxReplayStatementsConf, "1000")
    try ScdCompiler(spark.read.parquet(dir), stmts)
      .write.mode("overwrite").parquet(out)
    finally spark.conf.unset(ScdCompiler.MaxReplayStatementsConf)
    val got = spark.read.parquet(out).orderBy("id").select("v").as[Long].collect()
    assert(got.toSeq == (1 to 20).map(_ * 10L + 1000))
  }
}
