package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import graft.scd.{ScdCompiler, ScdReader, ScdTime, UpdatesParser}
import org.apache.spark.graftbench.Drain
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark client: one closed-loop caller driving graft's public entry
  * points inside one driver JVM.
  *
  * Usage: `Harness <config.json> <result.json>`. The config names the
  * workload, its generated inputs, the run length and whether to trace.
  * The result holds the set-up times, one record per op (latency,
  * result hash, op-specific fields), the peak heap, the run-condition
  * stamp and, when tracing, every span and per-op execution counters.
  * Correctness is judged by the caller against an independent oracle. */
object Harness {
  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(new java.io.File(args(0)))
    val result = new Run(cfg).execute()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(result))
  }

  /** Order-insensitive result hash: each row rendered as its cells'
    * `toString` (NULL as `\N`) joined by U+0001, rows sorted, joined by
    * newlines, SHA-256. The oracle renders its rows the same way. */
  def hashRows(rows: Array[Row]): String = {
    val lines = rows.map { r =>
      (0 until r.length).map(i =>
        if (r.isNullAt(i)) "\\N" else r.get(i).toString).mkString("\u0001")
    }.sorted
    MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  def copyDir(from: String, to: String): Unit = {
    val dst = Paths.get(to)
    Files.createDirectories(dst)
    Files.list(Paths.get(from)).iterator().asScala.foreach { f =>
      Files.copy(f, dst.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

/** One benchmark op's outcome, serialized as-is into the result. */
final class Rec(val kind: String) {
  val fields = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  def update(k: String, v: Any): Unit = fields(k) = v
}

final class Run(cfg: JsonNode) {
  import Harness._

  private val workload = cfg.get("workload").asText
  private val seconds = cfg.get("seconds").asDouble
  private val cores = cfg.get("cores").asInt
  private val work = cfg.get("work").asText
  private val setupReps = cfg.get("setup_reps").asInt
  private val traced = cfg.get("trace").asBoolean
  private val tracer = new Tracer(traced)
  private val counters = new ExecCounters
  private var spark: SparkSession = _

  private def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  private def newSession(): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sources.ScdCatalog")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (traced) s.sparkContext.addSparkListener(counters)
    s
  }

  /** Execution counters accumulated since the listener was attached;
    * deltas of two snapshots bracket one op. */
  private def drained(): Map[String, Long] = {
    Drain(spark.sparkContext)
    counters.snapshot()
  }

  private def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Forces Catalyst's optimization and planning, each in its own span
    * (analysis ran when the Dataset was built). The tracker's analysis
    * time is kept for Datasets built inside an operator, where no span
    * can isolate it. */
  private def plan(df: DataFrame, rec: Rec): Unit = {
    val qe = df.queryExecution
    tracer.span("catalyst.optimization")(qe.optimizedPlan)
    tracer.span("catalyst.planning")(qe.executedPlan)
    if (tracer.on) {
      val analysis = qe.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
      rec("tracker_analysis_ms") = rec.fields.getOrElse("tracker_analysis_ms", 0L)
        .asInstanceOf[Long] + analysis
      rec("plan_nodes") = rec.fields.getOrElse("plan_nodes", 0).asInstanceOf[Int] +
        qe.analyzed.collect { case p => p }.size
      rec("pushed_filters") = rec.fields.getOrElse("pushed_filters", 0).asInstanceOf[Int] +
        pushedFilters(qe.sparkPlan)
    }
  }

  /** Filters offered to the file scans for pushdown. */
  private def pushedFilters(p: SparkPlan): Int =
    p.collect { case s: FileSourceScanExec => s.dataFilters.size }.sum

  private val workloadImpl: Workload = workload match {
    case "scd_longlog_read" => new LongLog
    case "scd_churn_bigscan" => new Churn
    case "pipeline_heavy" => new Pipeline
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def execute(): Map[String, Any] = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def since(): Double = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tMain = since()
    val loadStart = loadAvg()
    val setupS = (0 until setupReps).map { rep =>
      if (spark != null) spark.stop()
      val (_, s) = timed {
        spark = newSession()
        workloadImpl.prepare(rep)
        workloadImpl.warmup()
      }
      s
    }
    workloadImpl.prime()
    val recs = ArrayBuffer.empty[Rec]
    val base = if (traced) drained() else Map.empty[String, Long]
    var peakLiveHeap = 0L
    var heapProbeNs = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      recs ++= workloadImpl.round()
      val p0 = System.nanoTime()
      peakLiveHeap = math.max(peakLiveHeap, liveHeap())
      heapProbeNs += System.nanoTime() - p0
    }
    val wall = (System.nanoTime() - t0 - heapProbeNs) / 1e9
    val tLoop = since()
    val post = workloadImpl.post()
    val tPost = since()
    val loadEnd = loadAvg()
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val out = Map[String, Any](
      "workload" -> workload,
      "setup_s" -> setupS,
      "wall_s" -> wall,
      "peak_heap_mb" -> peakLiveHeap / 1048576.0,
      "ops" -> recs.map(r => r.fields.toMap + ("kind" -> r.kind)),
      "post" -> post,
      "jvm" -> Map(
        "version" -> System.getProperty("java.version"),
        "vm" -> rt.getVmName,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "args" -> rt.getInputArguments.asScala.toSeq),
      "spark" -> Map("version" -> spark.version, "master" -> spark.sparkContext.master),
      "loadavg_jvm" -> Seq(loadStart, loadEnd))
    val traceOut =
      if (!traced) Map.empty
      else Map(
        "spans" -> tracer.spans.map(s => Seq(s.op, s.name, s.startNs, s.endNs, s.parent)),
        "counters_total" -> delta(base, drained()))
    spark.stop()
    out ++ traceOut + ("timeline_s" ->
      Map("main" -> tMain, "loop_end" -> tLoop, "post_end" -> tPost, "stopped" -> since()))
  }

  /** Heap in use after a full collection: the live driver heap. The
    * second collection follows the context cleaner's release of cached
    * blocks whose RDDs the first one found unreachable. */
  private def liveHeap(): Long = {
    System.gc()
    Thread.sleep(50)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private trait Workload {
    /** Installs the fixtures for set-up repetition `rep`. */
    def prepare(rep: Int): Unit
    /** One untimed op of each kind, so codegen and JIT are warm. */
    def warmup(): Unit
    /** A fixed mix of ops; the timed loop runs whole rounds, so every
      * run measures the same mix. After each round, outside the loop's
      * wall time, the live heap is read; its maximum is `peak_heap_mb`. */
    def round(): Seq[Rec]
    /** Untimed work after set-up that fills caches the timed rounds
      * would otherwise fill in their first round. */
    def prime(): Unit = ()
    /** Untimed checks after the timed loop; returned into the result. */
    def post(): Map[String, Any] = Map.empty
  }

  /** JVM-wide garbage-collection time so far; in `local` mode the driver
    * and the executors share the JVM. */
  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  /** Runs `body` as one op: a root span `op.<kind>` and, when tracing,
    * the op's execution-counter delta and GC time. Every op, traced or
    * not, starts once Spark's listener bus has drained, so one op's
    * asynchronous event handling does not land in the next op's latency. */
  private def opRec(kind: String)(body: Rec => Unit): Rec = {
    val rec = new Rec(kind)
    tracer.op += 1
    Drain(spark.sparkContext)
    val before = if (tracer.on) counters.snapshot() else Map.empty[String, Long]
    val gc0 = gcMs()
    val (_, s) = timed(tracer.span(s"op.$kind")(body(rec)))
    rec("lat_s") = s
    if (tracer.on) {
      rec("gc_ms") = gcMs() - gc0
      rec("counters") = delta(before, drained())
    }
    rec
  }

  /** `scd_longlog_read`: as-of reads of a table with a long DML log at a
    * rotating set of cuts, each followed by an aggregate and `collect`. */
  private final class LongLog extends Workload {
    private val baseDir = cfg.get("base").asText
    private val logText = cfg.get("log").asText
    private val cuts = strs(cfg.get("cuts"))
    private val groupBy = cfg.get("group_by").asText
    private val aggs = strs(cfg.get("aggs"))
    private var dir: String = _
    private val used = scala.collection.mutable.Map.empty[Int, String]

    private def agg(df: DataFrame): DataFrame =
      df.groupBy(expr(groupBy)).agg(expr(aggs.head), aggs.tail.map(expr): _*)

    def prepare(rep: Int): Unit = {
      dir = s"$work/tables/customer_$rep"
      copyDir(baseDir, dir)
      Files.writeString(Paths.get(dir, ScdReader.SidecarName), logText)
    }

    def warmup(): Unit = agg(ScdReader.read(spark, dir, asOf = Some(cuts.head))).collect()

    /** One untraced pass over the cuts, so each cut's generated code is
      * cached (the first read at a new cut compiles it). */
    override def prime(): Unit = {
      tracer.on = false
      try cuts.indices.foreach(read) finally tracer.on = traced
    }

    /** Two passes over the cuts: with ten reads the median rests on two
      * reads at the middle cut, not one. */
    def round(): Seq[Rec] = (cuts.indices ++ cuts.indices).map(read)

    private def read(c: Int): Rec =
      opRec("read") { rec =>
        rec("cut") = c
        val rows =
          if (!tracer.on) agg(ScdReader.read(spark, dir, asOf = Some(cuts(c)))).collect()
          else {
            val text = tracer.span("sources.sidecar_read")(ScdReader.readSidecar(spark, dir).get)
            val log = tracer.span("scd.parse")(
              UpdatesParser.parse(text, ScdTime.resolve(Some(cuts(c)), None)))
            val base = tracer.span("sources.base_load")(spark.read.parquet(dir))
            val view = tracer.span("scd.compile")(ScdCompiler(base, log))
            val q = tracer.span("catalyst.analysis")(agg(view))
            plan(q, rec)
            rec("stmts_retained") = log.statements.size
            rec("stmts_gated") = UpdatesParser.parse(text, Long.MaxValue).statements.size -
              log.statements.size
            rec("log_bytes") = text.getBytes(StandardCharsets.UTF_8).length
            tracer.span("exec")(q.collect())
          }
        rec("hash") = hashRows(rows)
        used(c) = rec.fields("hash").toString
      }

    /** The traced run composes the read from its public parts; its hash
      * at one cut (chosen by the seed) must equal `ScdReader.read`'s. */
    override def post(): Map[String, Any] =
      if (!tracer.on) Map.empty
      else {
        val c = cfg.get("seed").asInt.abs % cuts.size
        Map("read_matches_composed" ->
          (hashRows(agg(ScdReader.read(spark, dir, asOf = Some(cuts(c)))).collect()) == used(c)))
      }
  }

  /** `scd_churn_bigscan`: each cycle appends one dated statement with
    * `CALL graft.add_update`, then runs a filtered group-by through the
    * SQL surface, alternating the `graft` catalog and `format("scd")`.
    * A round is `compact_every` cycles and one `CALL graft.compact`;
    * later cycles target the snapshot. */
  private final class Churn extends Workload {
    private val baseDir = cfg.get("base").asText
    private val stmts = cfg.get("stmts").elements().asScala
      .map(n => (n.get("sql").asText, n.get("time").asText)).toIndexedSeq
    private val compactEvery = cfg.get("compact_every").asInt
    private val query = cfg.get("query").asText
    private var dir: String = _
    private var rep = 0
    private var snap = 0
    private var applied = 0

    def prepare(r: Int): Unit = {
      rep = r; snap = 0; applied = 0
      dir = s"$work/tables/lineitem_${rep}_0"
      copyDir(baseDir, dir)
    }

    def warmup(): Unit = {
      append(new Rec("append"))
      read(new Rec("read"), viaCatalog = true)
    }

    private def append(rec: Rec): Unit = {
      val (sql, time) = stmts(applied)
      val row = tracer.span("sources.append")(
        spark.sql(s"""CALL graft.add_update('$dir', "$sql", '$time')""").collect().head)
      applied += 1
      rec("applied") = applied
      rec("log_statements") = row.getLong(1)
      if (tracer.on) rec("log_bytes") = Files.size(Paths.get(dir, ScdReader.SidecarName))
    }

    private def read(rec: Rec, viaCatalog: Boolean): Array[Row] = {
      val table =
        if (viaCatalog) s"graft.`$dir`"
        else {
          tracer.span("sources.load")(
            spark.read.format("scd").load(dir).createOrReplaceTempView("lineitem_scd"))
          "lineitem_scd"
        }
      val q = tracer.span("catalyst.analysis")(spark.sql(query.replace("{table}", table)))
      plan(q, rec)
      val rows = tracer.span("exec")(q.collect())
      rec("applied") = applied
      rec("surface") = if (viaCatalog) "catalog" else "format"
      rec("hash") = hashRows(rows)
      rows
    }

    /** Traced only, outside the op's span: the same replay composed from
      * the public calls, so the `scd` layer's share of a SQL-surface read
      * (which runs inside analysis) is visible. */
    private def probe(rec: Rec): Unit =
      tracer.span("probe.scd") {
        val text = tracer.span("sources.sidecar_read")(ScdReader.readSidecar(spark, dir))
        text.foreach { t =>
          val log = tracer.span("scd.parse")(UpdatesParser.parse(t, Long.MaxValue))
          val base = tracer.span("sources.base_load")(spark.read.parquet(dir))
          tracer.span("scd.compile")(ScdCompiler(base, log))
          rec("stmts_retained") = log.statements.size
        }
        if (text.isEmpty) rec("stmts_retained") = 0
        rec("stmts_gated") = 0
      }

    def round(): Seq[Rec] = {
      val cycles = (0 until compactEvery).flatMap { i =>
        val a = opRec("append")(append)
        val r = opRec("read")(rec => read(rec, viaCatalog = i % 2 == 0))
        if (tracer.on) probe(r)
        Seq(a, r)
      }
      cycles :+ opRec("compact") { rec =>
        snap += 1
        val out = s"$work/tables/lineitem_${rep}_$snap"
        val row = tracer.span("scd.compact")(
          spark.sql(s"CALL graft.compact('$dir', '$out', NULL, true)").collect().head)
        dir = out
        rec("applied") = applied
        rec("rows") = row.getLong(1)
        rec("snapshot") = out
      }
    }
  }

  /** `pipeline_heavy`: one op builds and collects each board row named in
    * the config through `SparkEntry.queries`. */
  private final class Pipeline extends Workload {
    private val dataDir = cfg.get("data").asText
    private val rows = strs(cfg.get("rows"))
    private val refDir = cfg.get("ref").asText
    private val refHash = scala.collection.mutable.Map.empty[String, String]
    private val last = scala.collection.mutable.Map.empty[String, (Array[Row], StructType)]

    def prepare(rep: Int): Unit = ()

    def warmup(): Unit = rows.foreach { r =>
      refHash(r) = hashRows(SparkEntry.queries(r)(spark, dataDir).collect())
    }

    def round(): Seq[Rec] = Seq(opRec("pass") { rec =>
      rows.foreach { r =>
        tracer.span(s"row.$r") {
          val before = if (tracer.on) drained() else Map.empty[String, Long]
          val df = tracer.span("operators.build")(SparkEntry.queries(r)(spark, dataDir))
          if (tracer.on) {
            val sc = spark.sparkContext
            rec(s"$r.build_jobs") = delta(before, drained()).getOrElse("exec.jobs", 0L)
            rec(s"$r.persisted_rdds") = sc.getPersistentRDDs.size
            rec(s"$r.cached_bytes") = sc.getRDDStorageInfo.map(s => s.memSize + s.diskSize).sum
          }
          plan(df, rec)
          val out = tracer.span("exec")(df.collect())
          last(r) = (out, df.schema)
          rec(s"$r.hash") = hashRows(out)
        }
      }
      rec("hash_ok") = rows.forall(r => rec.fields(s"$r.hash") == refHash(r))
    })

    /** The last timed pass's results, written for the oracle compare;
      * every timed pass already matched the set-up reference hash. */
    override def post(): Map[String, Any] = Map(
      "rows" -> rows.map { r =>
        val (out, schema) = last(r)
        spark.createDataFrame(out.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$refDir/$r")
        r -> Map("hash" -> hashRows(out), "ref_hash" -> refHash(r),
          "oracle_sql" -> SparkEntry.oracleSql(r), "parquet" -> s"$refDir/$r")
      }.toMap)
  }
}
