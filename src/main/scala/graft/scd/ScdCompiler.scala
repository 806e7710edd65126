package graft.scd

import graft.functions.expressions.{ScdReplay, ScdReplayStmt}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, BoundReference, Expression, Generator, PlanExpression, Unevaluable, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.{Column, DataFrame}

/** Compiles a parsed `.updates` log onto a DataFrame as ONE fused,
  * codegen'd replay expression (SURVEY.md §7.1 module 3).
  *
  * Semantic contract (SURVEY.md §2.1 derived invariant):
  * {{{
  * read(dir, scdTime) ==
  *   rawData |> foldLeft over stmts S in FILE ORDER where S.time <= scdTime:
  *     UPDATE t SET a1=e1,... WHERE p  =>  per-row: if p then {ai := ei} else id
  *     DELETE FROM t WHERE p           =>  per-row: if p then drop
  * }}}
  *
  * Key semantics, each verified against the reference:
  *   - statements compose SEQUENTIALLY in file order — statement k+1
  *     sees statement k's output (the reference's one-row H2 table
  *     persists mutations across statements within one apply loop,
  *     SQLUpdater.java:166-170). The replay evaluates the statements in
  *     file order over per-row slots, never as one merged projection.
  *   - within one UPDATE, every SET right-hand side sees the
  *     PRE-statement values (SQL UPDATE semantics): all right-hand
  *     sides are evaluated before any slot is written.
  *   - NULL `WHERE` result must NOT fire the statement (SQL keeps only
  *     TRUE): predicates are wrapped `coalesce(p, false)` before use
  *     (SURVEY.md §7.4.4).
  *   - every SET column is cast back to its original Spark type,
  *     mirroring the reference's positional typed write-back into Avro
  *     fields (AvroSCDInputFormat.java:205-222; SURVEY.md §7.4.6).
  *   - column resolution is case-insensitive (H2 default upper-casing;
  *     Spark's default `spark.sql.caseSensitive=false` — §7.4.7).
  *
  * Scale note: whatever the log length, the compiled plan is the same
  * three nodes over the base — an `Expand` appending the replay
  * struct `__r` ([[graft.functions.expressions.ScdReplay]], the
  * statements resolved once and kept out of the plan tree), a
  * `Filter(__r.alive)` only when a row can be dropped, and a `Project`
  * in which columns no statement writes stay plain attributes and each
  * written column reads `__r`; a DELETE that reads only columns no
  * earlier statement writes is lifted into a filter under them, where
  * it reaches the scan's data filters. It is a NARROW pipeline with zero
  * shuffles inside whole-stage codegen: outer filters on unwritten
  * columns and column pruning reach the file scan, a query reading no
  * written column (and no DELETE retained) drops the replay entirely,
  * and the replay runs once per row (SURVEY.md §4). Plan depth and
  * Catalyst cost are O(1) in the log length; only the one-off
  * statement resolution is linear. The DML text is parsed once on the
  * driver and baked into serialized expressions, so a 1000-executor
  * scan does not re-read `.updates` per task (fixes the reference's
  * acknowledged inefficiency, README.md:233-236).
  */
object ScdCompiler {

  def apply(df: DataFrame, log: ScdLog): DataFrame =
    apply(df, log.statements)

  def apply(df: DataFrame, stmts: Seq[ScdStatement]): DataFrame =
    guarded(df, stmts.map(None -> _))

  /** Guarded replay: every statement fires only where `guard` holds —
    * the per-partition-sidecar path (a partition directory's log must
    * only touch that partition's rows). The guard ANDs into each
    * statement's predicate, so the whole partitioned replay stays ONE
    * narrow scan — no per-partition union, and partition pruning on
    * the guard columns still reaches the source. */
  def apply(df: DataFrame, stmts: Seq[ScdStatement], guard: Column): DataFrame =
    guarded(df, stmts.map(Some(guard) -> _))

  /** Replay where each statement carries its own optional guard (the
    * multi-sidecar read: root statements unguarded, partition
    * statements under their partition predicate). */
  private[graft] def guarded(df: DataFrame,
      stmts: Seq[(Option[Column], ScdStatement)]): DataFrame =
    if (stmts.isEmpty) df
    else view(df, replay(df, stmts, compat = false, flags = false))

  /** Reference-compat error policy (O13, SQLUpdater.java:171-174): the
    * reference catches any SQLException while replaying DML on a record
    * and SKIPS the record — the row is dropped from the scan. The
    * default Spark-idiomatic policy above fails fast instead (ANSI
    * runtime errors surface); this variant reproduces the reference:
    * a row is dropped iff its WHERE predicate raises, or the predicate
    * holds and any SET expression (incl. the write-back cast) raises.
    * Rows the statement doesn't touch are never at risk — H2 does not
    * evaluate SET expressions when the predicate is false. */
  def compat(df: DataFrame, stmts: Seq[ScdStatement]): DataFrame =
    if (stmts.isEmpty) df
    else view(df, replay(df, stmts.map(None -> _), compat = true,
      flags = false))

  /** The replay plan-cost guard's conf key (VERDICT r16 #4). The fused
    * replay keeps plan depth constant in the log length (5 analyzed
    * nodes under a group-by, 6 with lifted DELETEs) and has no stack
    * cliff; what still
    * grows is the one-off resolution of the statements and the
    * generated code. Measured on a 15k-row, 5-col parquet table,
    * local[4], conf raised, a group-by over the view:
    * {{{
    *   k        plan (build+analysis+optimization+planning)  first run   warm run
    *   100      0.30 s   (per-statement chain: 1.8 s)         2.1 s       0.14 s
    *   1 000    0.96 s   (chain: StackOverflowError)          5.5 s       0.29 s
    *   10 000   5.9 s                                         36 s        0.02 s
    * }}}
    * (plan: median of 3 after a warm-up; the first run adds compiling
    * the generated code.) The cap is kept so that a log nobody compacts
    * fails loud with the remedy named — the log LIFECYCLE the reference
    * itself prescribes (README.md:239-244): [[ScdReader.compact]]
    * replays once, writes back, and `clearLog = true` truncates the
    * sidecar. Raise the conf knowingly. */
  val MaxReplayStatementsConf = "spark.graft.scd.maxReplayStatements"

  /** Default cap: 250 statements. Before fusion it bounded a
    * superlinear analyzer cost and two -Xss-dependent stack cliffs
    * (transform recursion over a k-deep projection chain, and codegen
    * recursion over same-column SETs nested by CollapseProject); the
    * fused replay has neither, so 250 is now a policy value with wide
    * margin (see the table above) — raising it is a measured follow-up. */
  val MaxReplayStatementsDefault = 250

  private[graft] def guardReplaySize(df: DataFrame, n: Int): Unit = {
    val max = df.sparkSession.conf
      .get(MaxReplayStatementsConf, MaxReplayStatementsDefault.toString)
      .toInt
    if (n > max) throw new IllegalStateException(
      s"SCD replay of $n statements exceeds $MaxReplayStatementsConf=" +
        s"$max: the log has gone uncompacted, and every read pays a " +
        "plan build and a generated-code compile that grow with its " +
        "length (measured: ~1 s to plan and ~5 s to first run at 1k " +
        "statements, ~6 s and ~36 s at 10k). Compact the log — " +
        "ScdReader.compact(dir, out, clearLog = true) replays once, " +
        "writes the result back and truncates the sidecar (the " +
        "reference's own prescribed lifecycle) — or raise the conf " +
        "knowingly.")
  }

  /** Predicate wrapped so NULL never fires a statement. */
  private def pred(where: Option[String]) =
    where.map(w => coalesce(expr(w), lit(false))).getOrElse(lit(true))

  /** DRY-RUN statistics: how many rows each statement would touch,
    * honoring sequential composition (statement k's predicate runs
    * against statement k-1's output; a DELETE's victims stop matching
    * later statements). The replay's per-statement match flags feed ONE
    * aggregation pass over the table — no row is dropped, no
    * per-statement job and no second scan. Output: (stmt_idx, verb,
    * n_matched). */
  def stats(df: DataFrame, stmts: Seq[ScdStatement]): DataFrame = {
    val spark = df.sparkSession
    if (stmts.isEmpty)
      return spark.range(0).select(col("id").as("stmt_idx"),
        lit("").as("verb"), col("id").as("n_matched"))
    val r = col(ReplayCol)
    val aggCols = stmts.indices.map(i =>
      sum(when(r.getField(s"m$i"), 1L).otherwise(0L)).as(s"n_$i"))
    val one = replay(df, stmts.map(None -> _), compat = false, flags = true)
      ._1.agg(aggCols.head, aggCols.drop(1): _*)
    val verbs = stmts.map {
      case _: ScdUpdate => "UPDATE"
      case _: ScdDelete => "DELETE"
    }
    val stackArgs = stmts.indices
      .map(i => s"CAST($i AS BIGINT), '${verbs(i)}', coalesce(n_$i, 0L)")
      .mkString(", ")
    one.select(expr(
      s"stack(${stmts.size}, $stackArgs) AS (stmt_idx, verb, n_matched)"))
  }

  /** Most DELETEs lifted out of the replay into the scan-side filter.
    * That filter is one generated method with a branch per predicate,
    * so it stays a handful — far below the JIT's huge-method limit — and
    * the rest run inside the replay's split methods. */
  private val MaxHoistedDeletes = 16

  /** The replay struct's column name. */
  private val ReplayCol = "__r"

  /** `df` plus the replay struct [[ReplayCol]] of the statements, each
    * under its optional guard, and the replay expression itself. The
    * statement expressions are resolved against `df` in ONE analysis,
    * finished for evaluation, and bound to the slots (the columns they
    * read or write) — the plan only ever sees the slot columns. */
  private def replay(df: DataFrame, stmts: Seq[(Option[Column], ScdStatement)],
      compat: Boolean, flags: Boolean): (DataFrame, ScdReplay) = {
    guardReplaySize(df, stmts.size)
    val fields = df.schema.fields
    // per statement: predicate, (column index, SET) in schema order —
    // the first SET of a column wins — and whether it deletes
    val shapes = stmts.map { case (guard, stmt) =>
      stmt match {
        case ScdUpdate(_, sets, where, _) =>
          // a SET column that resolves to nothing is a DML bug — fail
          // like the reference's H2 statement prepare would (unknown
          // column error, SQLUpdater.java:82-89), in every mode, never
          // silently no-op (ADVICE r01)
          sets.foreach { case (c, _) =>
            if (!fields.exists(_.name.equalsIgnoreCase(c)))
              throw new IllegalStateException(
                s"UPDATE SET references unknown column '$c' " +
                  s"(schema: ${df.schema.fieldNames.mkString(", ")})")
          }
          val cols = fields.indices.flatMap { i =>
            sets.collectFirst { case (c, e) if c.equalsIgnoreCase(fields(i).name) =>
              i -> expr(e).cast(fields(i).dataType)
            }
          }
          (guardedPred(guard, where), cols, false)
        case ScdDelete(_, where, _) => (guardedPred(guard, where), Nil, true)
      }
    }
    val input = df.queryExecution.analyzed.output
    val all = shapes.flatMap { case (p, sets, _) => p +: sets.map(_._2) }
    val resolved = df.select(all.zipWithIndex.map { case (c, i) => c.as(s"_$i") }: _*)
      .queryExecution.analyzed match {
        case Project(list, _) => CatalystBridge.finishAnalysis(
          df.sparkSession, list.map { case Alias(e, _) => e }, input)
        case other => throw new IllegalStateException(
          s"SCD statements must be per-row scalar expressions, got plan:\n$other")
      }
    val inputIds = input.map(_.exprId).toSet
    resolved.foreach { e =>
      e.find {
        case a: Attribute => !inputIds(a.exprId)
        case _: PlanExpression[_] | _: AggregateExpression | _: Generator |
            _: WindowExpression | _: Unevaluable => true
        case _ => false
      }.foreach(bad => throw new IllegalStateException(
        s"SCD statement expression is not a per-row scalar over the table: $bad"))
    }

    val next = resolved.iterator
    val parts = shapes.map { case (pc, sets, del) =>
      (pc, next.next(), sets.map { case (i, _) => i -> next.next() }, del)
    }
    // a DELETE reading only columns no earlier statement writes drops
    // the same rows from the input as at its place in the log: the
    // first MaxHoistedDeletes of them become a filter under the replay
    // — a data filter at the scan, in log order, where the per-statement
    // chain had them too — and their rows skip the replay. Not in compat
    // mode (their errors must drop rows, not fail) nor for the stats
    // (their matches are counted).
    var writtenBefore = Set.empty[Int]
    var nHoisted = 0
    val (hoisted, kept) = parts.partition { case (_, p, sets, del) =>
      val hoist = !compat && !flags && del && nHoisted < MaxHoistedDeletes &&
        !p.references.exists(a => writtenBefore(input.indexWhere(_.exprId == a.exprId)))
      writtenBefore ++= sets.map(_._1)
      if (hoist) nHoisted += 1
      hoist
    }
    val base =
      if (hoisted.isEmpty) df
      else df.where(hoisted.map { case (pc, _, _, _) => !pc }.reduce(_ && _))

    // slots: the columns the replayed statements read or write, in
    // schema order
    val written = kept.flatMap(_._3.map(_._1)).toSet
    val read = kept.flatMap { case (_, p, sets, _) =>
      (p +: sets.map(_._2)).flatMap(_.references.map(_.exprId)) }.toSet
    val slotIdx = input.indices.filter(i => written(i) || read(input(i).exprId))
    val slotOf = slotIdx.zipWithIndex.map { case (i, s) => input(i).exprId -> s }.toMap
    val unbound = kept.map { case (_, p, sets, del) =>
      (p, sets.map { case (i, e) => slotOf(input(i).exprId) -> e }, del)
    }
    // a SET can turn a slot NULL even over a non-null column, so slot
    // nullability is a fixpoint over the SETs
    val nullable = slotIdx.map(i => input(i).nullable).toArray
    def bind(e: Expression): Expression = e.transform {
      case a: AttributeReference if slotOf.contains(a.exprId) =>
        val s = slotOf(a.exprId)
        BoundReference(s, a.dataType, nullable(s))
    }
    var changed = true
    while (changed) {
      changed = false
      for ((_, sets, _) <- unbound; (s, e) <- sets)
        if (!nullable(s) && bind(e).nullable) { nullable(s) = true; changed = true }
    }
    val program = unbound.map { case (p, sets, del) =>
      ScdReplayStmt(bind(p), sets.map { case (s, e) => s -> bind(e) }, del)
    }
    val rep = ScdReplay(slotIdx.map(input), slotIdx.map(fields(_).name),
      program, compat, flags)
    (CatalystBridge.appendOnce(base, rep, ReplayCol), rep)
  }

  /** Statement predicate under an optional partition guard. A guard
    * comparing against a NULL partition value yields NULL, and
    * filtering on NOT NULL would DROP the row (a seg=A log deleting the
    * null partition's rows): a NULL guard means "not my partition". */
  private def guardedPred(guard: Option[Column], where: Option[String]): Column =
    guard.fold(pred(where))(g => coalesce(g, lit(false)) && pred(where))

  /** The as-of view over a replay: rows a DELETE (or, in compat mode,
    * an error) dropped are filtered out, unwritten columns stay the
    * input's own attributes, written columns read the replay's slots. */
  private def view(df: DataFrame, replayed: (DataFrame, ScdReplay)): DataFrame = {
    val (withReplay, rep) = replayed
    val r = col(ReplayCol)
    val kept =
      if (rep.compat || rep.stmts.exists(_.delete)) withReplay.where(r.getField("alive"))
      else withReplay
    val written = rep.stmts.flatMap(_.sets.map(_._1)).toSet
    val slotOf = rep.inputs.zipWithIndex.collect {
      case (a: Attribute, s) if written(s) => a.exprId -> s
    }.toMap
    kept.select(df.queryExecution.analyzed.output.map { a =>
      slotOf.get(a.exprId) match {
        case Some(s) => r.getField(s"s$s").as(a.name)
        case None => CatalystBridge.columnOf(a)
      }
    }: _*)
  }
}
