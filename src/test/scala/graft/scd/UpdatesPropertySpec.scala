package graft.scd

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.3) over the parser and the
  * compiled replay semantics. Uses scalacheck generators with
  * deterministic seeded sampling (the scalatest-plus bridge isn't in
  * the offline cache). */
class UpdatesPropertySpec extends SparkSpec {

  import scala.jdk.CollectionConverters._

  /** deterministic forAll: n samples from fixed seeds so failures
    * reproduce */
  private def forAll[A](gen: Gen[A], n: Int = 100)(f: A => Unit): Unit =
    (1 to n).foreach { i =>
      val a = gen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      withClue(s"[seed=$i value=$a] ")(f(a))
    }

  // ---- generators ------------------------------------------------------

  private val genTime: Gen[Long] = Gen.chooseNum(0L, 4102444800000L)

  private val genSetExpr: Gen[String] = Gen.oneOf(
    Gen.const("a + 1"), Gen.const("b * 2"), Gen.const("7"),
    Gen.const("a - b"), Gen.const("'x--y'"), Gen.const("abs(b)"))

  private val genWhere: Gen[Option[String]] = Gen.option(Gen.oneOf(
    "a > 3", "b = 0", "a % 2 = 1", "a > 1 AND b < 5"))

  private val genUpdate: Gen[ScdUpdate] = for {
    nSets <- Gen.chooseNum(1, 2)
    cols <- Gen.pick(nSets, Seq("a", "b"))
    exprs <- Gen.listOfN(nSets, genSetExpr)
    where <- genWhere
    t <- genTime
  } yield ScdUpdate("tbl", cols.toSeq.distinct.zip(exprs), where, t)

  private val genDelete: Gen[ScdDelete] = for {
    where <- genWhere
    t <- genTime
  } yield ScdDelete("tbl", where, t)

  private val genStmt: Gen[ScdStatement] = Gen.oneOf(genUpdate, genDelete)

  private val genLog: Gen[List[ScdStatement]] =
    Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n, genStmt))

  /** Render statements back to `.updates` text, each with an explicit
    * numeric time directive and random multi-line splitting. */
  private def render(stmts: Seq[ScdStatement], seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    stmts.map { s =>
      val sql = s match {
        case ScdUpdate(t, sets, where, _) =>
          s"UPDATE $t SET " +
            sets.map { case (c, e) => s"$c = $e" }.mkString(", ") +
            where.fold("")(w => s" WHERE $w") + ";"
        case ScdDelete(t, where, _) =>
          s"DELETE FROM $t" + where.fold("")(w => s" WHERE $w") + ";"
      }
      // random multi-line split at word boundaries
      val words = sql.split(" ")
      val lines = words.foldLeft(List(List.empty[String])) { (acc, w) =>
        if (rnd.nextDouble() < 0.25) List(w) :: acc
        else (acc.head :+ w) :: acc.tail
      }.reverse.map(_.mkString(" ")).filter(_.nonEmpty)
      s"-- time=${s.timeMillis}\n" + lines.mkString("\n")
    }.mkString("\n")
  }

  // ---- parser properties -----------------------------------------------

  test("property: render → parse roundtrips the statement list") {
    forAll(Gen.zip(genLog, Gen.long)) { case (stmts, seed) =>
      val parsed = UpdatesParser.parse(render(stmts, seed), Long.MaxValue)
      assert(parsed.statements == stmts)
    }
  }

  test("property: time gate retains exactly the <=T subsequence, in file order") {
    forAll(Gen.zip(genLog, Gen.long, genTime)) { case (stmts, seed, t) =>
      val parsed = UpdatesParser.parse(render(stmts, seed), t)
      assert(parsed.statements == stmts.filter(_.timeMillis <= t))
    }
  }

  test("property: scdTime = -1 retains nothing") {
    forAll(Gen.zip(genLog, Gen.long)) { case (stmts, seed) =>
      assert(UpdatesParser.parse(render(stmts, seed), ScdTime.Disabled).isEmpty)
    }
  }

  test("property: monotone scdTime ⇒ monotone retained set") {
    forAll(Gen.zip(genLog, Gen.long, genTime, genTime)) {
      case (stmts, seed, t1, t2) =>
        val (lo, hi) = if (t1 <= t2) (t1, t2) else (t2, t1)
        val text = render(stmts, seed)
        val atLo = UpdatesParser.parse(text, lo).statements
        val atHi = UpdatesParser.parse(text, hi).statements
        // everything retained at lo is retained at hi, same relative order
        assert(atHi.filter(_.timeMillis <= lo) == atLo)
        assert(atLo.size <= atHi.size)
    }
  }

  // ---- replay semantics vs a scala-level simulator ---------------------

  private val schema = StructType(Seq(
    StructField("a", IntegerType), StructField("b", IntegerType)))

  /** a nullable (a, b) row */
  private type R = (Option[Int], Option[Int])

  /** simulate one SET right-hand side with the restricted generator
    * grammar above, including the write-back cast into INT */
  private def evalExpr(e: String, a: Option[Int], b: Option[Int]): Option[Int] = e match {
    case "a + 1" => a.map(_ + 1)
    case "b * 2" => b.map(_ * 2)
    case "7" => Some(7)
    case "a - b" => for (x <- a; y <- b) yield x - y
    case "'x--y'" => sys.error("string into int column not simulated")
    case "abs(b)" => b.map(math.abs)
    // decimal product cast back to INT truncates toward zero
    case "b * 1.5" => b.map(y => (BigDecimal(y) * BigDecimal("1.5")).toInt)
    case "'12'" => Some(12)
  }

  /** SQL three-valued logic: a statement fires only on TRUE, so any
    * NULL operand means "does not fire" */
  private def evalWhere(w: Option[String], a: Option[Int], b: Option[Int]): Boolean = w match {
    case None => true
    case Some("a > 3") => a.exists(_ > 3)
    case Some("b = 0") => b.contains(0)
    case Some("a % 2 = 1") => a.exists(_ % 2 == 1)
    case Some("a > 1 AND b < 5") => a.exists(_ > 1) && b.exists(_ < 5)
    case Some(other) => sys.error(s"unsimulated: $other")
  }

  private def simulate(rows: Seq[R], stmts: Seq[ScdStatement],
      guard: R => Boolean = _ => true): Seq[R] =
    stmts.foldLeft(rows) { (rs, s) =>
      s match {
        case ScdUpdate(_, sets, where, _) =>
          rs.map { case r @ (a, b) =>
            if (!guard(r) || !evalWhere(where, a, b)) r
            else sets.foldLeft(r) { case ((na, nb), (c, e)) =>
              // all RHS see PRE-statement values (a, b)
              val v = evalExpr(e, a, b)
              if (c == "a") (v, nb) else (na, v)
            }
          }
        case ScdDelete(_, where, _) =>
          rs.filterNot { case r @ (a, b) => guard(r) && evalWhere(where, a, b) }
      }
    }

  private val genIntLog: Gen[List[ScdStatement]] = {
    val intExpr = Gen.oneOf("a + 1", "b * 2", "7", "a - b", "abs(b)",
      "b * 1.5", "'12'")
    val upd = for {
      nSets <- Gen.chooseNum(1, 2)
      cols <- Gen.pick(nSets, Seq("a", "b"))
      exprs <- Gen.listOfN(nSets, intExpr)
      where <- genWhere
    } yield ScdUpdate("tbl", cols.toSeq.distinct.zip(exprs), where, 0L)
    val del = genWhere.map(w => ScdDelete("tbl", w, 0L))
    Gen.chooseNum(0, 5).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(3 -> upd, 1 -> del)))
  }

  private val genRows: Gen[List[R]] = {
    val v = Gen.option(Gen.chooseNum(-5, 9))
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, Gen.zip(v, v)))
  }

  private def frame(rows: Seq[R]) = spark.createDataFrame(
    rows.map { case (a, b) =>
      Row(a.map(Int.box).orNull, b.map(Int.box).orNull) }.asJava, schema)

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[R] =
    df.collect().map(r => (Option.when(!r.isNullAt(0))(r.getInt(0)),
      Option.when(!r.isNullAt(1))(r.getInt(1)))).toSeq.sortBy(_.toString)

  /** the replay's interpreted fallback (no whole-stage or expression
    * codegen) */
  private def interpreted[T](body: => T): T = {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("property: compiled replay == scala simulator (sequential composition)") {
    forAll(Gen.zip(genRows, genIntLog), n = 15) { case (rows, stmts) =>
      val want = simulate(rows, stmts).sortBy(_.toString)
      assert(sorted(ScdCompiler(frame(rows), stmts)) == want)
      if (stmts.size % 2 == 1)
        assert(interpreted(sorted(ScdCompiler(frame(rows), stmts))) == want)
    }
  }

  test("property: guarded replay == simulator with the guard on every statement") {
    import org.apache.spark.sql.functions.col
    forAll(Gen.zip(genRows, genIntLog), n = 8) { case (rows, stmts) =>
      // the guard reads the CURRENT row, like a statement predicate; a
      // NULL guard never fires
      val got = sorted(ScdCompiler(frame(rows), stmts, col("b") >= 0))
      assert(got == simulate(rows, stmts, _._2.exists(_ >= 0)).sortBy(_.toString))
    }
  }

  test("property: compat error policy ≡ default when no expression errors") {
    forAll(Gen.zip(genRows, genIntLog), n = 10) { case (rows, stmts) =>
      val df = frame(rows)
      assert(sorted(ScdCompiler.compat(df, stmts)) == sorted(ScdCompiler(df, stmts)))
    }
  }

  test("property: empty log is identity; unconditional DELETE empties") {
    forAll(genRows, n = 8) { rows =>
      val df = frame(rows)
      assert(ScdCompiler(df, Nil).collect().length == rows.size)
      assert(ScdCompiler(df, Seq(ScdDelete("t", None, 0L))).collect().isEmpty)
    }
  }
}
