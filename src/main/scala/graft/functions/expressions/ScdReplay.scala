package graft.functions.expressions

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Nondeterministic, SpecificInternalRow}
import org.apache.spark.sql.types.{BooleanType, DataType, StructField, StructType}

/** One compiled DML statement of an [[ScdReplay]]: the (NULL-safe,
  * guard-ANDed) predicate and the SET right-hand sides, each already
  * cast to its column's type. Column reads inside them are
  * `BoundReference`s to SLOT ordinals, not to the input row. `sets` is
  * (slot, expression); a DELETE has none. */
final case class ScdReplayStmt(
    pred: Expression,
    sets: Seq[(Int, Expression)],
    delete: Boolean)

/** The whole retained `.updates` log as ONE expression: per row, the
  * slots (the columns any statement reads or writes) start at the
  * input values (`inputs`, the only children), then every statement
  * runs in file order over the slots — sequential composition, every
  * SET right-hand side sees the pre-statement slots, a NULL predicate
  * never fires, a firing DELETE clears `alive` and stops the row.
  *
  * Output: a struct of the final WRITTEN slots (`s<slot>`), then with
  * `flags` one `m<i>` per statement (did it fire on a live row — the
  * dry-run stats), then `alive`. The statements are NOT children, so
  * Catalyst never re-walks, re-binds or substitutes into them: analysis
  * and optimization see a leaf-sized expression whatever the log
  * length, and a column a statement reads always means the slot's
  * current value, never the input row's.
  *
  * `compat` is the reference's error policy (SQLUpdater.java:171-174):
  * a statement whose predicate or SET raises drops the row (`alive` =
  * false) instead of failing the query.
  *
  * Codegen keeps each slot in a pair of primitive fields and emits the
  * statements as straight-line code in small generated methods (about
  * `MethodChunkChars` of source each, called through a tree of at most
  * `CallFanOut` calls per method), so no method nears the 64 KB limit or
  * the JIT's 8 000-byte huge-method cut-off at any log length. */
case class ScdReplay(
    inputs: Seq[Expression],
    names: Seq[String],
    stmts: Seq[ScdReplayStmt],
    compat: Boolean,
    flags: Boolean) extends Expression {

  import ScdReplay._

  override def children: Seq[Expression] = inputs

  @transient private lazy val stmtExprs: Seq[Expression] =
    stmts.flatMap(s => s.pred +: s.sets.map(_._2))

  override lazy val deterministic: Boolean =
    inputs.forall(_.deterministic) && stmtExprs.forall(_.deterministic)

  override def nullable: Boolean = false

  /** The slots some statement writes, ascending. */
  @transient private lazy val written: Seq[Int] =
    stmts.flatMap(_.sets.map(_._1)).distinct.sorted

  /** A written slot's field: nullable if its input is, or if any SET
    * into it can yield NULL. */
  override lazy val dataType: StructType = StructType(
    written.map(i => StructField(s"s$i", inputs(i).dataType, inputs(i).nullable ||
      stmts.exists(_.sets.exists { case (s, e) => s == i && e.nullable }))) ++
      (if (flags) stmts.indices.map(j => StructField(s"m$j", BooleanType, false))
       else Nil) :+
      StructField("alive", BooleanType, false))

  private def aliveOrdinal: Int = dataType.length - 1

  private def flagOrdinal(j: Int): Int = written.length + j

  override def prettyName: String = "scd_replay"

  /** A summary, not the statement trees: a long log's `explain()` stays
    * one line. */
  override def toString: String =
    s"$prettyName(stmts=${stmts.size}, deletes=${stmts.count(_.delete)}, " +
      s"writes=[${written.map(names).mkString(", ")}]" +
      (if (compat) ", compat" else "") + (if (flags) ", flags" else "") + ")"

  override def simpleString(maxFields: Int): String = toString

  override def sql: String = toString

  // the interpreted path's statements: nondeterministic leaves need a
  // partition index, which the operator cannot give expressions it
  // does not see
  @transient private lazy val evalStmts: Seq[ScdReplayStmt] = {
    val partition = Option(TaskContext.get()).map(_.partitionId()).getOrElse(0)
    stmtExprs.foreach(_.foreach {
      case n: Nondeterministic => n.initialize(partition)
      case _ =>
    })
    stmts
  }

  override def eval(input: InternalRow): Any = {
    val slots = new GenericInternalRow(inputs.length)
    var i = 0
    while (i < inputs.length) { slots.update(i, inputs(i).eval(input)); i += 1 }
    val out = new GenericInternalRow(dataType.length)
    var alive = true
    var j = 0
    val ss = evalStmts
    while (j < ss.length) {
      val s = ss(j)
      var fire = false
      if (alive) {
        try {
          fire = s.pred.eval(slots) == true
          if (fire) {
            if (s.delete) alive = false
            else {
              val vs = s.sets.map(_._2.eval(slots))
              s.sets.zip(vs).foreach { case ((slot, _), v) => slots.update(slot, v) }
            }
          }
        } catch {
          case _: Exception if compat => alive = false
        }
      }
      if (flags) out.setBoolean(flagOrdinal(j), fire)
      j += 1
    }
    written.zipWithIndex.foreach { case (slot, o) => out.update(o, slots.get(slot, inputs(slot).dataType)) }
    out.setBoolean(aliveOrdinal, alive)
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rowCls = classOf[SpecificInternalRow].getName
    def newRow(name: String, t: StructType): String = {
      val ref = ctx.addReferenceObj(name + "Type", t)
      ctx.addMutableState(rowCls, name, v => s"$v = new $rowCls($ref);")
    }
    val out = newRow("scdOut", dataType)
    val alive = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "scdAlive")
    // the slots, as (isNull, value) field pairs the statements read directly
    val slotVars = inputs.map { e =>
      ExprCode(
        JavaCode.isNullGlobal(ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "scdSlotIsNull")),
        JavaCode.global(ctx.addMutableState(CodeGenerator.javaType(e.dataType), "scdSlot"),
          e.dataType))
    }
    // initial slots, read from the operator's input as usual
    val init = inputs.zip(slotVars).map { case (e, v) =>
      val c = e.genCode(ctx)
      s"""${c.code}
         |${v.isNull} = ${c.isNull};
         |if (!${v.isNull}) ${v.value} = ${c.value};""".stripMargin
    }.mkString("\n")

    // statement code reads the slot fields as its current vars (which
    // also keeps Spark from splitting each predicate into methods of its
    // own — the statement methods below are the split), and no common
    // subexpressions hoisted out of the operator (those would read the
    // input row, not the slots). Interpreted (CodegenFallback) parts
    // read `slots`, a row copy of the fields made just before them.
    val slots = ctx.freshName("slots")
    val slotRow =
      if (stmtExprs.exists(_.find(_.isInstanceOf[CodegenFallback]).isDefined))
        newRow("scdSlotRow", StructType(inputs.indices.map(i =>
          StructField(s"s$i", inputs(i).dataType))))
      else "null"
    val (savedRow, savedVars) = (ctx.INPUT_ROW, ctx.currentVars)
    ctx.INPUT_ROW = slots
    ctx.currentVars = slotVars
    var bodies = Seq.empty[String]
    try ctx.withSubExprEliminationExprs(Map.empty) {
      bodies = stmts.zipWithIndex.map { case (s, j) =>
        stmtCode(ctx, s, j, slots, slotVars, alive, out) }
      Nil
    } finally {
      ctx.INPUT_ROW = savedRow
      ctx.currentVars = savedVars
    }

    def method(body: String): String = {
      val name = ctx.freshName("scdReplay")
      ctx.addNewFunction(name,
        s"""private void $name(InternalRow $slots) {
           |$body
           |}""".stripMargin)
    }
    var calls = chunks(bodies).map(method)
    while (calls.length > CallFanOut)
      calls = calls.grouped(CallFanOut)
        .map(g => method(g.map(f => s"$f($slots);").mkString("\n"))).toSeq
    val results = written.zipWithIndex.map { case (slot, o) =>
      store(out, inputs(slot).dataType, o, slotVars(slot))
    }.mkString("\n")
    ev.copy(
      code = code"""
        |$init
        |$alive = true;
        |${calls.map(f => s"$f($slotRow);").mkString("\n")}
        |$results
        |$out.setBoolean($aliveOrdinal, $alive);""".stripMargin,
      isNull = FalseLiteral,
      value = JavaCode.global(out, dataType))
  }

  private def stmtCode(ctx: CodegenContext, s: ScdReplayStmt, j: Int,
      slots: String, slotVars: Seq[ExprCode], alive: String, out: String): String = {
    val fire = ctx.freshName("fire")
    val fallback = (s.pred +: s.sets.map(_._2))
      .exists(_.find(_.isInstanceOf[CodegenFallback]).isDefined)
    val sync =
      if (!fallback) ""
      else inputs.indices.map(i => store(slots, inputs(i).dataType, i, slotVars(i)))
        .mkString("\n")
    val p = s.pred.genCode(ctx)
    val action =
      if (s.delete) s"$alive = false;"
      else {
        // every right-hand side into locals first, then the writes: SETs
        // see the pre-statement slots
        val vs = s.sets.map { case (slot, e) =>
          val c = e.genCode(ctx)
          val (n, v) = (ctx.freshName("setIsNull"), ctx.freshName("setValue"))
          (slot, n, v, s"""${c.code}
             |boolean $n = ${c.isNull};
             |${CodeGenerator.javaType(e.dataType)} $v = ${c.value};""".stripMargin)
        }
        vs.map(_._4).mkString("\n") + "\n" + vs.map { case (slot, n, v, _) =>
          s"${slotVars(slot).isNull} = $n;\nif (!$n) ${slotVars(slot).value} = $v;"
        }.mkString("\n")
      }
    val body =
      s"""$sync
         |${p.code}
         |$fire = !${p.isNull} && ${p.value};
         |if ($fire) {
         |  $action
         |}""".stripMargin
    val guarded =
      if (compat) s"try {\n$body\n} catch (Exception e) {\n  $alive = false;\n}"
      else body
    s"""boolean $fire = false;
       |if ($alive) {
       |$guarded
       |}""".stripMargin +
      (if (flags) s"\n$out.setBoolean(${flagOrdinal(j)}, $fire);" else "")
  }

  /** Copy a slot's fields into `row` at `ordinal`. Unlike
    * `CodeGenerator.setColumn` it stores strings and other objects by
    * reference, without a per-row copy: the value only has to live until
    * the row's consumers have read it. */
  private def store(row: String, dt: DataType, ordinal: Int, v: ExprCode): String = {
    val set =
      if (CodeGenerator.isPrimitiveType(dt)) CodeGenerator.setColumn(row, dt, ordinal, v.value)
      else s"$row.update($ordinal, ${v.value})"
    s"if (${v.isNull}) $row.setNullAt($ordinal); else $set;"
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ScdReplay = copy(inputs = newChildren)
}

object ScdReplay {

  /** Target source size of one generated statement method. */
  private val MethodChunkChars = 1024

  /** Most calls one generated method makes. */
  private val CallFanOut = 16

  /** Greedy packing of statement bodies into method-sized chunks (a
    * body over the target gets a method of its own). */
  private def chunks(bodies: Seq[String]): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    bodies.foreach { b =>
      if (cur.nonEmpty && cur.length + b.length > MethodChunkChars) {
        out += cur.toString
        cur.clear()
      }
      cur.append(b).append('\n')
    }
    if (cur.nonEmpty) out += cur.toString
    out.result()
  }
}
