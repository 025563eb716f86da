package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd longest-equal-run length over a SORTED string array —
  * the max element multiplicity of the underlying multiset, i.e. the
  * count of the most frequent n-gram when fed a sorted n-gram array
  * (the Gopher-style top-fraction repetition signal, LlmOps.repetition).
  *
  * Semantics are exactly the `aggregate` HOF fold it replaces (LlmOpsSpec
  * pins the two bit-equal): adjacent equal elements extend the current
  * run, the answer is the max run seen; empty arrays yield 0. Runs inside
  * whole-stage codegen instead of the interpreted HOF evaluator. Honest
  * measurement (sf0.1, full materialization): ~2.3 s vs the HOF's
  * ~2.5 s — the repetition scan's cost is dominated by the upstream
  * bigram `transform` (itself an interpreted HOF), so this expression
  * removes the fold tier, not the whole per-row cost; its value grows
  * with array length (fold work scales with bigram count, and the
  * native loop does no per-step struct allocation).
  *
  * Null array elements are not expected from `transform` output but are
  * handled as a distinct run value (never equal to a string), matching
  * the HOF's null-propagation-free comparison.
  */
case class TopRun(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_top_run expects array<string>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(a: Any): Any = {
    val ad = a.asInstanceOf[ArrayData]
    val n = ad.numElements()
    var best = 0L
    var run = 0L
    var prev: UTF8String = null
    var i = 0
    while (i < n) {
      val cur = ad.getUTF8String(i)
      run = if (cur != null && cur.equals(prev)) run + 1 else 1L
      if (run > best) best = run
      prev = cur
      i += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val best = ctx.freshName("best")
      val run = ctx.freshName("run")
      val prev = ctx.freshName("prev")
      val cur = ctx.freshName("cur")
      s"""
         |int $n = $a.numElements();
         |long $best = 0L;
         |long $run = 0L;
         |UTF8String $prev = null;
         |for (int $i = 0; $i < $n; $i++) {
         |  UTF8String $cur = $a.getUTF8String($i);
         |  $run = ($cur != null && $cur.equals($prev)) ? $run + 1L : 1L;
         |  if ($run > $best) $best = $run;
         |  $prev = $cur;
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_top_run"
}

object TopRun {

  /** `graft_top_run(sorted)` as a Column. */
  def topRun(sorted: Column): Column = Bridge.column(TopRun(Bridge.expression(sorted)))
}
