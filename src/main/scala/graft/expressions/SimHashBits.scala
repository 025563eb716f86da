package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Bridge

/** One-pass SimHash from a token-hash array:
  * `graft_simhash(hs)` over `array<long>` returns the 64-bit majority
  * fingerprint — bit b is set when strictly more than half of the
  * array's elements have bit b set (null elements count toward the
  * total but never toward a bit's ones-count, matching the SQL
  * higher-order-function formulation it replaces, which is kept in
  * [[graft.streaming.Streaming.SimhashFromHashesSql]] and pinned equal
  * in StreamingSpec).
  *
  * Why an Expression (r19 opt, guide §1.2 "per-task work"): the HOF
  * form `aggregate(transform(sequence(0,63), b -> CASE WHEN 2 *
  * size(filter(hs, ...)) > size(hs) ...))` re-scans the hash array 64
  * times per row through interpreted lambda closures; this is one tight
  * JVM pass accumulating 64 counters. Same rationale (and same
  * CodegenFallback posture) as [[MinHashSig]]: the per-row cost is the
  * bit work itself, dwarfing codegen glue.
  */
case class SimHashBits(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects array<bigint>, got ${other.catalogString}")
  }

  override def nullable: Boolean = true

  override protected def nullSafeEval(toks: Any): Any = {
    val arr = toks.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val ones = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var b = 0
        while (b < 64) {
          ones(b) += ((h >>> b) & 1L).toInt
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (2L * ones(b) > n) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash"
}

object SimHashBits {

  /** `graft_simhash(hs)` as a Column. */
  def simhash(hs: Column): Column = Bridge.column(SimHashBits(Bridge.expression(hs)))
}
