package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Bridge

/** Single-pass SimHash bit-vote aggregate:
  * `graft_simhash_agg(h)` over a group of 64-bit token hashes returns
  * the 64-bit SimHash fingerprint — bit b set iff more than half the
  * group's hashes have bit b set.
  *
  * This is the Catalyst-internal aggregate extension point
  * (`TypedImperativeAggregate`): the buffer is a raw `Array[Long](65)`
  * (64 ones-counters + count) mutated in place per input row and merged
  * element-wise across partitions — the map-side-combine shape with ONE
  * 65-long buffer per (group × partition) reaching the shuffle,
  * byte-serialized only at exchange boundaries.
  *
  * Three formulations of the same function are pinned equal in
  * LlmOpsSpec: this aggregate, the 64-column fused `sum((h>>b)&1)` form
  * (whole-stage codegen; used by the `llm_simhash` query), and the
  * naive per-bit row explosion.
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_simhash_agg expects a bigint input, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](65)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var b = 0
      while (b < 64) {
        buf(b) += (h >>> b) & 1L
        b += 1
      }
      buf(64) += 1L
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 65) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    val total = buf(64)
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (buf(b) * 2 > total) fp |= (1L << b)
      b += 1
    }
    fp
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(65 * 8)
    var i = 0
    while (i < 65) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](65)
    var i = 0
    while (i < 65) { buf(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def prettyName: String = "graft_simhash_agg"
}

object SimHashAgg {

  /** `graft_simhash_agg(h)` as an aggregate Column. */
  def simhashAgg(h: Column): Column =
    Bridge.column(SimHashAgg(Bridge.expression(h)).toAggregateExpression())
}
