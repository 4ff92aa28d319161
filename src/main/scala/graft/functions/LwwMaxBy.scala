package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.types.{DataType, StructType}

/** LWW winner buffer: best (rank, seq) seen and its payload row. */
final class LwwBuffer(
    var rank: Long,
    var seq: Long,
    var payload: UnsafeRow)

/** `max_by(payload, (rank, seq))` as a TypedImperativeAggregate — the custom
  * aggregate SURVEY.md §2 Part B reserved "if max_by(struct) proves hot":
  * the built-in `max_by` over a struct ordering key plans as SortAggregate
  * (struct buffers are hash-agg-ineligible), which sorts every map partition
  * of the batch. This object-buffer form is ObjectHashAggregate-eligible,
  * with the same map-side partial combine (the shuffle still carries one
  * candidate per key per partition). It is one hash probe per event only
  * while a task holds at most
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (default
  * 128) distinct keys: past that, the task sorts its remaining input and
  * aggregates sort-based. At catch-up shapes (1.1 M events, ~600 k keys
  * over 8 tasks) every task falls back; raising the threshold to 262 k
  * keeps one buffer object per key in memory and measured ~55 % slower.
  *
  * Semantics: keeps the payload of the row with the lexicographically
  * greatest (rank, seq); both orderings are LONGs (vgtid rank, event_seq).
  */
case class LwwMaxBy(
    payload: Expression,
    rank: Expression,
    seq: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LwwBuffer] with TernaryLike[Expression] {

  private lazy val payloadSchema = payload.dataType.asInstanceOf[StructType]
  @transient private lazy val toUnsafe = UnsafeProjection.create(payloadSchema)

  override def dataType: DataType = payload.dataType
  override def nullable: Boolean = true

  override def first: Expression = payload
  override def second: Expression = rank
  override def third: Expression = seq

  override def createAggregationBuffer(): LwwBuffer =
    new LwwBuffer(Long.MinValue, Long.MinValue, null)

  private def better(b: LwwBuffer, r: Long, s: Long): Boolean =
    r > b.rank || (r == b.rank && s > b.seq)

  override def update(b: LwwBuffer, input: InternalRow): LwwBuffer = {
    val r = rank.eval(input)
    val s = seq.eval(input)
    if (r != null && s != null) {
      val rl = r.asInstanceOf[Long]
      val sl = s.asInstanceOf[Long]
      if (better(b, rl, sl)) {
        val p = payload.eval(input)
        if (p != null) {
          b.rank = rl
          b.seq = sl
          // fast path: a payload that is ALREADY an UnsafeRow (the struct
          // was built by the codegen'd child projection, so `payload` here
          // is just a bound reference) copies as one buffer memcpy instead
          // of a field-by-field UnsafeProjection re-encode
          b.payload = p match {
            case u: UnsafeRow => u.copy()
            case row: InternalRow => toUnsafe(row).copy()
          }
        }
      }
    }
    b
  }

  override def merge(b: LwwBuffer, other: LwwBuffer): LwwBuffer = {
    if (other.payload != null && better(b, other.rank, other.seq)) {
      b.rank = other.rank
      b.seq = other.seq
      b.payload = other.payload
    }
    b
  }

  override def eval(b: LwwBuffer): Any = b.payload

  override def serialize(b: LwwBuffer): Array[Byte] = {
    if (b.payload == null) Array.emptyByteArray
    else {
      val rowBytes = b.payload.getBytes
      val out = java.nio.ByteBuffer.allocate(16 + rowBytes.length)
      out.putLong(b.rank).putLong(b.seq).put(rowBytes)
      out.array()
    }
  }

  override def deserialize(bytes: Array[Byte]): LwwBuffer = {
    if (bytes.isEmpty) createAggregationBuffer()
    else {
      val in = java.nio.ByteBuffer.wrap(bytes)
      val r = in.getLong
      val s = in.getLong
      val rowBytes = java.util.Arrays.copyOfRange(bytes, 16, bytes.length)
      val row = new UnsafeRow(payloadSchema.size)
      row.pointTo(rowBytes, rowBytes.length)
      new LwwBuffer(r, s, row)
    }
  }

  override def withNewMutableAggBufferOffset(offset: Int): LwwMaxBy =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): LwwMaxBy =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): LwwMaxBy =
    copy(payload = newFirst, rank = newSecond, seq = newThird)
}

object LwwMaxBy {
  /** Column API: `lww_max_by(payload, rank, seq)`. */
  def lww_max_by(payload: Column, rank: Column, seq: Column): Column =
    GraftBridge.column(LwwMaxBy(GraftBridge.expression(payload),
      GraftBridge.expression(rank), GraftBridge.expression(seq))
      .toAggregateExpression())
}
