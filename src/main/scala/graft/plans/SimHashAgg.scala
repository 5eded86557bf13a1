package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.{DataType, LongType}

/** One-pass SimHash-64 aggregate: per input token, xxhash64 (seed 42 — the
  * same as the `xxhash64` builtin, so fingerprints match the composed-
  * builtins form bit-for-bit); each hash bit votes +1/-1 into a 64-counter
  * buffer; eval packs the sign vector into the fingerprint long.
  *
  * Replaces the 64-sum-columns formulation (one aggregation buffer of 64
  * ints vs 64 independent sum states per group, one pass over the hash
  * instead of 64 shift-and-mask column expressions).
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[Array[Int]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean         = false
  override def dataType: DataType        = LongType

  override def createAggregationBuffer(): Array[Int] = new Array[Int](64)

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val h = XxHash64Function.hash(v, child.dataType, 42L)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) buf(i) += 1 else buf(i) -= 1
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < 64) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Int]): Any = {
    var fp = 0L
    var i  = 0
    while (i < 64) {
      if (buf(i) > 0) fp |= (1L << i)
      i += 1
    }
    fp
  }

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(64 * 4)
    buf.foreach(bb.putInt)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb  = ByteBuffer.wrap(bytes)
    val buf = new Array[Int](64)
    var i   = 0
    while (i < 64) { buf(i) = bb.getInt(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object SimHashAgg {
  /** Column form: simhash_agg(token) as an aggregate expression. */
  def simhash_agg(tokens: Column): Column =
    GraftColumnBridge.column(
      SimHashAgg(GraftColumnBridge.expression(tokens)).toAggregateExpression())
}
