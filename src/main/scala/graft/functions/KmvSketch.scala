package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** KMV (k-minimum-values) distinct-count sketch as a
  * `TypedImperativeAggregate` (SURVEY.md §4: the mutable-buffer aggregate
  * tier, the shape used for HLL/quantile/theta sketches).
  *
  * Buffer = the k smallest 64-bit hashes seen. Buffers merge by
  * union+truncate — associative and commutative, so Spark runs it
  * partial+final like any hash aggregate and sketches can be OR-ed across
  * days/partitions at 100 TB without rescans. Two finalizers share the
  * buffer machinery:
  *  - [[KmvDistinct]] → the point estimate (k-1)/kth-min (normalized);
  *  - [[KmvMins]] → the raw sorted hash array, the THETA-SKETCH surface:
  *    two groups' arrays support union / intersection / Jaccard estimates
  *    downstream with plain array functions (see
  *    [[graft.text.TextAnalysis.vocabOverlapKmv]]), which is what makes
  *    distinct-set ALGEBRA (not just cardinality) mergeable at scale.
  *
  * Spark's own HLL++ (`approx_count_distinct`) is the production choice for
  * plain counts; HLL sketches do not support intersection — that is the
  * capability the KMV/theta form adds.
  */
abstract class KmvAggBase
    extends TypedImperativeAggregate[java.util.TreeSet[Long]] {

  def child: Expression
  def k: Int

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.TreeSet[Long] =
    new java.util.TreeSet[Long]()

  private def hash64(v: Any): Long = v match {
    case s: UTF8String => org.apache.spark.unsafe.hash.Murmur3_x86_32
      .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42).toLong << 32 |
      (org.apache.spark.unsafe.hash.Murmur3_x86_32
        .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 43).toLong & 0xffffffffL)
    case l: Long => scala.util.hashing.byteswap64(l)
    case i: Int => scala.util.hashing.byteswap64(i.toLong)
    case other => scala.util.hashing.byteswap64(other.hashCode().toLong)
  }

  override def update(buf: java.util.TreeSet[Long], input: InternalRow): java.util.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) {
      // map to non-negative by dropping the sign bit (keeps order semantics)
      val h = hash64(v) & Long.MaxValue
      if (buf.size < k) buf.add(h)
      else if (h < buf.last()) { buf.add(h); if (buf.size > k) buf.pollLast() }
    }
    buf
  }

  override def merge(a: java.util.TreeSet[Long], b: java.util.TreeSet[Long]): java.util.TreeSet[Long] = {
    val it = b.iterator()
    while (it.hasNext) {
      val h = it.next()
      if (a.size < k) a.add(h)
      else if (h < a.last()) { a.add(h); if (a.size > k) a.pollLast() }
    }
    a
  }

  override def serialize(buf: java.util.TreeSet[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    buf.forEach(h => bb.putLong(h))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val s = new java.util.TreeSet[Long]()
    var i = 0
    while (i < n) { s.add(bb.getLong); i += 1 }
    s
  }
}

/** Distinct-count finalizer: estimate = (k-1) / kth-min (normalized to
  * [0,1]); exact when the group carried fewer than k distinct values. */
case class KmvDistinct(child: Expression, k: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends KmvAggBase {

  override def dataType: DataType = LongType
  override def prettyName: String = "kmv_distinct"

  override def eval(buf: java.util.TreeSet[Long]): Any =
    if (buf.size < k) buf.size.toLong
    else {
      val kth = buf.last().toDouble / Long.MaxValue.toDouble
      math.round((k - 1) / kth)
    }

  override def withNewMutableAggBufferOffset(offset: Int): KmvDistinct =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KmvDistinct =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KmvDistinct =
    copy(child = c.head)
}

/** Sketch finalizer: the sorted array of (at most) k minimum hashes — the
  * exchangeable form. Downstream set algebra is pure array functions, so a
  * day's sketches persist as one tiny array column and any pair/group union
  * or intersection estimate never rescans the data. */
case class KmvMins(child: Expression, k: Int,
                   mutableAggBufferOffset: Int = 0,
                   inputAggBufferOffset: Int = 0)
    extends KmvAggBase {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "kmv_mins"

  override def eval(buf: java.util.TreeSet[Long]): Any = {
    val arr = new Array[Any](buf.size)
    var i = 0
    val it = buf.iterator() // TreeSet iterates ascending — already sorted
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override def withNewMutableAggBufferOffset(offset: Int): KmvMins =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KmvMins =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KmvMins =
    copy(child = c.head)
}
