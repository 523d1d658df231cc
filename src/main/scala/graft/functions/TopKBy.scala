package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Bounded-heap top-k aggregate: `top_k_by(payload, ord, k)` keeps the k
  * rows with the largest `ord` (ties broken toward the smallest `payload`,
  * so the result is a deterministic function of the input SET) and returns
  * them as an array of (payload, ord) structs, best first.
  *
  * This is the scale answer to per-group top-k: the window-function form
  * (`row_number` over a partition — reference-free engine surface, SURVEY
  * §2.6) must SORT every group in full after shuffling every row, while
  * this aggregate carries at most k entries per group per map task into the
  * shuffle. At 100 TB a hot group may hold billions of rows; partial
  * aggregation caps the exchange at k rows per (task × group) regardless,
  * the same partial+final contract Spark's own `max_by` uses — this is the
  * n-ary generalization Spark lacks.
  *
  * Buffer = min-heap of size ≤ k ordered worst-kept-first; update is
  * O(log k) per row, merge folds the smaller heap into the larger. */
case class TopKBy(payload: Expression, ord: Expression, k: Int,
                  mutableAggBufferOffset: Int = 0,
                  inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.PriorityQueue[(Double, Long)]] {

  override def children: Seq[Expression] = Seq(payload, ord)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("payload", LongType, nullable = false),
    StructField("ord", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "top_k_by"

  // worst-kept entry at the head: smaller ord is worse; on equal ord a
  // LARGER payload is worse (keep-smallest-payload tiebreak)
  private def cmp = new java.util.Comparator[(Double, Long)] {
    override def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(b._2, a._2)
    }
  }

  override def createAggregationBuffer(): java.util.PriorityQueue[(Double, Long)] =
    new java.util.PriorityQueue[(Double, Long)](k.max(1), cmp)

  private def offer(buf: java.util.PriorityQueue[(Double, Long)],
                    e: (Double, Long)): Unit = {
    if (buf.size < k) buf.add(e)
    else if (cmp.compare(e, buf.peek()) > 0) { buf.poll(); buf.add(e) }
  }

  override def update(buf: java.util.PriorityQueue[(Double, Long)],
                      input: InternalRow): java.util.PriorityQueue[(Double, Long)] = {
    val p = payload.eval(input)
    val o = ord.eval(input)
    // integral/floating widths tolerated (int payloads, float ords) — the
    // registered signature documents BIGINT/DOUBLE but eval() widens
    if (p != null && o != null)
      offer(buf, (o.asInstanceOf[Number].doubleValue(),
                  p.asInstanceOf[Number].longValue()))
    buf
  }

  override def merge(a: java.util.PriorityQueue[(Double, Long)],
                     b: java.util.PriorityQueue[(Double, Long)]): java.util.PriorityQueue[(Double, Long)] = {
    val it = b.iterator()
    while (it.hasNext) offer(a, it.next())
    a
  }

  override def eval(buf: java.util.PriorityQueue[(Double, Long)]): Any = {
    val arr = new Array[(Double, Long)](buf.size)
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    // best first: ord desc, payload asc
    val sorted = arr.sortBy { case (o, p) => (-o, p) }
    new GenericArrayData(sorted.map { case (o, p) => InternalRow(p, o) })
  }

  override def serialize(buf: java.util.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) {
      val (o, p) = it.next()
      bb.putDouble(o); bb.putLong(p)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val q = createAggregationBuffer()
    var i = 0
    while (i < n) { q.add((bb.getDouble, bb.getLong)); i += 1 }
    q
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKBy =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKBy =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKBy =
    copy(payload = c(0), ord = c(1))
}
