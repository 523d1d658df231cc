package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters sketch as a `TypedImperativeAggregate` — the
  * frequent-items summary a pretraining pipeline uses to surface repeated
  * boilerplate (navigation chrome, license headers, templated spam) without
  * a full `GROUP BY` over a 100 TB token stream.
  *
  * Buffer = at most `capacity` (item → counter) entries. Update is the
  * classic MG step (increment if tracked, insert if room, else decrement
  * every counter); merge follows Agarwal et al., "Mergeable Summaries"
  * (PODS'12): sum counters, then subtract the (capacity+1)-th largest
  * counter and drop non-positives — associative/commutative, so Spark runs
  * it partial+final and sketches OR across days/partitions.
  *
  * Guarantee (preserved under merging): every item with true frequency
  * f > n/(capacity+1) of the n processed rows is present in the final
  * sketch, and each surviving counter underestimates its item's true count
  * by at most n/(capacity+1). Counter VALUES depend on processing order, so
  * the deterministic pattern is sketch-candidates → exact verify (the q78
  * shape): the sketch bounds the candidate set to ≤ capacity items, the
  * exact pass touches only those.
  *
  * Output: array of (item, count_lo) structs, count desc then item asc —
  * deterministic GIVEN a buffer (the buffer itself is order-dependent). */
case class MisraGries(child: Expression, capacity: Int,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.HashMap[String, Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("count_lo", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "heavy_hitters"

  override def createAggregationBuffer(): java.util.HashMap[String, Long] =
    new java.util.HashMap[String, Long]()

  private def decrementAll(buf: java.util.HashMap[String, Long], by: Long): Unit = {
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val nv = e.getValue - by
      if (nv <= 0L) it.remove() else e.setValue(nv)
    }
  }

  override def update(buf: java.util.HashMap[String, Long],
                      input: InternalRow): java.util.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.toString
      val cur = buf.get(s)
      if (cur != 0L || buf.containsKey(s)) buf.put(s, cur + 1L)
      else if (buf.size < capacity) buf.put(s, 1L)
      else decrementAll(buf, 1L)
    }
    buf
  }

  override def merge(a: java.util.HashMap[String, Long],
                     b: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
    val bit = b.entrySet().iterator()
    while (bit.hasNext) {
      val e = bit.next()
      // a.get on a missing key unboxes null to 0L — counters are always >0
      a.put(e.getKey, a.get(e.getKey) + e.getValue)
    }
    if (a.size > capacity) {
      // subtract the (capacity+1)-th largest counter from everything and
      // drop non-positives: at most `capacity` entries survive, and total
      // error stays bounded by n/(capacity+1) (Mergeable Summaries, §3)
      val counts = new Array[Long](a.size)
      var i = 0
      val it = a.values().iterator()
      while (it.hasNext) { counts(i) = it.next(); i += 1 }
      java.util.Arrays.sort(counts)
      val offset = counts(a.size - capacity - 1)
      decrementAll(a, offset)
    }
    a
  }

  override def eval(buf: java.util.HashMap[String, Long]): Any = {
    val entries = new Array[(String, Long)](buf.size)
    var i = 0
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next(); entries(i) = (e.getKey, e.getValue); i += 1
    }
    val sorted = entries.sortBy { case (item, c) => (-c, item) }
    new GenericArrayData(sorted.map { case (item, c) =>
      InternalRow(UTF8String.fromString(item), c)
    })
  }

  override def serialize(buf: java.util.HashMap[String, Long]): Array[Byte] = {
    var bytes = 4
    val items = new Array[(Array[Byte], Long)](buf.size)
    var i = 0
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val b = e.getKey.getBytes(StandardCharsets.UTF_8)
      items(i) = (b, e.getValue)
      bytes += 4 + b.length + 8
      i += 1
    }
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(items.length)
    items.foreach { case (b, c) =>
      bb.putInt(b.length); bb.put(b); bb.putLong(c)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[String, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = new java.util.HashMap[String, Long](n * 2)
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val b = new Array[Byte](len)
      bb.get(b)
      m.put(new String(b, StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(offset: Int): MisraGries =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MisraGries =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MisraGries =
    copy(child = c.head)
}
