package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Count-min sketch (Cormode–Muthukrishnan) as a mergeable
  * `TypedImperativeAggregate` — the third member of the sketch tier
  * ([[MisraGries]] frequent items, [[KmvDistinct]] distinct count): a
  * fixed `depth x width` counter grid answering point frequency queries
  * with one-sided error (estimate >= true count, overshoot bounded by
  * n/width per row with probability 1 - 2^-depth).
  *
  * Scale shape: the sketch builds in ONE pass with constant state —
  * partial grids merge by elementwise addition (associative/commutative,
  * so Spark runs partial+final like any agg), where the equivalent
  * GROUP-BY formulation explodes every row into `depth` (row, bucket)
  * pairs and shuffles them. Grids for different days/shards OR together
  * the same way at 100 TB.
  *
  * Determinism (oracle-hash-proof): bucket j of item s is the first 8 hex
  * chars of md5("j:s") mod width — exactly `conv(substr(md5(...),1,8),16,
  * 10) % width` in Spark SQL and `CAST('0x'||substring(md5(...),1,8) AS
  * BIGINT) % width` in DuckDB (the q107 hex→int idiom), so an external
  * engine can rebuild the identical grid with a GROUP BY and the counter
  * values (exact sums) hash-match regardless of partitioning.
  *
  * Output: array<long> of depth*width counters, row-major. */
case class CountMinSketch(child: Expression, depth: Int, width: Int,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cms_sketch"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  /** First 8 hex chars of md5("j:s") as an unsigned 32-bit value, mod
    * width — byte-identical to the SQL `conv(substr(md5(..),1,8),16,10)`
    * both engines compute. */
  private def bucket(j: Int, s: String): Int = {
    val d = MessageDigest.getInstance("MD5")
      .digest((j.toString + ":" + s).getBytes(StandardCharsets.UTF_8))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (v % width).toInt
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.toString
      var j = 0
      while (j < depth) { buf(j * width + bucket(j, s)) += 1L; j += 1 }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(offset: Int): CountMinSketch =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CountMinSketch =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CountMinSketch =
    copy(child = c.head)
}
