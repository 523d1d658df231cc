package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Misra-Gries heavy hitters: the mergeable-summaries guarantees on a
  * skewed stream processed across many partitions (so partial buffers
  * genuinely merge), plus the serde roundtrip Spark uses between
  * partial and final aggregation. */
class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  test("every item above n/(c+1) survives the merged sketch; counters underestimate by <= n/(c+1)") {
    // zipf-ish head + a long tail of singletons, shuffled deterministically
    val rows = ((1 to 50).flatMap(i => Seq.fill(1200 / i)(s"hot_$i")) ++
      (1 to 3000).map(i => s"rare_$i")).sortBy(_.hashCode)
    val df = spark.sparkContext.parallelize(rows, 8).toDF("w")
    val sketch = df.agg(expr("heavy_hitters(w, 20)").as("hh"))
      .select(col("hh")).as[Seq[(String, Long)]].head().toMap
    assert(sketch.size <= 20)
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = rows.size.toLong
    val bound = n / 21 + 1
    // completeness: items over the threshold are guaranteed present
    exact.filter(_._2 > bound).keys.foreach(k =>
      assert(sketch.contains(k), s"guaranteed heavy hitter $k missing"))
    // one-sided error: counter is a lower bound, off by at most n/(c+1)
    sketch.foreach { case (k, cLo) =>
      val f = exact(k)
      assert(cLo <= f, s"$k counter $cLo exceeds true count $f")
      assert(f - cLo <= bound, s"$k undercount ${f - cLo} beyond bound $bound")
    }
  }

  test("serde roundtrip preserves the buffer") {
    val mg = MisraGries(org.apache.spark.sql.catalyst.expressions.Literal("x"), 4)
    val buf = mg.createAggregationBuffer()
    buf.put("alpha", 3L)
    buf.put("βeta", 7L) // non-ASCII survives UTF-8 serde
    val back = mg.deserialize(mg.serialize(buf))
    assert(back === buf)
  }

  test("merge trims to capacity with the (c+1)-th largest offset") {
    val mg = MisraGries(org.apache.spark.sql.catalyst.expressions.Literal("x"), 2)
    val a = mg.createAggregationBuffer()
    a.put("a", 10L); a.put("b", 4L)
    val b = mg.createAggregationBuffer()
    b.put("c", 6L)
    val m = mg.merge(a, b)
    // offset = 3rd largest (4) -> a:6, c:2 survive, b dropped
    assert(m.size <= 2)
    assert(m.get("a") === 6L && m.get("c") === 2L && !m.containsKey("b"))
  }
}
