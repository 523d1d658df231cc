package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bounded-heap top-k aggregate: exactness vs a reference sort (including
  * ties cut mid-group), determinism under partitioning (partial buffers
  * genuinely merge across 8 partitions), and the serde roundtrip Spark
  * uses between partial and final aggregation. */
class TopKBySpec extends SparkSpec {
  import spark.implicits._

  private def refTopK(rows: Seq[(String, Long, Double)], k: Int): Map[String, Seq[(Long, Double)]] =
    rows.groupBy(_._1).view.mapValues {
      _.map { case (_, p, o) => (p, o) }
        .sortBy { case (p, o) => (-o, p) }.take(k)
    }.toMap

  test("matches an exact sort, ties broken toward smallest payload, across 8 partitions") {
    // group a: distinct ords; group b: a tie plateau that the k-cut bisects
    val rows = (1L to 200L).map(i => ("a", i, (i % 37).toDouble)) ++
      (1L to 50L).map(i => ("b", i, if (i <= 40) 7.0 else 9.0))
    val shuffled = new scala.util.Random(42).shuffle(rows)
    val df = spark.sparkContext.parallelize(shuffled, 8).toDF("g", "p", "o")
    val got = df.groupBy("g").agg(expr("top_k_by(p, o, 6)").as("tk"))
      .select(col("g"), col("tk")).as[(String, Seq[(Long, Double)])]
      .collect().toMap
    val want = refTopK(rows, 6)
    assert(got === want)
    // the tie plateau: 10 rows at 9.0 fill first, then 7.0 rows by smallest p
    assert(got("b").take(1) === Seq((41L, 9.0)))
  }

  test("k larger than the group returns the whole group sorted") {
    val df = Seq(("x", 1L, 2.0), ("x", 2L, 1.0)).toDF("g", "p", "o")
    val got = df.groupBy("g").agg(expr("top_k_by(p, o, 10)").as("tk"))
      .select(col("tk")).as[Seq[(Long, Double)]].head()
    assert(got === Seq((1L, 2.0), (2L, 1.0)))
  }

  test("serde roundtrip preserves the heap") {
    val tk = TopKBy(
      org.apache.spark.sql.catalyst.expressions.Literal(1L),
      org.apache.spark.sql.catalyst.expressions.Literal(1.0), 3)
    val buf = tk.createAggregationBuffer()
    buf.add((5.0, 10L)); buf.add((3.0, 20L)); buf.add((5.0, 7L))
    val rt = tk.deserialize(tk.serialize(buf))
    assert(rt.size === 3)
    val a = tk.createAggregationBuffer()
    val merged = tk.merge(a, rt)
    assert(tk.eval(merged).asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
      .numElements() === 3)
  }

  test("wrong arity fails with a clear message") {
    val e = intercept[Exception] {
      Seq((1L, 1.0)).toDF("p", "o").selectExpr("top_k_by(p)").collect()
    }
    assert(e.getMessage.contains("3 arguments") || e.getMessage.contains("top_k_by"))
  }
}
