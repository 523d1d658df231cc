package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.Tables

class KmvSketchSpec extends SparkSpec {
  import spark.implicits._

  test("kmv_distinct is exact below k and within ~10% above") {
    // exact regime: 100 distinct values, k=256
    val small = spark.range(100).select((col("id") % 100).as("v"))
    val exactSmall = small.selectExpr("kmv_distinct(v, 256)").head().getLong(0)
    assert(exactSmall === 100L)
    // sketch regime: 10k distinct, k=256 → ±10% expected (σ ≈ 1/√k)
    val big = spark.range(10000).select(col("id").as("v")).repartition(8)
    val est = big.selectExpr("kmv_distinct(v, 256)").head().getLong(0)
    assert(math.abs(est - 10000.0) / 10000.0 < 0.15, s"estimate $est too far from 10000")
  }

  test("kmv_distinct merges across partitions (partial+final aggregation)") {
    val ev = Tables.events(spark, sfDir)
    val plan = ev.groupBy("event_type").agg(expr("kmv_distinct(user_id, 256)").as("u"))
    val phys = plan.queryExecution.executedPlan.toString
    assert(phys.contains("partial_kmv_distinct"), phys)
    val got = plan.as[(String, Long)].collect().toMap
    val exact = ev.groupBy("event_type").agg(countDistinct("user_id").cast("long").as("u"))
      .as[(String, Long)].collect().toMap
    // ≤ ~150 distinct users per type: below k, estimates are exact
    assert(got === exact)
  }

  test("string inputs hash consistently regardless of partitioning") {
    val d = Tables.documents(spark, sfDir)
    val a = d.repartition(1).selectExpr("kmv_distinct(lang, 64)").head().getLong(0)
    val b = d.repartition(7).selectExpr("kmv_distinct(lang, 64)").head().getLong(0)
    assert(a === b)
    assert(a === d.select(countDistinct("lang")).head().getLong(0))
  }

  test("kmv_mins returns the sorted min-hash array, identical under any partitioning") {
    val big = spark.range(5000).select(col("id").as("v"))
    val a = big.repartition(1).selectExpr("kmv_mins(v, 128)").head().getSeq[Long](0)
    val b = big.repartition(9).selectExpr("kmv_mins(v, 128)").head().getSeq[Long](0)
    assert(a === b)
    assert(a.length === 128)
    assert(a === a.sorted)
    // below k the sketch IS the full hash set
    val small = spark.range(50).select(col("id").as("v"))
    assert(small.selectExpr("kmv_mins(v, 128)").head().getSeq[Long](0).length === 50)
  }

  test("kmv_mins set algebra: union/intersection estimates track known overlap") {
    // A = [0, 20000), B = [10000, 30000): |A∪B| = 30000, |A∩B| = 10000
    val a = spark.range(0, 20000).selectExpr("kmv_mins(id, 256) AS ma")
    val b = spark.range(10000, 30000).selectExpr("kmv_mins(id, 256) AS mb")
    val est = a.crossJoin(b).selectExpr(
      "slice(array_sort(array_union(ma, mb)), 1, 256) AS u")
      .selectExpr(
        "round(255 / (CAST(element_at(u, 256) AS DOUBLE) / 9.223372036854775807e18)) AS est_u",
        "u", "size(u) AS su")
      .crossJoin(a).crossJoin(b)
      .selectExpr("est_u",
        "round(CAST(size(array_intersect(array_intersect(u, ma), mb)) AS DOUBLE) / su * est_u) AS est_i")
      .head()
    val estU = est.getDouble(0)
    val estI = est.getDouble(1)
    assert(math.abs(estU - 30000) / 30000.0 < 0.2, s"union est $estU")
    assert(math.abs(estI - 10000) < 0.1 * 30000 + 0.2 * 10000, s"inter est $estI")
  }
}
