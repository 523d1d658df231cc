package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sim.Similarity

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def pairs = Seq(
    (Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)),
    (Seq(0.1f, -0.2f, 0.3f), Seq(-0.4f, 0.5f, -0.6f)),
    (Seq(1f, 0f), Seq(0f, 1f)),
    (Seq.tabulate(64)(i => (i * 0.37f - 3f)), Seq.tabulate(64)(i => (7f - i * 0.21f))))
    .toDF("a", "b")

  test("native vec_cosine is bit-identical to the higher-order-function formulation") {
    val df = pairs.select(
      Similarity.cosine(col("a"), col("b")).as("hof"),
      Similarity.cosineNative(pairs, col("a"), col("b")).as("native"))
    df.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0))
        === java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("vec_cosine resolves in SQL once registered (and via GraftExtensions config)") {
    pairs.createOrReplaceTempView("vec_pairs")
    val out = spark.sql("SELECT vec_cosine(a, b) AS c FROM vec_pairs").as[Double].collect()
    assert(out.length === 4)
    assert(math.abs(out(2)) < 1e-12) // orthogonal
  }

  test("vec_cosine participates in whole-stage codegen") {
    // build from range so the projection isn't constant-folded to a LocalTableScan
    val df = spark.range(100).select(
      array(col("id").cast("float"), lit(1f), lit(2f)).as("a"),
      array(lit(3f), col("id").cast("float"), lit(4f)).as("b"))
    val q = df.select(call_function("vec_cosine", col("a"), col("b")).as("c"))
    // the `*(n)` prefix marks a WholeStageCodegen stage in the plan string
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [vec_cosine"), s"expected fused codegen project in:\n$plan")
    assert(q.count() === 100)
  }

  test("vec_dot (float × double) is bit-identical to the zip_with+aggregate fold") {
    val df = Seq((Seq(0.1f, -2f, 3.5f), Seq(4.0, 5.5, -6.25))).toDF("a", "b")
    val hof = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y),
        lit(0.0), (acc, x) => acc + x)).as[Double].head()
    val native = df.select(VectorFunctions.vecDot(col("a"), col("b"))).as[Double].head()
    assert(java.lang.Double.doubleToLongBits(hof) === java.lang.Double.doubleToLongBits(native))
  }

  test("mismatched lengths: dot over common prefix, norms over full arrays") {
    val df = Seq((Seq(3f, 4f), Seq(1f, 0f, 0f))).toDF("a", "b")
    val v = df.select(Similarity.cosineNative(df, col("a"), col("b"))).as[Double].head()
    assert(math.abs(v - 3.0 / 5.0) < 1e-12) // dot=3, |a|=5, |b|=1
  }
}
