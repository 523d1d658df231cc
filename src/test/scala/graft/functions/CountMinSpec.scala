package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class CountMinSpec extends SparkSpec {
  import spark.implicits._

  test("cms_sketch: estimates never underestimate; exact when width is ample") {
    val items = (1 to 100).flatMap(i => Seq.fill(i % 7 + 1)(s"item$i"))
    val df = items.toDF("s")
    df.createOrReplaceTempView("cms_in")
    val sk = spark.sql("SELECT cms_sketch(s, 4, 4096) AS sk FROM cms_in")
      .head().getSeq[Long](0)
    assert(sk.length === 4 * 4096)
    assert(sk.sum === 4L * items.length)   // every row lands once per hash row
    // probe every item via the same JVM bucket function the aggregate uses
    val agg = CountMinSketch(null, 4, 4096)
    val bucketM = classOf[CountMinSketch].getDeclaredMethod(
      "bucket", classOf[Int], classOf[String])
    bucketM.setAccessible(true)
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    exact.foreach { case (s, n) =>
      val est = (0 until 4).map { j =>
        sk(j * 4096 + bucketM.invoke(agg, Int.box(j), s).asInstanceOf[Int])
      }.min
      assert(est >= n, s"underestimate for $s")
    }
  }

  test("cms_sketch: partitioning-invariant (partial+final merge is exact)") {
    val df = (1 to 500).map(i => s"k${i % 37}").toDF("s")
    val one = df.coalesce(1).agg(expr("cms_sketch(s, 4, 64)")).head().getSeq[Long](0)
    val many = df.repartition(13).agg(expr("cms_sketch(s, 4, 64)")).head().getSeq[Long](0)
    assert(one === many)
  }

  test("cms_sketch: JVM bucket matches the SQL conv(substr(md5...)) idiom") {
    val agg = CountMinSketch(null, 4, 256)
    val bucketM = classOf[CountMinSketch].getDeclaredMethod(
      "bucket", classOf[Int], classOf[String])
    bucketM.setAccessible(true)
    val rows = spark.sql(
      """SELECT j, s, cast(cast(conv(substr(md5(concat(cast(j as string), ':', s)), 1, 8),
        |  16, 10) as bigint) % 256 as int) AS b
        |FROM VALUES (0, 'alpha'), (1, 'alpha'), (2, 'beta'), (3, '42') AS t(j, s)
        |""".stripMargin).collect()
    rows.foreach { r =>
      val expected = bucketM.invoke(agg, Int.box(r.getInt(0)), r.getString(1))
        .asInstanceOf[Int]
      assert(r.getInt(2) === expected, s"bucket mismatch for ${r.getString(1)}")
    }
  }
}
