package graft.layout

import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{JobCounter, SparkSpec}

/** The commit record carries what a read needs to plan: a commit id per
  * published version and the schema each live owner wrote. Reads of
  * committed owners plan without a Spark job. */
class LayoutSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(tag).toString + "/layout"

  private def commitRows(dir: String, df: DataFrame, parts: Seq[Int]): Long =
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir),
      Seq(LayoutTxn.Group("", df, "p", Seq("id"), parts.map(i => s"p=$i"))))

  private def versionProps(dir: String): Properties = {
    val pr = new Properties()
    val in = Files.newInputStream(Paths.get(dir, "_layout_version"))
    try pr.load(in) finally in.close()
    pr
  }

  /** (sub name, owner version) of every `sub.<i>.owner.<v>` key. */
  private def ownerKeys(dir: String): Set[(String, Long)] = {
    val pr = versionProps(dir)
    val rx = """sub\.(\d+)\.owner\.(\d+)""".r
    pr.stringPropertyNames().asScala.collect { case rx(i, v) =>
      (pr.getProperty(s"sub.$i.name"), v.toLong)
    }.toSet
  }

  /** (sub, owner) pairs the current map references, root excluded. */
  private def liveOwners(dir: String): Set[(String, Long)] = {
    val snap = LayoutTxn.snapshot(dir)
    snap.maps.toSeq.flatMap { case (sub, (_, m)) =>
      m.valuesIterator.flatten.filter(_ > 0L).map(sub -> _)
    }.toSet
  }

  private def rowsOf(df: DataFrame): Seq[(Int, Long)] =
    df.select(col("p").cast("int"), col("id").cast("long"))
      .as[(Int, Long)].collect().toSeq.sorted

  test("every commit records a fresh commit id and the schema of each live owner") {
    val dir = newDir("lschema_ids")
    commitRows(dir, Seq((0, 1L), (1, 2L)).toDF("p", "id"), Seq(0, 1))
    val s1 = LayoutTxn.snapshot(dir)
    commitRows(dir, Seq((1, 3L)).toDF("p", "id"), Seq(1))
    val s2 = LayoutTxn.snapshot(dir)
    assert(s1.commitId.isDefined && s2.commitId.isDefined)
    assert(s1.commitId !== s2.commitId)
    assert(s2.ownerSchemas.keySet === Set("" -> 1L, "" -> 2L))
    assert(ownerKeys(dir) === liveOwners(dir))
    // the DDL is the claim's group schema: data columns, partition last
    assert(s2.ownerSchemas("" -> 2L).toLowerCase.contains("id bigint"))
  }

  test("readSnapshot on a committed sub plans with zero Spark jobs") {
    val dir = newDir("lschema_jobs")
    commitRows(dir, Seq((0, 1L), (1, 2L), (2, 3L)).toDF("p", "id"), Seq(0, 1, 2))
    commitRows(dir, Seq((1, 4L)).toDF("p", "id"), Seq(1)) // second owner
    val snap = LayoutTxn.snapshot(dir)
    val (df, jobs) = JobCounter.during(spark)(
      LayoutTxn.readSnapshot(spark, snap, "", "p"))
    assert(jobs === 0, "planning a read of recorded owners started a job")
    val (pruned, prunedJobs) = JobCounter.during(spark)(
      LayoutTxn.readSnapshot(spark, snap, "", "p", Some(Set("p=7"))))
    assert(prunedJobs === 0, "an empty restriction started a job")
    assert(pruned.collect().isEmpty)
    assert(rowsOf(df) === Seq((0, 1L), (1, 4L), (2, 3L)))
    // the partition column is typed by discovery, exactly as inferred
    assert(df.schema("p").dataType === org.apache.spark.sql.types.IntegerType)
  }

  test("each owner scans with its OWN schema: a narrower-typed owner still widens in the union") {
    val dir = newDir("lschema_widen")
    commitRows(dir, Seq((0, 1L), (1, 2L)).toDF("p", "id"), Seq(0, 1))
    commitRows(dir, Seq((2, 3)).toDF("p", "id"), Seq(2)) // id INT
    val snap = LayoutTxn.snapshot(dir)
    assert(snap.ownerSchemas("" -> 2L).toLowerCase.contains("id int"))
    val df = LayoutTxn.readSnapshot(spark, snap, "", "p")
    assert(df.schema("id").dataType === org.apache.spark.sql.types.LongType)
    assert(rowsOf(df) === Seq((0, 1L), (1, 2L), (2, 3L)))
  }

  test("after compactStale the version file holds schema entries for live owners only") {
    val dir = newDir("lschema_compact")
    commitRows(dir, (0 until 6).map(i => (i, i.toLong)).toDF("p", "id"), 0 until 6)
    (1 until 6).foreach(i => commitRows(dir, Seq((i, 10L + i)).toDF("p", "id"), Seq(i)))
    assert(ownerKeys(dir).size === 6)
    LayoutTxn.compactStale(spark, dir, Map("" -> Seq("id")), maxOwners = 2)
    assert(LayoutTxn.ownerCount(dir) === 2)
    assert(ownerKeys(dir) === liveOwners(dir))
    assert(ownerKeys(dir).size === 2)
    assert(rowsOf(LayoutTxn.readLayout(spark, dir, "", "p")) ===
      ((0, 0L) +: (1 until 6).map(i => (i, 10L + i))))
  }
}
