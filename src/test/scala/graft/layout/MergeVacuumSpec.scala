package graft.layout

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** [[MergeTable.vacuum]] against a writer racing it: a version a writer
  * publishes after vacuum scanned the manifests must survive. */
class MergeVacuumSpec extends SparkSpec {
  import spark.implicits._

  test("vacuum keeps a version dir newer than the manifest it started from") {
    val dir = Files.createTempDirectory("merge_vacuum").toString + "/t"
    def merge(id: Long): Unit = {
      MergeTable.merge(spark, dir, Seq((id, s"n$id", "create")).toDF("id", "name",
        "op_flag"), "id", numBuckets = 1)
      ()
    }
    // one bucket: every merge supersedes the last, so retention reclaims
    // v1's data dir once its manifest has expired
    (1L to 3L).foreach(merge)
    MergeTable.expireVersions(dir, keepLast = 1)
    val current = MergeTable.currentVersion(dir).get
    // the window's state: a racing writer's v<N+1> is published, and the
    // manifest that references it is one vacuum never saw
    val racing = Paths.get(dir, s"v${current + 1}")
    Files.createDirectories(racing.resolve("b=0"))
    Files.write(racing.resolve("b=0/part-00000.parquet"), Array[Byte](1, 2, 3))
    assert(!Files.exists(Paths.get(dir, s"_manifest_v${current + 1}")))
    val reclaimed = MergeTable.vacuum(dir, stageGraceMs = 0L)
    assert(reclaimed.contains("v1"), "the expired version is still reclaimed")
    assert(!reclaimed.contains(s"v${current + 1}"))
    assert(Files.exists(racing.resolve("b=0/part-00000.parquet")))
    assert(MergeTable.read(spark, dir).select("id").as[Long].collect().sorted
      === Array(1L, 2L, 3L))
  }
}
