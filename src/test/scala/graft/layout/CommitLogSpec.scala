package graft.layout

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The shared [[CommitLog]] steps as both formats see them: the
  * version-guarded pointer swap on the layout side (the twin of
  * MergeTableSpec's laggard-finisher test), and a replayed finish of a
  * version whose data retention already reclaimed. */
class CommitLogSpec extends SparkSpec {
  import spark.implicits._

  private def layoutDir(): String =
    Files.createTempDirectory("commit_log").toString + "/layout"

  private def commitRows(dir: String, kv: (Int, Long)*): Long =
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir), Seq(LayoutTxn.Group(
      "", kv.toDF("p", "id"), "p", Seq("id"), kv.map(r => s"p=${r._1}").distinct)))

  private def layoutRows(dir: String): Seq[(Int, Long)] =
    LayoutTxn.readSnapshot(spark, LayoutTxn.snapshot(dir), "", "p")
      .select(col("p").cast("int"), col("id"))
      .as[(Int, Long)].collect().toSeq.sorted

  test("a laggard finisher cannot regress _layout_version past a newer commit") {
    // The overtake race at the layout tier: the writer of v2 stalls after
    // its claim, a recoverer publishes v2 for it, and v3 lands. When the
    // writer resumes its publish step, the version guard must leave the
    // version file at v3.
    val dir = layoutDir()
    assert(commitRows(dir, 0 -> 1L, 1 -> 2L) === 1L)
    assert(commitRows(dir, 0 -> 10L) === 2L)
    assert(commitRows(dir, 1 -> 20L) === 3L)
    val before = LayoutTxn.snapshot(dir)
    val rows = layoutRows(dir)
    assert(rows === Seq(0 -> 10L, 1 -> 20L))
    LayoutTxn.finish(dir,
      CommitLog.load(Paths.get(dir, "_layout_commit_v2")))
    val after = LayoutTxn.snapshot(dir)
    assert(after.version === 3L)
    // no swap at all: a re-swap would mint a new commit id
    assert(after.commitId === before.commitId)
    assert(layoutRows(dir) === rows)
  }

  test("a replayed MergeTable finish of an expired and vacuumed version does nothing") {
    // one bucket: every merge supersedes the last, so retention reclaims
    // v1's data dir once its manifest has expired
    val dir = Files.createTempDirectory("commit_log").toString + "/t"
    def merge(id: Long, op: String): Unit = {
      MergeTable.merge(spark, dir, Seq((id, s"n$id", op)).toDF("id", "name",
        "op_flag"), "id", numBuckets = 1)
      ()
    }
    merge(1L, "create")
    merge(2L, "create")
    val v1 = CommitLog.load(Paths.get(dir, "_manifest_v1"))
    merge(3L, "create")
    MergeTable.expireVersions(dir, keepLast = 1)
    assert(MergeTable.vacuum(dir, stageGraceMs = 0L).contains("v1"))
    MergeTable.finishCommit(dir, v1)
    assert(MergeTable.currentVersion(dir) === Some(2L))
    assert(!Files.exists(Paths.get(dir, "_manifest_v1")))
    assert(MergeTable.read(spark, dir).select("id").as[Long].collect().sorted
      === Array(1L, 2L, 3L))
  }
}
