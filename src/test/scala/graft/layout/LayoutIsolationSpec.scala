package graft.layout

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Reader snapshot isolation of [[LayoutTxn]] (the r15 headline; cited by
  * LayoutTxn.scala's scaladoc as this protocol's proof). The claims under
  * test, one per sentence of that doc:
  *
  *  1. [[LayoutTxn.resolve]]/[[LayoutTxn.readLayout]] resolve the version
  *     file ONCE and then read only immutable directories — a reader
  *     overlapping any number of commits sees exactly the partition set of
  *     the version it resolved, never a mix.
  *  2. `_lv<k>` dirs are never modified after their rename, including
  *     the ones later commits leave partly mapped (commits only repoint
  *     the map).
  *  3. Tombstone grace reclamation never deletes a snapshot a within-grace
  *     reader resolved — phase 1 only plants the marker; deletion needs the
  *     marker idle past the grace window.
  */
class LayoutIsolationSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(tag).toString + "/layout"

  /** Every version writes ONE value into both partitions, so any mixed
    * snapshot is detectable as p=0 and p=1 disagreeing on the value. */
  private def versionRows(v: Long) = Seq((0, v), (1, v)).toDF("p", "id")

  private def bothParts(v: Long) =
    Seq(LayoutTxn.Group("", versionRows(v), "p", Seq("id"), Seq("p=0", "p=1")))

  private def snapshotOf(dir: String): Seq[(Int, Long)] =
    LayoutTxn.readLayout(spark, dir, "", "p")
      .select(col("p").cast("int"), col("id"))
      .as[(Int, Long)].collect().toSeq.sorted

  test("a plan resolved BEFORE a commit keeps returning its snapshot after any number of later commits") {
    val dir = newDir("iso_pin")
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir), bothParts(1L))
    // resolve ONCE: the lazy plan pins the immutable _lv1 paths
    val pinned = LayoutTxn.readLayout(spark, dir, "", "p")
      .select(col("p").cast("int"), col("id"))
    // three more commits supersede everything the plan references
    (2L to 4L).foreach { v =>
      LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir), bothParts(v))
    }
    assert(snapshotOf(dir) === Seq(0 -> 4L, 1 -> 4L), "head moved to v4")
    assert(pinned.as[(Int, Long)].collect().toSeq.sorted ===
      Seq(0 -> 1L, 1 -> 1L),
      "the pre-commit reader must still see exactly its resolved snapshot")
  }

  test("immutability: committed _lv dirs and mapped root dirs are bit-for-bit identical across later commits") {
    val dir = newDir("iso_immutable")
    // v1 writes both partitions, then v2 touches ONLY p=0 — p=1 stays
    // mapped to _lv1
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir), bothParts(0L))
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir), Seq(
      LayoutTxn.Group("", Seq((0, 1L)).toDF("p", "id"), "p", Seq("id"), Seq("p=0"))))
    // DATA immutability: every regular file keeps its bytes and mtime.
    // The one sanctioned in-place write is the `_superseded` tombstone the
    // sweep may plant inside a fully superseded dir (phase 1 of
    // reclamation) — `_`-prefixed, invisible to every read — so the
    // fingerprint covers files only and excludes the marker.
    def fingerprint(path: String): Seq[(String, Long, java.nio.file.attribute.FileTime)] =
      Files.walk(Paths.get(path)).toArray.toSeq.map(_.toString).sorted
        .filter(p => Files.isRegularFile(Paths.get(p)) &&
          !p.endsWith("_superseded"))
        .map(p => (p, Files.size(Paths.get(p)),
          Files.getLastModifiedTime(Paths.get(p))))
    val lv2 = fingerprint(s"$dir/_lv2")
    val lv1 = fingerprint(s"$dir/_lv1")
    // v3 replaces p=0 again; v4 replaces both (p=1 finally leaves _lv1)
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir), Seq(
      LayoutTxn.Group("", Seq((0, 2L)).toDF("p", "id"), "p", Seq("id"), Seq("p=0"))))
    assert(fingerprint(s"$dir/_lv2") === lv2,
      "_lv2 must never be modified after its rename")
    assert(fingerprint(s"$dir/_lv1") === lv1,
      "a mapped dir must never be modified — commits only repoint the map")
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir), bothParts(3L))
    assert(fingerprint(s"$dir/_lv2") === lv2)
    assert(snapshotOf(dir) === Seq(0 -> 3L, 1 -> 3L))
  }

  test("reclamation is two-phase: a within-grace reader's snapshot survives the sweep that tombstones it") {
    val dir = newDir("iso_grace")
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir), bothParts(1L))
    val reader = LayoutTxn.readLayout(spark, dir, "", "p")
      .select(col("p").cast("int"), col("id"))
    // v2 supersedes _lv1 entirely; the sweep (phase 1) runs with a generous
    // grace — it plants the tombstone but MUST NOT delete
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir), bothParts(2L))
    LayoutTxn.begin(dir, graceMs = 3600000L)
    assert(Files.exists(Paths.get(s"$dir/_lv1/_superseded")))
    assert(reader.as[(Int, Long)].collect().toSeq.sorted ===
      Seq(0 -> 1L, 1 -> 1L),
      "a reader that resolved within grace keeps its snapshot on disk")
    // only once the tombstone is idle past grace does the dir go — reads
    // longer than the grace window are out of contract (the retention rule)
    LayoutTxn.begin(dir, graceMs = 0L)
    assert(!Files.exists(Paths.get(s"$dir/_lv1")))
    assert(snapshotOf(dir) === Seq(0 -> 2L, 1 -> 2L))
  }

  test("readers racing a committer never observe a mixed snapshot (stress: every read is version-consistent across partitions)") {
    val dir = newDir("iso_stress")
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir), bothParts(1L))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val writer = new Thread(() => {
      var v = 2L
      while (v <= 8L && !stop.get()) {
        LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir), bothParts(v))
        v += 1
      }
    })
    writer.setUncaughtExceptionHandler((_, e) => { errs.add(e.toString); () })
    writer.start()
    try {
      var reads = 0
      while (writer.isAlive && reads < 200) {
        val got = snapshotOf(dir)
        // each snapshot must be exactly one version's full partition set:
        // both partitions present, same value — never a mix of two commits
        if (got.map(_._1) != Seq(0, 1) || got.map(_._2).distinct.size != 1)
          errs.add(s"mixed snapshot: $got")
        reads += 1
      }
      assert(reads > 0)
    } finally { stop.set(true); writer.join(120000) }
    assert(errs.isEmpty, s"isolation violated: ${errs.toArray.mkString("; ")}")
    assert(snapshotOf(dir) === Seq(0 -> 8L, 1 -> 8L))
  }
}
