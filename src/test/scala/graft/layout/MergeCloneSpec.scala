package graft.layout

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Zero-copy CLONE (r16): a hard-linked snapshot fork — per-file cost,
  * never per-byte. Pinned here: content equality at clone time, true
  * zero-copy (link counts > 1 on shared data files), full independence
  * afterwards (merges, soft deletes, and vacuum on either side never
  * leak to the other), deletion vectors carried, and the
  * fresh-destination guard. */
class MergeCloneSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    graft.util.Cleanup.registerTempDir(
      Files.createTempDirectory(s"mclone_$tag")).toString + "/t"

  private def table(tag: String): String = {
    val dir = freshDir(tag)
    val rows = (1L to 64L).map(id => (id, id * 2, s"g${id % 4}", "create"))
    MergeTable.merge(spark, dir,
      rows.toDF("id", "v", "tag", "op_flag"), "id", numBuckets = 4)
    dir
  }

  private def firstDataFile(dir: String): java.nio.file.Path = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir)).head.toPath
  }

  test("clone equals the source snapshot, shares inodes, then diverges independently") {
    val src = table("basic")
    MergeTable.merge(spark, src, Seq((1L, 100L, "up", "update"))
      .toDF("id", "v", "tag", "op_flag"), "id")
    val dst = freshDir("basic_dst")
    val v = MergeTable.cloneTable(spark, src, dst)
    assert(v === 1L)
    val want = MergeTable.read(spark, src).as[(Long, Long, String)]
      .collect().toSet
    assert(MergeTable.read(spark, dst).as[(Long, Long, String)]
      .collect().toSet === want)
    // zero-copy: the cloned data file is the SAME inode (link count 2)
    val nlink = Files.getAttribute(firstDataFile(dst), "unix:nlink")
      .asInstanceOf[Number].intValue()
    assert(nlink >= 2, s"expected a hard link, nlink=$nlink")
    // divergence: a merge into the clone never reaches the source...
    MergeTable.merge(spark, dst, Seq((2L, 999L, "clone-only", "update"))
      .toDF("id", "v", "tag", "op_flag"), "id")
    assert(MergeTable.read(spark, src).as[(Long, Long, String)]
      .collect().toSet === want)
    // ...and a source merge never reaches the clone
    MergeTable.merge(spark, src, Seq((3L, 888L, "src-only", "update"))
      .toDF("id", "v", "tag", "op_flag"), "id")
    assert(MergeTable.read(spark, dst)
      .filter(col("id") === 3L).select("v").as[Long].head() === 6L)
  }

  test("vacuum on either side never deletes the other's data (inodes survive)") {
    val src = table("vac")
    val dst = freshDir("vac_dst")
    MergeTable.cloneTable(spark, src, dst)
    // source compacts and vacuums away the very version the clone links
    MergeTable.compact(spark, src)
    MergeTable.expireVersions(src, keepLast = 1)
    MergeTable.vacuum(src, stageGraceMs = 0L)
    assert(!Files.exists(Paths.get(src, "v0")), "src v0 should be reclaimed")
    assert(MergeTable.read(spark, dst).count() === 64L,
      "the clone's linked inodes must survive the source vacuum")
    // and the clone's own vacuum is equally self-contained
    MergeTable.compact(spark, dst)
    MergeTable.expireVersions(dst, keepLast = 1)
    MergeTable.vacuum(dst, stageGraceMs = 0L)
    assert(MergeTable.read(spark, dst).count() === 64L)
    assert(MergeTable.read(spark, src).count() === 64L)
  }

  test("deletion vectors carry: the clone sees exactly the source's live rows") {
    val src = table("dv")
    MergeTable.softDelete(spark, src, col("v") <= 20L)
    val dst = freshDir("dv_dst")
    MergeTable.cloneTable(spark, src, dst)
    assert(MergeTable.read(spark, dst).select("id").as[Long].collect().toSet
      === (11L to 64L).toSet)
    assert(MergeTable.countRows(dst) === Some(54L))
    // the clone's own soft delete stays its own
    MergeTable.softDelete(spark, dst, col("v") > 100L)
    assert(MergeTable.read(spark, src).count() === 54L)
  }

  test("merge-on-read delta runs older than the head carry: the clone reads like its source") {
    val src = table("mor")
    MergeTable.mergeSmall(spark, src, Seq((1L, 100L, "run1", "update"))
      .toDF("id", "v", "tag", "op_flag"), "id", numBuckets = 4)
    MergeTable.mergeSmall(spark, src, Seq((2L, 200L, "run2", "update"))
      .toDF("id", "v", "tag", "op_flag"), "id", numBuckets = 4)
    val dst = freshDir("mor_dst")
    MergeTable.cloneTable(spark, src, dst)
    val want = MergeTable.read(spark, src).as[(Long, Long, String)]
      .collect().toSet
    assert(want.contains((1L, 100L, "run1")) && want.contains((2L, 200L, "run2")))
    assert(MergeTable.read(spark, dst).as[(Long, Long, String)]
      .collect().toSet === want)
  }

  test("CLONE refuses a destination that already holds a table; re-run after crash is clean") {
    val src = table("guard")
    val dst = freshDir("guard_dst")
    MergeTable.cloneTable(spark, src, dst)
    intercept[IllegalArgumentException] {
      MergeTable.cloneTable(spark, src, dst)
    }
    // crash simulation: links exist but no manifest — re-run completes
    val dst2 = freshDir("guard_dst2")
    Files.createDirectories(Paths.get(dst2))
    val v0src = new java.io.File(src, "v0")
    def linkTree(s: java.io.File, d: java.io.File): Unit =
      if (s.isDirectory) {
        d.mkdirs()
        Option(s.listFiles()).getOrElse(Array.empty)
          .foreach(f => linkTree(f, new java.io.File(d, f.getName)))
      } else { Files.createLink(d.toPath, s.toPath); () }
    linkTree(v0src, new java.io.File(dst2, "v0")) // half-done "crash"
    assert(MergeTable.cloneTable(spark, src, dst2) === 0L)
    assert(MergeTable.read(spark, dst2).count() === 64L)
  }

  test("a clone crashed BETWEEN its history claim and the _latest swap rolls forward on re-run") {
    val src = table("claimcrash")
    val dst = freshDir("claimcrash_dst")
    MergeTable.cloneTable(spark, src, dst)
    // crash simulation: the claim (_manifest_v0) landed — cloneTable's
    // LAST step — but the _latest swap did not. Pre-r17 this wedged: the
    // isEmpty gate passed, then commit()'s CAS conflicted forever, and
    // recover() couldn't heal (it scans from _latest+1 = v0 upward but
    // needs _latest to exist to know the table's head) — ADVICE r16 low.
    Files.delete(Paths.get(dst, "_latest"))
    assert(MergeTable.currentVersion(dst).isEmpty, "crash state: no _latest")
    assert(MergeTable.cloneTable(spark, src, dst) === 0L)
    assert(MergeTable.read(spark, dst).count() === 64L)
    // and the healed clone is fully functional (its own commits work)
    MergeTable.merge(spark, dst, Seq((1L, 777L, "x", "update"))
      .toDF("id", "v", "tag", "op_flag"), "id")
    assert(MergeTable.read(spark, dst)
      .filter(col("id") === 1L).select("v").as[Long].head() === 777L)
  }

  test("clone roll-forward refuses a crashed NON-clone claim in the destination") {
    // ADVICE r17 low: a dst holding an unrelated crashed commit (e.g. a
    // CREATE of a different table that lost _latest) must NOT be
    // published and reported as a successful clone of srcDir with wrong
    // contents — only op=clone claims with matching schema/key resume
    val src = table("oproll")
    val dst = freshDir("oproll_dst")
    // build an unrelated one-commit table at dst, then simulate its crash
    // between claim and _latest swap
    MergeTable.merge(spark, dst, Seq((9L, "other-schema-row", "create"))
      .toDF("k", "payload", "op_flag"), "k", numBuckets = 2)
    Files.delete(Paths.get(dst, "_latest"))
    val e = intercept[IllegalArgumentException] {
      MergeTable.cloneTable(spark, src, dst)
    }
    assert(e.getMessage.contains("non-clone") ||
      e.getMessage.contains("DIFFERENT table"))
    // and a crashed clone of a DIFFERENT source is refused too
    val src2dir = freshDir("oproll_src2")
    MergeTable.merge(spark, src2dir, Seq((1L, 5L, "create"))
      .toDF("k", "n", "op_flag"), "k", numBuckets = 2)
    val dst2 = freshDir("oproll_dst2")
    MergeTable.cloneTable(spark, src2dir, dst2)
    Files.delete(Paths.get(dst2, "_latest"))
    val e2 = intercept[IllegalArgumentException] {
      MergeTable.cloneTable(spark, src, dst2) // src has a different schema
    }
    assert(e2.getMessage.contains("DIFFERENT table"))
  }

  test("cross-device CLONE falls back to per-file copy (EXDEV is not UnsupportedOperation)") {
    val shm = new java.io.File("/dev/shm")
    assume(shm.isDirectory && Files.getFileStore(shm.toPath) !=
      Files.getFileStore(Paths.get("/tmp")), "needs a second filesystem")
    val src = table("xdev")
    val root = Files.createTempDirectory(shm.toPath, "graft_xdev_")
    try {
      val dst = root.toString + "/t"
      // pre-r17 this threw FileSystemException(EXDEV): the fallback only
      // caught UnsupportedOperationException (ADVICE r16 medium)
      assert(MergeTable.cloneTable(spark, src, dst) === 0L)
      assert(MergeTable.read(spark, dst).as[(Long, Long, String)]
        .collect().toSet ===
        MergeTable.read(spark, src).as[(Long, Long, String)]
          .collect().toSet)
      // copied, not linked: the dst data file owns its only name
      val nlink = Files.getAttribute(firstDataFile(dst), "unix:nlink")
        .asInstanceOf[Number].intValue()
      assert(nlink === 1, s"cross-device files must be copies, nlink=$nlink")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(root.toFile)
    }
  }
}
