package graft.layout

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[LayoutTxn.compactStale]] (r18 — VERDICT r17 task 3): fold the
  * partitions owned by the OLDEST immutable dirs into one commit so read
  * fan-out stays bounded and superseded version dirs become reclaimable.
  * Pins: content equality, owner-count math, oldest-first selection
  * (newest owners untouched), props/batchId carry, single-owner no-op,
  * and physical reclamation of fully-folded dirs by the next begin(). */
class LayoutCompactSpec extends SparkSpec {
  import spark.implicits._

  /** A first commit of `n` partitions (pt=0..n-1, one row each), then
    * one LayoutTxn commit per entry of `touches`, each rewriting the
    * named partitions with a bumped value. Returns the layout dir. */
  private def build(tag: String, n: Int, touches: Seq[Seq[Int]]): String = {
    val dir = Files.createTempDirectory(s"lcomp_$tag").toString + "/lay"
    val base = (0 until n).map(i => (i, s"v0_$i")).toDF("pt", "v")
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir, 0L),
      Seq(LayoutTxn.Group("", base, "pt", Seq("v"), (0 until n).map(p => s"pt=$p"))))
    touches.zipWithIndex.foreach { case (ps, i) =>
      val parent = LayoutTxn.begin(dir, 0L)
      val repl = ps.map(p => (p, s"v${i + 1}_$p")).toDF("pt", "v")
      LayoutTxn.commit(spark, dir, parent,
        Seq(LayoutTxn.Group("", repl, "pt", Seq("v"),
          ps.map(p => s"pt=$p"))))
    }
    dir
  }

  private def state(dir: String): Set[(Int, String)] =
    LayoutTxn.readLayout(spark, dir, "", "pt")
      .select(col("pt"), col("v")).as[(Int, String)].collect().toSet

  test("fold to one owner: content identical, fan-out collapses, folded dirs reclaim") {
    // 4 commits touching disjoint partitions → 5 owners (the first
    // commit's dir + 4 lv dirs)
    val dir = build("one", 8, Seq(Seq(0), Seq(1), Seq(2), Seq(3)))
    assert(LayoutTxn.ownerCount(dir) === 5)
    val before = state(dir)
    val v0 = LayoutTxn.currentVersion(dir)
    val v = LayoutTxn.compactStale(spark, dir, Map("" -> Seq("v")),
      maxOwners = 1, txnGraceMs = 0L)
    assert(v === v0 + 1) // a real commit happened
    assert(LayoutTxn.ownerCount(dir) === 1)
    assert(state(dir) === before, "compaction must not change contents")
    // every partition now owned by the new dir; the fully-superseded
    // dirs reclaim across two begin() sweeps (plant tombstone, then
    // delete once idle past grace=0)
    LayoutTxn.begin(dir, 0L); LayoutTxn.begin(dir, 0L)
    (1L to v0).foreach { k =>
      assert(!Files.exists(Paths.get(dir, s"_lv$k")),
        s"_lv$k fully folded, must be swept")
    }
    assert(Files.exists(Paths.get(dir, s"_lv$v")))
    assert(state(dir) === before, "reclamation must not change contents")
  }

  test("maxOwners > 1 folds the OLDEST owners only; newest stay in place") {
    val dir = build("part", 8, Seq(Seq(0), Seq(1), Seq(2), Seq(3)))
    val before = state(dir)
    val owned = LayoutTxn.resolve(dir, "").toMap
    val v = LayoutTxn.compactStale(spark, dir, Map("" -> Seq("v")),
      maxOwners = 2, txnGraceMs = 0L)
    assert(LayoutTxn.ownerCount(dir) === 2)
    assert(state(dir) === before)
    val after = LayoutTxn.resolve(dir, "").toMap
    // the NEWEST pre-compact owner (holding pt=3) must not move
    assert(after("pt=3") === owned("pt=3"),
      "newest owner's partition must be untouched")
    assert(after("pt=0").contains(s"_lv$v") && after("pt=1").contains(s"_lv$v"),
      "oldest owners' partitions fold into the new version")
  }

  test("at-or-under the owner bound it is a no-op commit-wise") {
    val dir = build("noop", 4, Seq(Seq(0)))
    assert(LayoutTxn.ownerCount(dir) === 2)
    val v0 = LayoutTxn.currentVersion(dir)
    assert(LayoutTxn.compactStale(spark, dir, maxOwners = 2,
      txnGraceMs = 0L) === v0)
    assert(LayoutTxn.currentVersion(dir) === v0)
    // a layout of one commit has one owner: nothing to fold
    val fresh = build("fresh", 1, Seq.empty)
    assert(LayoutTxn.compactStale(spark, fresh, maxOwners = 1,
      txnGraceMs = 0L) === 1L)
    assert(LayoutTxn.ownerCount(fresh) === 1)
  }

  test("props and batchId carry through the fold; multi-sub layouts fold all subs") {
    val dir = Files.createTempDirectory("lcomp_props").toString + "/lay"
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir, 0L), Seq(
      LayoutTxn.Group("", (0 until 3).map(i => (i, s"a$i")).toDF("pt", "v"),
        "pt", Seq("v"), (0 until 3).map(i => s"pt=$i")),
      LayoutTxn.Group("_sub", (0 until 3).map(i => (i, s"b$i")).toDF("dm", "w"),
        "dm", Seq("w"), (0 until 3).map(i => s"dm=$i"))))
    // two commits: one stamps a prop + batchId and touches both subs
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir, 0L), Seq(
        LayoutTxn.Group("", Seq((0, "a0x")).toDF("pt", "v"), "pt", Seq("v"),
          Seq("pt=0")),
        LayoutTxn.Group("_sub", Seq((0, "b0x")).toDF("dm", "w"), "dm",
          Seq("w"), Seq("dm=0"))),
      batchId = 7L, props = Map("partitions" -> "3"))
    LayoutTxn.commit(spark, dir, LayoutTxn.begin(dir, 0L), Seq(
      LayoutTxn.Group("", Seq((1, "a1x")).toDF("pt", "v"), "pt", Seq("v"),
        Seq("pt=1"))))
    val beforeMain = state(dir)
    val beforeSub = LayoutTxn.readLayout(spark, dir, "_sub", "dm")
      .select(col("dm"), col("w")).as[(Int, String)].collect().toSet
    LayoutTxn.compactStale(spark, dir, maxOwners = 1, txnGraceMs = 0L)
    assert(LayoutTxn.ownerCount(dir) === 1)
    assert(state(dir) === beforeMain)
    assert(LayoutTxn.readLayout(spark, dir, "_sub", "dm")
      .select(col("dm"), col("w")).as[(Int, String)].collect().toSet
      === beforeSub)
    assert(LayoutTxn.lastBatchId(dir) === 7L, "batchId must survive the fold")
    assert(LayoutTxn.currentProps(dir) === Map("partitions" -> "3"),
      "layout props must survive the fold")
  }
}
