package graft.sim

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** File-level contract of incremental IVF maintenance (q151 checks the
  * semantic invariant — maintained layout ≡ from-scratch rebuild — via the
  * DuckDB oracle; THIS spec pins what the oracle cannot see: which
  * directories the upsert physically rewrote). */
class IvfUpsertSpec extends SparkSpec {
  import spark.implicits._

  // 4 axis-aligned centroids; cosine argmax is unambiguous for these rows
  private val cents: Array[Seq[Float]] = Array(
    Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f),
    Seq(0f, 0f, 1f, 0f), Seq(0f, 0f, 0f, 1f))

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  private def readCells(dir: String): Seq[(Long, Int)] =
    graft.layout.LayoutTxn.readLayout(spark, dir, "", "cell")
      .select(col("vec_id"), col("cell").cast("int"))
      .as[(Long, Int)].collect().toSeq.sorted

  test("upsert rewrites only touched cells; a moved vector leaves no stale copy; emptied cells leave the snapshot") {
    val dir = Files.createTempDirectory("ivf_upsert").toString + "/layout"
    // base: id1 is cell0's ONLY member; id2→c1, id3→c2, id4→c3
    Similarity.writeIvfLayout(vecs(
      1L -> Seq(0.9f, 0.1f, 0f, 0f),
      2L -> Seq(0.1f, 0.9f, 0f, 0f),
      3L -> Seq(0f, 0f, 1f, 0.2f),
      4L -> Seq(0f, 0f, 0.1f, 0.9f)), cents, dir)
    val v0 = graft.layout.LayoutTxn.currentVersion(dir)
    val built = graft.layout.LayoutTxn.resolve(dir, "").toMap
    val c3Dir = built("cell=3")
    val c3Before = Files.list(Paths.get(c3Dir)).toArray.toSeq
      .map(_.toString).sorted
    val c3Mtimes = c3Before.map(p => Files.getLastModifiedTime(Paths.get(p)))

    // delta: id1 MOVES c0→c2 (replacement), id5 inserts into c1
    val touched = Similarity.ivfUpsertLayout(spark, dir, cents, vecs(
      1L -> Seq(0f, 0f, 0.95f, 0.1f),
      5L -> Seq(0.2f, 0.8f, 0f, 0f)))

    // touched = old cell of the moved id (0) ∪ new cells (1, 2); NOT 3
    assert(touched === Seq(0, 1, 2))
    // cell0 lost its only row: it must be GONE from the committed snapshot
    // (its dir in the immutable build stays until begin()'s two-phase
    // sweep reclaims it — r15 reader snapshot isolation)
    val resolved = graft.layout.LayoutTxn.resolve(dir, "").toMap
    assert(!resolved.contains("cell=0"), "emptied cell must leave the map")
    // touched cells repoint into the next immutable version dir; cell3
    // stays mapped to its untouched build dir, bit-for-bit intact
    assert(resolved("cell=1").contains(s"_lv${v0 + 1}"))
    assert(resolved("cell=2").contains(s"_lv${v0 + 1}"))
    assert(resolved("cell=3") === c3Dir)
    val c3After = Files.list(Paths.get(c3Dir)).toArray.toSeq
      .map(_.toString).sorted
    assert(c3After === c3Before)
    assert(c3After.map(p => Files.getLastModifiedTime(Paths.get(p))) === c3Mtimes)
    // final content = fresh assignment of the updated corpus, exactly once per id
    assert(readCells(dir) === Seq(1L -> 2, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 1))
    // two begin()s past grace physically reclaim the emptied cell's dir
    graft.layout.LayoutTxn.begin(dir, graceMs = 0L)
    graft.layout.LayoutTxn.begin(dir, graceMs = 0L)
    assert(!Files.exists(Paths.get(built("cell=0"))))
    assert(readCells(dir) === Seq(1L -> 2, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 1))
  }

  test("passenger columns survive partially-touched maintenance — no schema mix across version dirs") {
    val dir = Files.createTempDirectory("ivf_pass").toString + "/layout"
    // the corpus carries a passenger column (a label): writeIvfLayout
    // keeps it, so every later rewrite must too — the q201 regression
    // (batch 1 of a stream died on the mixed schema batch 0 left)
    Similarity.writeIvfLayout(Seq(
        (1L, Seq(0.9f, 0.1f, 0f, 0f), "a"),
        (2L, Seq(0.1f, 0.9f, 0f, 0f), "b"),
        (3L, Seq(0f, 0.1f, 0.9f, 0f), "c"))
      .toDF("vec_id", "embedding", "tag"), cents, dir)
    // batch without the passenger column touches ONE cell
    Similarity.ivfUpsertLayout(spark, dir, cents,
      vecs(10L -> Seq(0f, 0f, 0f, 0.9f)))
    val got = graft.layout.LayoutTxn.readLayout(spark, dir, "", "cell")
      .select(col("vec_id"), col("tag"))
      .as[(Long, Option[String])].collect().toMap
    assert(got === Map(1L -> Some("a"), 2L -> Some("b"), 3L -> Some("c"),
      10L -> None))
    // and a SECOND partially-touched upsert reads the mixed-version
    // layout cleanly (this is exactly where the unfixed code crashed)
    Similarity.ivfUpsertLayout(spark, dir, cents,
      vecs(11L -> Seq(0.9f, 0f, 0f, 0f)))
    assert(graft.layout.LayoutTxn.readLayout(spark, dir, "", "cell")
      .count() === 5L)
  }

  test("streaming replay: a micro-batch at-or-below the recorded batchId skips whole") {
    val dir = Files.createTempDirectory("ivf_replay").toString + "/layout"
    Similarity.writeIvfLayout(vecs(
      1L -> Seq(0.9f, 0.1f, 0f, 0f),
      2L -> Seq(0.1f, 0.9f, 0f, 0f)), cents, dir)
    val b0 = vecs(10L -> Seq(0f, 0f, 1f, 0f))
    Similarity.ivfUpsertLayout(spark, dir, cents, b0, batchId = 0L)
    assert(graft.layout.LayoutTxn.lastBatchId(dir) === 0L)
    val v = graft.layout.LayoutTxn.currentVersion(dir)
    val state = readCells(dir)
    assert(state.contains((10L, 2)))
    // crash-after-commit window: the same batch re-delivers — no new
    // version, no duplicate rows, empty touched set returned
    assert(Similarity.ivfUpsertLayout(spark, dir, cents, b0,
      batchId = 0L) === Seq.empty)
    assert(graft.layout.LayoutTxn.currentVersion(dir) === v)
    assert(readCells(dir) === state)
    // a NON-stream upsert between batches carries the id forward
    Similarity.ivfUpsertLayout(spark, dir, cents,
      vecs(11L -> Seq(0f, 0f, 0f, 1f)))
    assert(graft.layout.LayoutTxn.lastBatchId(dir) === 0L)
    // and the next live batch applies normally
    Similarity.ivfUpsertLayout(spark, dir, cents,
      vecs(12L -> Seq(0f, 0f, 1f, 0f)), batchId = 1L)
    assert(readCells(dir).contains((12L, 2)))
  }

  test("a batch whose commit CRASHED between claim and publish replays without an extra version") {
    val dir = Files.createTempDirectory("ivf_cw").toString + "/layout"
    Similarity.writeIvfLayout(vecs(
      1L -> Seq(0.9f, 0.1f, 0f, 0f),
      2L -> Seq(0.1f, 0.9f, 0f, 0f)), cents, dir)
    val b0 = vecs(10L -> Seq(0f, 0f, 1f, 0f))
    Similarity.ivfUpsertLayout(spark, dir, cents, b0, batchId = 0L)
    val prior = graft.layout.TxnCrashTestOps.saveVersionFile(dir)
    val b1 = vecs(11L -> Seq(0f, 0f, 0f, 1f))
    Similarity.ivfUpsertLayout(spark, dir, cents, b1, batchId = 1L)
    val wantV = graft.layout.LayoutTxn.currentVersion(dir)
    val wantCells = readCells(dir)
    // claim landed, publish didn't (ADVICE r16 high): the replay's
    // begin() rolls it forward — the post-begin() guard must skip the
    // batch instead of committing a redundant version on top
    graft.layout.TxnCrashTestOps.unpublishLast(dir, prior)
    assert(graft.layout.LayoutTxn.lastBatchId(dir) === 0L)
    assert(Similarity.ivfUpsertLayout(spark, dir, cents, b1,
      batchId = 1L) === Seq.empty)
    assert(graft.layout.LayoutTxn.currentVersion(dir) === wantV)
    assert(readCells(dir) === wantCells)
  }

  test("ivfDeleteLayout: delete == rebuild without victims; emptied cells leave; composes with upsert") {
    val dir = Files.createTempDirectory("ivf_del").toString + "/layout"
    // cell0 has ONLY id 1 — deleting it must empty the cell
    Similarity.writeIvfLayout(vecs(
      1L -> Seq(0.9f, 0.1f, 0f, 0f),
      2L -> Seq(0.1f, 0.9f, 0f, 0f),
      3L -> Seq(0f, 0f, 1f, 0.2f),
      4L -> Seq(0f, 0f, 0.1f, 0.9f),
      5L -> Seq(0f, 0.2f, 0.9f, 0f)), cents, dir)
    import spark.implicits._
    val touched = Similarity.ivfDeleteLayout(spark, dir,
      Seq(1L, 5L).toDF("vec_id"))
    assert(touched === Seq(0, 2))
    val dir2 = Files.createTempDirectory("ivf_del2").toString + "/layout"
    Similarity.writeIvfLayout(vecs(
      2L -> Seq(0.1f, 0.9f, 0f, 0f),
      3L -> Seq(0f, 0f, 1f, 0.2f),
      4L -> Seq(0f, 0f, 0.1f, 0.9f)), cents, dir2)
    assert(readCells(dir) === readCells(dir2))
    assert(!graft.layout.LayoutTxn.resolve(dir, "").toMap
      .contains("cell=0"), "emptied cell must leave the snapshot")
    // deleting absent ids is a no-op (no commit)
    val v = graft.layout.LayoutTxn.currentVersion(dir)
    assert(Similarity.ivfDeleteLayout(spark, dir,
      Seq(99L).toDF("vec_id")) === Seq.empty)
    assert(graft.layout.LayoutTxn.currentVersion(dir) === v)
    // composes: a later upsert into the same cells behaves normally
    Similarity.ivfUpsertLayout(spark, dir, cents,
      vecs(6L -> Seq(0.95f, 0f, 0f, 0f)))
    assert(readCells(dir).contains((6L, 0)))
  }

  test("pure insert into one cell touches exactly that cell") {
    val dir = Files.createTempDirectory("ivf_upsert2").toString + "/layout"
    Similarity.writeIvfLayout(vecs(
      1L -> Seq(0.9f, 0.1f, 0f, 0f),
      2L -> Seq(0f, 0.9f, 0f, 0f)), cents, dir)
    val built = graft.layout.LayoutTxn.resolve(dir, "").toMap
    val touched = Similarity.ivfUpsertLayout(spark, dir, cents,
      vecs(9L -> Seq(0.8f, 0.2f, 0f, 0f)))
    assert(touched === Seq(0))
    assert(readCells(dir).map(_._1) === Seq(1L, 2L, 9L))
    // the untouched cell reads in place in the build dir; only cell=0
    // repointed
    val resolved = graft.layout.LayoutTxn.resolve(dir, "").toMap
    assert(resolved("cell=1") === built("cell=1"))
    assert(resolved("cell=0") !== built("cell=0"))
  }

  test("a live concurrent committer makes the upsert CONFLICT loudly — the layout is untouched, not interleaved") {
    val dir = Files.createTempDirectory("ivf_conflict").toString + "/layout"
    Similarity.writeIvfLayout(vecs(
      1L -> Seq(0.9f, 0.1f, 0f, 0f),
      2L -> Seq(0.1f, 0.9f, 0f, 0f)), cents, dir)
    // fabricate another writer's FRESH claim for the next version — the
    // state a live upsert mid-commit leaves on disk
    val next = graft.layout.LayoutTxn.currentVersion(dir) + 1
    Files.writeString(Paths.get(dir, s"_layout_commit_v$next"),
      s"version=$next\n")
    val before = readCells(dir)
    intercept[graft.layout.LayoutTxn.ConflictException] {
      Similarity.ivfUpsertLayout(spark, dir, cents,
        vecs(9L -> Seq(0.8f, 0.2f, 0f, 0f)))
    }
    assert(readCells(dir) === before, "a conflicted upsert must leave no trace")
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("_lstage_")), "no stage residue")
  }

  test("two genuinely concurrent upserts with retry-on-conflict both land; the result composes") {
    val dir = Files.createTempDirectory("ivf_race").toString + "/layout"
    Similarity.writeIvfLayout(vecs(
      1L -> Seq(0.9f, 0.1f, 0f, 0f),
      2L -> Seq(0.1f, 0.9f, 0f, 0f)), cents, dir)
    val v0 = graft.layout.LayoutTxn.currentVersion(dir)
    // the documented caller policy: on ConflictException re-run the upsert
    // against the new current version (each retry re-reads the layout). A
    // FileNotFoundException under the retry is the OTHER documented
    // residual — this writer's READ overlapped the winner's swap (layout
    // snapshot isolation is out of LayoutTxn's scope) — and re-running is
    // the same correct response.
    def retryable(e: Throwable): Boolean = {
      var c = e
      while (c != null) {
        if (c.isInstanceOf[graft.layout.LayoutTxn.ConflictException] ||
          c.isInstanceOf[java.io.FileNotFoundException]) return true
        c = c.getCause
      }
      false
    }
    def upsertWithRetry(id: Long, emb: Seq[Float]): Unit = {
      var done = false
      var attempts = 0
      while (!done) {
        attempts += 1
        require(attempts <= 50, "livelock: conflict retry never converged")
        try {
          Similarity.ivfUpsertLayout(spark, dir, cents, vecs(id -> emb))
          done = true
        } catch {
          case e: Exception if retryable(e) => Thread.sleep(50)
        }
      }
    }
    val threads = Seq(
      new Thread(() => upsertWithRetry(10L, Seq(0.85f, 0.15f, 0f, 0f))),
      new Thread(() => upsertWithRetry(11L, Seq(0f, 0f, 0.9f, 0.1f))))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    threads.foreach(_.setUncaughtExceptionHandler((_, e) => { errs.add(e); () }))
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"writer died: ${Option(errs.peek()).map(_.toString)}")
    // both deltas composed — one linear history, nothing lost or interleaved
    assert(readCells(dir) === Seq(1L -> 0, 2L -> 1, 10L -> 0, 11L -> 2))
    assert(graft.layout.LayoutTxn.currentVersion(dir) === v0 + 2,
      "two commits = two versions, a linear history")
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("_lstage_")), "no stage residue")
  }

  test("recluster below the skew threshold is a NO-OP: no file is touched") {
    val dir = Files.createTempDirectory("ivf_recluster_noop").toString + "/layout"
    // one vector per cell: skew_factor = 1.0, the balanced ideal
    Similarity.writeIvfLayout(vecs(
      1L -> Seq(0.9f, 0.1f, 0f, 0f),
      2L -> Seq(0.1f, 0.9f, 0f, 0f),
      3L -> Seq(0f, 0f, 1f, 0.2f),
      4L -> Seq(0f, 0f, 0.1f, 0.9f)), cents, dir)
    def snapshot() = Files.walk(Paths.get(dir)).toArray.toSeq
      .map(_.toString).sorted
      .map(p => p -> Files.getLastModifiedTime(Paths.get(p)))
    val before = snapshot()
    val out = Similarity.reclusterCells(spark, dir,
      cells = 4, skewThreshold = 2.0, dims = 4)
    assert(out.isEmpty, "balanced layout must not trip the skew gate")
    assert(snapshot() === before, "a no-op recluster must not rewrite 100 TB")
  }

  test("skew-triggered recluster equals a fresh ivfCentroids+writeIvfLayout on the same corpus") {
    import org.scalatest.Assertions.withClue
    val dir = Files.createTempDirectory("ivf_recluster").toString + "/layout"
    // upsert-drift shape: 6 of 8 vectors crowd cell0 → with 3 occupied
    // cells skew_factor = 6·3/8 = 2.25, past the 2.0 gate
    val corpus = vecs(
      1L -> Seq(0.9f, 0.1f, 0f, 0f), 2L -> Seq(0.8f, 0.2f, 0f, 0f),
      3L -> Seq(0.95f, 0.05f, 0f, 0f), 4L -> Seq(0.7f, 0.3f, 0f, 0f),
      5L -> Seq(0.85f, 0.15f, 0f, 0f), 6L -> Seq(0.75f, 0.25f, 0f, 0f),
      7L -> Seq(0f, 0.9f, 0.1f, 0f), 8L -> Seq(0f, 0f, 0.9f, 0.1f))
    Similarity.writeIvfLayout(corpus, cents, dir)
    val got = Similarity.reclusterCells(spark, dir,
      cells = 4, skewThreshold = 2.0, dims = 4)
    assert(got.nonEmpty, "2.25 skew must trip the 2.0 gate")
    // the documented equivalence: recluster-in-place ≡ retraining fresh
    // over the same corpus and writing a brand-new layout
    val freshDir = Files.createTempDirectory("ivf_fresh").toString + "/layout"
    val freshCents = Similarity.ivfCentroids(corpus, k = 4, iters = 3, dims = 4)
    Similarity.writeIvfLayout(corpus, freshCents, freshDir)
    withClue("retrained centroids") { assert(got.get.toSeq === freshCents.toSeq) }
    // readCells works for both forms: the maintained layout resolves via
    // its version map, the fresh plain-hive layout via the root fallback
    assert(readCells(dir) === readCells(freshDir))
  }
}
