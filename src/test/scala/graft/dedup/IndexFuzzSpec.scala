package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.layout.LayoutTxn
import graft.text.TextAnalysis

/** Randomized differential for the AT-REST INDEX tier (r18 — VERDICT r17
  * task 6: "the index tier has spec coverage but no randomized lane").
  * Each case draws a random interleaving of the full maintenance surface
  * — batch ingest, exactly-once stream ingest (with deliberate replays),
  * DELETE(ids), RESCALE, COMPACT — against one of the four index
  * families (LSH / winnow / SimHash / inverted text), tracks the
  * corpus's logical state in a plain collections MODEL, and at the end
  * diffs the maintained layout against a FRESH index rebuilt from the
  * model at the layout's CURRENT partition count: index rows, reverse
  * map, and (text) doc store must all match exactly.
  *
  * Case count / seed scale via SPARK_GRAFT_IDXFUZZ_N /
  * SPARK_GRAFT_IDXFUZZ_SEED for the fresh-seed certification runs
  * recorded in BASELINE.md; the in-suite default keeps CI fast. */
class IndexFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val nCases =
    sys.env.get("SPARK_GRAFT_IDXFUZZ_N").map(_.toInt).getOrElse(12)
  private val baseSeed =
    sys.env.get("SPARK_GRAFT_IDXFUZZ_SEED").map(_.toLong).getOrElse(4242L)

  // a small shared vocabulary so near-dup structures are non-degenerate:
  // texts are word windows over it, so many docs share shingles/bands
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi",
    "omicron", "pi")

  private def textOf(rnd: scala.util.Random): String = {
    val n = 5 + rnd.nextInt(8)
    val start = rnd.nextInt(vocab.size)
    (0 until n).map(i => vocab((start + i) % vocab.size)).mkString(" ")
  }

  private def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  private def vecOf(rnd: scala.util.Random): Seq[Float] =
    Seq.fill(8)(rnd.nextInt(100) / 10.0f)

  private def vdf(rows: Seq[(Long, Seq[Float])]) =
    rows.toDF("vec_id", "embedding")

  /** The layout's current partition count: version-state prop (set by a
    * rescale) else the meta file's write-time copy. */
  private def partsOf(dir: String, metaFile: String): Int =
    LayoutTxn.currentProps(dir).get("partitions").map(_.toInt).getOrElse {
      val pr = new java.util.Properties()
      val in = java.nio.file.Files.newInputStream(
        java.nio.file.Paths.get(dir, metaFile))
      try pr.load(in) finally in.close()
      pr.getProperty("partitions").toInt
    }

  /** One maintained-vs-rebuilt differential run for one index family. */
  private def runCase(seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val family = rnd.nextInt(5) // 0=lsh 1=winnow 2=simhash 3=text 4=ivf
    val dir = Files.createTempDirectory(s"idxfuzz_$seed").toString + "/idx"
    val tier = Seq(Dedup.Lsh(), Dedup.Winnow(), Dedup.Simhash).lift(family)
    var model = Map.empty[Long, String]
    var vmodel = Map.empty[Long, Seq[Float]]
    var cents: Array[Seq[Float]] = Array.empty
    var nextId = 0L
    def freshDocs(n: Int): Seq[(Long, String)] =
      (0 until n).map { _ => nextId += 1; (nextId, textOf(rnd)) }
    def freshVecs(n: Int): Seq[(Long, Seq[Float])] =
      (0 until n).map { _ => nextId += 1; (nextId, vecOf(rnd)) }

    // seed corpus + initial build at a random partition count
    val p0 = 3 + rnd.nextInt(10)
    val seedDocs = freshDocs(4 + rnd.nextInt(6))
    if (family < 4) model ++= seedDocs
    family match {
      case 0 => Dedup.writeLshIndex(df(seedDocs), "doc_id", col("text"),
        dir, partitions = p0)
      case 1 => Dedup.writeWinnowIndex(df(seedDocs), "doc_id", col("text"),
        dir, partitions = p0)
      case 2 => Dedup.writeSimhashIndex(df(seedDocs), "doc_id", col("text"),
        dir, partitions = p0)
      case 3 => TextAnalysis.writeIndexLayout(df(seedDocs), "doc_id",
        col("text"), dir, p0)
      case 4 =>
        val seedVecs = freshVecs(6 + rnd.nextInt(6)); vmodel ++= seedVecs
        cents = graft.sim.Similarity.ivfCentroids(vdf(seedVecs),
          k = 2 + rnd.nextInt(3), iters = 2, dims = 8)
        graft.sim.Similarity.writeIvfLayout(vdf(seedVecs), cents, dir)
    }

    var lastBatch = -1L
    val nOps = 4 + rnd.nextInt(5)
    (0 until nOps).foreach { _ =>
      if (family == 4) rnd.nextInt(4) match {
        case 0 => // upsert: new vectors, or REPLACE a live one (allowed here)
          val fresh = freshVecs(1 + rnd.nextInt(3))
          val replaced = vmodel.keys.toSeq.sorted.headOption
            .filter(_ => rnd.nextBoolean()).map(id => (id, vecOf(rnd))).toSeq
          val b = fresh ++ replaced; vmodel ++= b
          graft.sim.Similarity.ivfUpsertLayout(spark, dir, cents, vdf(b))
          ()
        case 1 => // exactly-once stream batch, sometimes replayed
          val b = freshVecs(1 + rnd.nextInt(3)); vmodel ++= b
          lastBatch += 1
          graft.sim.Similarity.ivfUpsertLayout(spark, dir, cents, vdf(b),
            batchId = lastBatch)
          if (rnd.nextBoolean())
            graft.sim.Similarity.ivfUpsertLayout(spark, dir, cents, vdf(b),
              batchId = lastBatch)
          ()
        case 2 => // delete a random subset
          val live = vmodel.keys.toSeq.sorted
          if (live.nonEmpty) {
            val victims = rnd.shuffle(live).take(1 + rnd.nextInt(3))
            vmodel --= victims
            graft.sim.Similarity.ivfDeleteLayout(spark, dir,
              victims.map(Tuple1(_)).toDF("vec_id"))
            ()
          }
        case 3 => // RESCALE = retrain to a new cell count (threshold 0)
          val n = 2 + rnd.nextInt(4)
          if (vmodel.size >= n)
            graft.sim.Similarity.reclusterCells(spark, dir, cells = n,
              skewThreshold = 0.0, iters = 2, dims = 8)
              .foreach(c => cents = c)
      } else rnd.nextInt(6) match {
        case 0 => // batch ingest of NEW docs (append-only contract)
          val b = freshDocs(1 + rnd.nextInt(4)); model ++= b
          tier match {
            case Some(t) =>
              t.upsert(spark, dir, df(b), "doc_id", col("text")).count()
            case None => TextAnalysis.indexUpsertLayout(spark, dir, df(b),
              "doc_id", col("text"))
          }
          ()
        case 1 => // exactly-once stream batch, sometimes REPLAYED
          val b = freshDocs(1 + rnd.nextInt(3)); model ++= b
          lastBatch += 1
          val send = () => tier match {
            case Some(t) => t.ingestBatch(spark, dir, df(b), "doc_id",
              col("text"), lastBatch)
            case None => TextAnalysis.indexApplyLayout(spark, dir, df(b), None,
              "doc_id", col("text"), batchId = lastBatch)
          }
          send()
          if (rnd.nextBoolean()) send() // replay must be a no-op
        case 2 => // delete a random subset of live ids
          val live = model.keys.toSeq.sorted
          if (live.nonEmpty) {
            val victims = rnd.shuffle(live).take(1 + rnd.nextInt(3))
            model --= victims
            val vdf = victims.map(Tuple1(_)).toDF("doc_id")
            tier match {
              case Some(t) => t.delete(spark, dir, vdf, "doc_id")
              case None => TextAnalysis.indexDeleteLayout(spark, dir, vdf,
                "doc_id")
            }
            ()
          }
        case 3 => // rescale to a fresh random count
          val n = 3 + rnd.nextInt(10)
          tier match {
            case Some(t) => t.rescale(spark, dir, "doc_id", n)
            case None => TextAnalysis.indexRescaleLayout(spark, dir, n)
          }
          ()
        case 4 => // fold the fragmented layout
          tier match {
            case Some(t) => t.compact(spark, dir, "doc_id",
              maxOwners = 1 + rnd.nextInt(3), txnGraceMs = 0L)
            case None => TextAnalysis.indexCompactLayout(spark, dir,
              maxOwners = 1 + rnd.nextInt(3), txnGraceMs = 0L)
          }
          ()
        case 5 if family == 3 => // text-only: REPLACE an existing doc
          val live = model.keys.toSeq.sorted
          if (live.nonEmpty) {
            val id = live(rnd.nextInt(live.size))
            val t = if (rnd.nextInt(4) == 0) "" else textOf(rnd)
            model += id -> t
            TextAnalysis.indexUpsertLayout(spark, dir,
              Seq((id, t)).toDF("doc_id", "text"), "doc_id", col("text"))
            ()
          }
        case _ => () // dedup families: replace is out of contract
      }
    }

    // ---- the differential: maintained ≡ rebuilt-from-model -----------
    val rebuilt = Files.createTempDirectory(s"idxfuzz_rb_$seed").toString +
      "/idx"
    val corpus = df(model.toSeq.sortBy(_._1))
    val why = s"seed=$seed family=$family ops=$nOps model=${model.size} docs"
    // an index EMPTIED by deletes must still read as a typed empty
    // relation (the wedge this lane found in its first run) — a fresh
    // build of an empty corpus has no schema to compare against, so the
    // differential for that terminal state is "reads empty"
    if ((family < 4 && model.isEmpty) || (family == 4 && vmodel.isEmpty)) {
      val pc = Seq("lb", "fb", "sb", "tb", "cell")(family)
      // the text index deletes merge-on-read (r20): rows may remain
      // physically under live tombstones — the LOGICAL read is the
      // emptiness that matters (it is what every search observes)
      val empt =
        if (family == 3) TextAnalysis.readIndexPostings(spark, dir)
        else LayoutTxn.readLayout(spark, dir, "", pc)
      assert(empt.count() === 0L, why)
      if (lastBatch >= 0)
        assert(LayoutTxn.lastBatchId(dir) === lastBatch, s"$why (watermark)")
      return
    }
    family match {
      case 0 =>
        val p = partsOf(dir, "_lsh_meta")
        Dedup.writeLshIndex(corpus, "doc_id", col("text"), rebuilt,
          partitions = p)
        def rows(x: String) = LayoutTxn.readLayout(spark, x, "", "lb")
          .select(col("doc_id"), col("band"), col("bucket"), col("lb"))
          .as[(Long, Int, String, Int)].collect().toSet
        assert(rows(dir) === rows(rebuilt), why)
      case 1 =>
        val p = partsOf(dir, "_winnow_meta")
        Dedup.writeWinnowIndex(corpus, "doc_id", col("text"), rebuilt,
          partitions = p)
        def rows(x: String) = LayoutTxn.readLayout(spark, x, "", "fb")
          .select(col("doc_id"), col("fp"), col("fb"))
          .as[(Long, Long, Int)].collect().toSet
        assert(rows(dir) === rows(rebuilt), why)
      case 2 =>
        val p = partsOf(dir, "_simhash_meta")
        Dedup.writeSimhashIndex(corpus, "doc_id", col("text"), rebuilt,
          partitions = p)
        def rows(x: String) = LayoutTxn.readLayout(spark, x, "", "sb")
          .select(col("doc_id"), col("sh"), col("band"), col("bval"),
            col("sb"))
          .as[(Long, String, Int, String, Int)].collect().toSet
        assert(rows(dir) === rows(rebuilt), why)
      case 3 =>
        val p = TextAnalysis.persistedIndexBuckets(dir).get
        TextAnalysis.writeIndexLayout(corpus, "doc_id", col("text"),
          rebuilt, p)
        // LOGICAL reads (r20 merge-on-read delete): tombstones applied on
        // the maintained side; identical to raw on the tombstone-free
        // rebuild — so the differential still pins df/tf/tb/len exactly
        def postings(x: String) = TextAnalysis.readIndexPostings(spark, x)
          .select(col("term"), col("df").cast("long"),
            explode(col("postings")).as("pp"), col("tb").cast("long"))
          .select(col("term"), col("df"), col("pp.doc_id"),
            col("pp.tf").cast("long"), col("tb"))
          .as[(String, Long, Long, Long, Long)].collect().toSet
        assert(postings(dir) === postings(rebuilt), why)
        def store(x: String) = TextAnalysis.readIndexDocStore(spark, x)
          .select(col("doc_id"), col("tb").cast("long"),
            col("len").cast("long"), col("dm").cast("long"))
          .as[(Long, Long, Option[Long], Long)].collect().toSet
        assert(store(dir) === store(rebuilt), why)
      case 4 =>
        graft.sim.Similarity.writeIvfLayout(
          vdf(vmodel.toSeq.sortBy(_._1)), cents, rebuilt)
        def vrows(x: String) = LayoutTxn.readLayout(spark, x, "", "cell")
          .select(col("vec_id"), col("embedding"), col("cell"))
          .as[(Long, Seq[Float], Int)].collect().toSet
        assert(vrows(dir) === vrows(rebuilt), why)
    }
    // reverse map equality for the dedup families (the delete locator)
    if (family < 3) {
      def dm(x: String) = LayoutTxn.readLayout(spark, x, "_docmap", "dm")
        .select(col("doc_id"), col("pb"), col("dm"))
        .as[(Long, Int, Int)].collect().toSet
      assert(dm(dir) === dm(rebuilt), s"$why (reverse map)")
    }
    // the replay watermark must reflect every delivered stream batch
    if (lastBatch >= 0)
      assert(LayoutTxn.lastBatchId(dir) === lastBatch, s"$why (watermark)")
  }

  test(s"$nCases random maintain-vs-rebuild cases across the four index families") {
    (0 until nCases).foreach { i => runCase(baseSeed + i) }
  }
}
