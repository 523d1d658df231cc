package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.layout.LayoutTxn
import graft.ops.Relational
import graft.text.TextAnalysis

/** Deduplication operators for a pretraining-data pipeline (north-star ⊕):
  * exact (hash groupBy / keep-first), MinHash+LSH near-dup candidate pairs,
  * SimHash, and n-gram Jaccard verification.
  *
  * Design for scale:
  *  - exact dedup = one shuffle on the fingerprint; at 100 TB use the md5
  *    fingerprint (16 bytes) as the shuffle key, never the full text.
  *  - MinHash/LSH avoids the O(n²) cross join: docs are exploded to
  *    (band_id, band_hash) buckets, pairs are generated *within buckets*
  *    via an equi self-join, then verified with exact Jaccard — the classic
  *    shingle→minhash→band→bucket-join pipeline, all shuffle-partitioned by
  *    bucket key so the worst case is the hottest bucket, not n².
  *  - hashes are md5-based (engine-portable, deterministic across runs and
  *    across engines — the DuckDB oracle computes the identical signature).
  */
object Dedup {

  /** Exact dedup, deterministic keep-first by `order`, keyed on the
    * normalized-text fingerprint. */
  def exact(docs: DataFrame, text: Column, order: Seq[Column]): DataFrame =
    Relational.dedupKeepFirst(
      docs.withColumn("fp", TextAnalysis.fingerprint(text)), Seq("fp"), order)

  /** Canonical-form dedup MAP: the aggressive normalization tier between
    * [[exact]] (whitespace/case only) and MinHash (token overlap). The
    * canonical form lowercases, strips everything but letters and spaces
    * (punctuation AND digits — catches trivially-edited copies that differ
    * only in serial numbers, dates, or markup debris), and collapses
    * whitespace; docs equal under that form are one cluster.
    *
    * Unlike [[exact]] this returns one row PER INPUT DOC — a (doc →
    * survivor) mapping, not a filtered corpus. At 100 TB the map is the
    * shape you want: it joins back onto the full corpus (or onto
    * downstream annotation tables) by id, so the expensive text never
    * re-shuffles — only (id, 16-byte fp) pairs do. One exchange on the
    * fingerprint; per-group work is bounded by the dup-cluster size.
    *
    * Returns (id, fp, survivor, n_copies, is_survivor), survivor = min id
    * of the cluster. */
  def canonicalDedupMap(docs: DataFrame, idCol: String, text: Column): DataFrame = {
    val canon = trim(regexp_replace(
      regexp_replace(lower(coalesce(text, lit(""))), "[^a-z\\s]", " "),
      "\\s+", " "))
    val w = Window.partitionBy(col("fp"))
    docs.select(col(idCol), md5(canon).as("fp"))
      .withColumn("survivor", min(col(idCol)).over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("is_survivor", col(idCol) === col("survivor"))
  }

  /** Word k-shingles (default 3) of the text, as space-joined strings.
    * Output: one row per (doc, shingle). */
  def shingles(docs: DataFrame, idCol: String, text: Column, k: Int = 3): DataFrame = {
    val ws = TextAnalysis.words(text)
    docs.select(col(idCol),
        when(size(ws) >= k, sequence(lit(1), size(ws) - (k - 1)))
          .otherwise(array().cast("array<int>")).as("__idx"), ws.as("__ws"))
      .select(col(idCol), explode(col("__idx")).as("__i"), col("__ws"))
      .select(col(idCol),
        array_join(slice(col("__ws"), col("__i"), lit(k)), " ").as("shingle"))
  }

  /** MinHash signature: numHashes columns h0..h{n-1}, where h_i is the min
    * over shingles of a 32-bit (8-hex-char) hash slice. Hashes come in
    * groups of four per md5 call: digest ⌈n/4⌉ seeded md5s per shingle and
    * slice each 32-hex digest into four 8-char hashes — md5 is the hot op
    * of the whole dedup pipeline, and 2 calls/shingle beats 8 with no loss
    * that matters (32-bit min-hash is the standard width; ties across docs
    * need ~2³² shingles). The md5s are STAGED in a projection before the
    * groupBy so each digest is computed once, not once per slice.
    * Lexicographic min over fixed-width lowercase hex == numeric min, so
    * no hex→int conversion is needed (and the oracle can reproduce it).
    * One shuffle (groupBy doc id); map-side partial min keeps it cheap. */
  def minhashSignature(docs: DataFrame, idCol: String, text: Column,
                       numHashes: Int = 8, k: Int = 3): DataFrame = {
    val seeds = (numHashes + 3) / 4
    val staged = shingles(docs, idCol, text, k).select(
      col(idCol) +: (0 until seeds).map(s =>
        md5(concat(lit(s.toString), lit("|"), col("shingle"))).as(s"__m$s")): _*)
    val aggs = (0 until numHashes).map { i =>
      min(substring(col(s"__m${i / 4}"), (i % 4) * 8 + 1, 8)).as(s"h$i")
    }
    staged.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: signatures split into `bands` bands of
    * `rowsPerBand` hashes; docs sharing any band bucket become a candidate
    * pair (a < b). Equi self-join on (band, bucket) — no cross join.
    *
    * `maxBucketSize` caps the self-join blow-up: a degenerate bucket (e.g.
    * a mega-group of identical docs) contributes |bucket|² pairs, which at
    * corpus scale is an n² bomb inside one reducer. Buckets over the cap
    * degrade to STAR edges — every member paired with the bucket's minimum
    * id — which is n-1 rows instead of n²/2: connectivity for downstream
    * [[connectedComponents]] is fully preserved (identical docs share ALL
    * band buckets, so dropping oversized buckets outright — the first cut —
    * would leave exactly the most-duplicated content un-deduped), while
    * pair-level recall inside an oversized bucket is intentionally reduced
    * to the hub's pairs. The hub doc is the residual skew unit in a
    * downstream verify join (it appears n-1 times), bounded by the largest
    * bucket, never by the corpus. Both the size count and the min-id hub
    * are window functions over the SAME (band, bucket) key the join
    * shuffles on, so the cap adds no extra exchange. */
  def lshCandidates(sig: DataFrame, idCol: String,
                    bands: Int, rowsPerBand: Int,
                    maxBucketSize: Int = 10000,
                    minAgree: Int = 0): DataFrame = {
    val numHashes = bands * rowsPerBand
    val w = Window.partitionBy("band", "bucket")
    // localCheckpoint (not cache): the sized bucket table feeds THREE
    // consumers — both sides of the self-join below and the star-edge
    // branch (and every CC iteration downstream) — without reuse the whole
    // shingle→minhash→window pipeline executes once per consumer. Unlike
    // cache(), checkpoint blocks are released by the ContextCleaner when the
    // DataFrame goes out of scope, so repeated calls in a long-lived session
    // don't accumulate cached blocks. Size is |docs| × bands rows of
    // (id, int, string, long, id [, 8 hash slices]): tiny relative to the
    // corpus.
    // minAgree > 0 fuses the MinHash-estimate prefilter INTO the self-join:
    // the full signature rides along in the bucket table (one array column)
    // and pairs must agree on >= minAgree of numHashes positions — same
    // semantics as [[minhashPrefilter]] after the fact, minus its two extra
    // joins and the second materialization of sig. Star edges from
    // oversized buckets are exempt (they exist to preserve connectivity,
    // not to estimate similarity).
    val sigCols =
      if (minAgree > 0) Seq(array((0 until numHashes).map(i => col(s"h$i")): _*).as("__sig"))
      else Nil
    val sized = sig.select(col(idCol) +: explode(lshBands(bands, rowsPerBand)).as("bb") +: sigCols: _*)
      .select(col(idCol) +: col("bb.band").as("band") +: col("bb.bucket").as("bucket") +:
        sigCols.map(_ => col("__sig")): _*)
      .withColumn("__bsz", count(lit(1)).over(w))
      .withColumn("__bmin", min(col(idCol)).over(w))
      .transform(graft.util.Cleanup.checkpoint(_))
    val buckets = sized.filter(col("__bsz") <= maxBucketSize)
      .drop("__bsz", "__bmin")
    val aCols = col("band") +: col("bucket") +: col(idCol).as("a") +:
      sigCols.map(_ => col("__sig").as("__siga"))
    val bCols = col("band") +: col("bucket") +: col(idCol).as("b") +:
      sigCols.map(_ => col("__sig").as("__sigb"))
    val joined = buckets.select(aCols: _*).join(buckets.select(bCols: _*), Seq("band", "bucket"))
      .filter(col("a") < col("b"))
    val smallPairs = (if (minAgree > 0)
        joined.filter(
          aggregate(zip_with(col("__siga"), col("__sigb"),
            (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _) >= minAgree)
      else joined)
      .select("a", "b")
    // oversized buckets: hub = min id, so a < b holds by construction
    val starPairs = sized.filter(col("__bsz") > maxBucketSize && col(idCol) =!= col("__bmin"))
      .select(col("__bmin").as("a"), col(idCol).as("b"))
    smallPairs.union(starPairs).distinct()
  }

  /** A minhash signature's LSH bands: one (band, bucket) struct per band,
    * `bucket` the band's `rowsPerBand` hashes joined by `_`. */
  private def lshBands(bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      val hs = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), concat_ws("_", hs: _*).as("bucket"))
    }: _*)

  /** MinHash-estimate prefilter between candidate generation and exact
    * verification: keep only pairs whose signatures agree on at least
    * `minAgree` of `numHashes` positions (agreement fraction is an unbiased
    * Jaccard estimate). The exact-verify stage explodes a word table and
    * joins it twice per pair — at corpus scale that is the expensive step,
    * and the signatures ALREADY EXIST from candidate generation, so this
    * filter costs two narrow joins against the (|docs| × numHashes) sig
    * table and typically removes the low-similarity majority of band
    * collisions before any text is re-tokenized. Pass the same
    * (localCheckpoint'd) sig both here and to [[lshCandidates]] so the
    * shingle→minhash pipeline materializes once. */
  def minhashPrefilter(pairs: DataFrame, sig: DataFrame, idCol: String,
                       numHashes: Int, minAgree: Int): DataFrame = {
    val sa = sig.select(col(idCol).as("a") +:
      (0 until numHashes).map(i => col(s"h$i").as(s"__a$i")): _*)
    val sb = sig.select(col(idCol).as("b") +:
      (0 until numHashes).map(i => col(s"h$i").as(s"__b$i")): _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"__a$i") === col(s"__b$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sa, Seq("a")).join(sb, Seq("b"))
      .filter(agree >= minAgree)
      .select(col("a"), col("b"))
  }

  /** Exact word-set Jaccard for given (a, b) id pairs — the verification
    * stage after LSH candidate generation. Joins the pair list to an
    * exploded distinct-word table twice; cost is bounded by candidate
    * count, never n². Returns (a, b, jaccard). */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                    text: Column): DataFrame = {
    // Only docs that appear in a candidate pair need tokenizing — a semi
    // join bounds the exploded word table by the candidate count, not the
    // corpus size. localCheckpoint materializes it ONCE for its three
    // consumers (two intersection joins + the size agg) instead of
    // re-deriving the tokenization from raw text per consumer; blocks are
    // freed by the ContextCleaner when the result goes out of scope.
    val ids = pairs.select(col("a").as("__id"))
      .union(pairs.select(col("b").as("__id"))).distinct()
    val w = docs.select(col(idCol).as("__id"),
        explode(array_distinct(TextAnalysis.words(text))).as("w"))
      .join(ids, Seq("__id"), "left_semi")
      .transform(graft.util.Cleanup.checkpoint(_))
    setJaccard(pairs, w)
  }

  /** Exact set Jaccard over a pre-built (\_\_id, w) token table — shared by
    * [[jaccardVerify]] (word sets) and [[charGramJaccard]] (char n-gram
    * sets). `tokens` should be distinct per id and already bounded to the
    * candidate ids (and checkpointed: three consumers). */
  private def setJaccard(pairs: DataFrame, tokens: DataFrame): DataFrame = {
    val sizes = tokens.groupBy("__id").agg(count("*").as("sz"))
    val inter = pairs
      .join(tokens.select(col("__id").as("a"), col("w")), Seq("a"))
      .join(tokens.select(col("__id").as("b"), col("w")), Seq("b", "w"))
      .groupBy("a", "b").agg(count("*").as("inter"))
    // LEFT size joins + fill: a doc with an EMPTY token set (text shorter
    // than a gram / no words) must yield jaccard 0, not silently drop the
    // pair; two empty sets define jaccard as 0 here (mirrored in the
    // oracle SQL)
    val union = col("sza") + col("szb") - col("inter")
    pairs.join(inter, Seq("a", "b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.select(col("__id").as("a"), col("sz").as("sza")), Seq("a"), "left")
      .join(sizes.select(col("__id").as("b"), col("sz").as("szb")), Seq("b"), "left")
      .na.fill(0L, Seq("sza", "szb"))
      .select(col("a"), col("b"),
        when(union === 0, lit(0.0)).otherwise(
          round(col("inter").cast("double") / union.cast("double"), 6))
          .as("jaccard"))
  }

  /** Asymmetric CONTAINMENT for given (a, b) id pairs: |A∩B|/|A| and
    * |A∩B|/|B| over distinct word sets. Symmetric Jaccard dilutes a short
    * doc fully contained in a long one (|A∩B|/|A∪B| ≈ |A|/|B| → 0), so
    * excerpt/quote/boilerplate-embedding relationships need containment —
    * the dedup decision "B quotes all of A" reads c_ab ≈ 1 regardless of
    * length ratio. Same verify-stage scale shape as [[jaccardVerify]]:
    * semi-join-bounded token table, cost tracks candidate count, never n².
    * Empty word sets yield containment 0 (mirrored in the oracle).
    * Returns (a, b, inter, c_ab, c_ba), ratios truncated at 1e-6. */
  def containmentVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                        text: Column): DataFrame = {
    val ids = pairs.select(col("a").as("__id"))
      .union(pairs.select(col("b").as("__id"))).distinct()
    val w = docs.select(col(idCol).as("__id"),
        explode(array_distinct(TextAnalysis.words(text))).as("w"))
      .join(ids, Seq("__id"), "left_semi")
      .transform(graft.util.Cleanup.checkpoint(_))
    val sizes = w.groupBy("__id").agg(count("*").as("sz"))
    val inter = pairs
      .join(w.select(col("__id").as("a"), col("w")), Seq("a"))
      .join(w.select(col("__id").as("b"), col("w")), Seq("b", "w"))
      .groupBy("a", "b").agg(count("*").as("inter"))
    def trunc6(c: Column): Column = floor(c * lit(1e6)).cast("double") / lit(1e6)
    def cont(sz: Column): Column =
      when(sz === 0, lit(0.0))
        .otherwise(trunc6(col("inter").cast("double") / sz.cast("double")))
    pairs.join(inter, Seq("a", "b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.select(col("__id").as("a"), col("sz").as("sza")), Seq("a"), "left")
      .join(sizes.select(col("__id").as("b"), col("sz").as("szb")), Seq("b"), "left")
      .na.fill(0L, Seq("sza", "szb"))
      .select(col("a"), col("b"), col("inter"),
        cont(col("sza")).as("c_ab"), cont(col("szb")).as("c_ba"))
  }

  /** Exact character-n-gram set Jaccard for given (a, b) pairs — the
    * sub-word counterpart of [[jaccardVerify]]: char grams catch
    * morphology/typo/agglutination-level similarity that word sets miss
    * (standard for short or noisy text). Grams are taken over the
    * whitespace-normalized lowercased text, duplicates dropped (SET
    * Jaccard).
    *
    * Scale shape differs deliberately from the word variant: a pairwise
    * verify touches exactly two docs per pair, so instead of exploding
    * grams into a token table and shuffling three joins, the pair join
    * brings the two normalized TEXTS together (docs are small; grams are
    * never materialized as rows) and the fused
    * [[graft.functions.CharGramJaccard]] codegen kernel computes both gram
    * sets and the intersection in one O(|a|+|b|) pass — two equi-joins on
    * the pair ids, zero token-level shuffle (15.6 s -> 0.8 s at sf0.1 vs
    * the staged-HOF form). Docs missing from `docs`, null, or shorter than
    * a gram count as empty sets: jaccard 0, never a dropped pair
    * (mirrored in the oracle). */
  def charGramJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
                      text: Column, n: Int = 3): DataFrame = {
    val ids = pairs.select(col("a").as("__id"))
      .union(pairs.select(col("b").as("__id"))).distinct()
    // semi-join bounds normalization to candidate docs — at corpus scale
    // a verify stage must never tokenize documents no pair references
    val nd = docs
      .select(col(idCol).as("__id"), TextAnalysis.normalized(text).as("__nt"))
      .join(ids, Seq("__id"), "left_semi")
    pairs
      .join(nd.select(col("__id").as("a"), col("__nt").as("__ta")), Seq("a"), "left")
      .join(nd.select(col("__id").as("b"), col("__nt").as("__tb")), Seq("b"), "left")
      .select(col("a"), col("b"),
        TextFunctions.chargramJaccard(col("__ta"), col("__tb"), n).as("jaccard"))
  }

  /** Portable staged-HOF twin of [[charGramJaccard]]'s kernel: per-doc
    * distinct-gram arrays via `transform`+`array_distinct` (normalization
    * materialized ONCE per row — referenced inside the lambda it would be
    * re-evaluated per gram index, O(len^2) regex work), then row-local
    * `array_intersect` at the pair. Value-identical to the kernel; kept
    * (like `simhash16Hof`) as the no-extensions reference implementation
    * and differential-test oracle. */
  private[graft] def charGramJaccardHof(pairs: DataFrame, docs: DataFrame,
      idCol: String, text: Column, n: Int): DataFrame = {
    val ids = pairs.select(col("a").as("__id"))
      .union(pairs.select(col("b").as("__id"))).distinct()
    val nt = col("__nt")
    // guard: Spark's sequence(1, stop) runs DESCENDING when stop < 1, so
    // short texts need an explicit empty-array branch
    val idxs = when(length(nt) >= n, sequence(lit(1), length(nt) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    val gramSets = docs
      .select(col(idCol).as("__id"), TextAnalysis.normalized(text).as("__nt"))
      .join(ids, Seq("__id"), "left_semi")
      .select(col("__id"),
        array_distinct(transform(idxs, i => substr(nt, i, lit(n)))).as("gs"))
    val empty = array().cast("array<string>")
    val ga = coalesce(col("ga"), empty)
    val gb = coalesce(col("gb"), empty)
    val inter = size(array_intersect(ga, gb))
    val union = size(ga) + size(gb) - inter
    pairs
      .join(gramSets.select(col("__id").as("a"), col("gs").as("ga")), Seq("a"), "left")
      .join(gramSets.select(col("__id").as("b"), col("gs").as("gb")), Seq("b"), "left")
      .select(col("a"), col("b"),
        when(union === 0, lit(0.0)).otherwise(
          round(inter.cast("double") / union.cast("double"), 6)).as("jaccard"))
  }

  /** AllPairs/PPJoin-style prefix-filtered EXACT set-similarity self-join:
    * every pair of documents whose distinct-word Jaccard is >= `threshold`,
    * with NO false negatives — the exactness guarantee LSH (q22) trades
    * away for speed. The filter: order each doc's tokens by global document
    * frequency ascending (rarest first, the canonical AllPairs order, so
    * prefix tokens are the LEAST likely to collide), keep only the first
    * p = n - ceil(t*n) + 1 as the doc's prefix, and generate candidates by
    * equi-joining prefixes on the token. Correctness: J(A,B) >= t implies
    * |A∩B| >= ceil(t*|A|) (from i >= t(|A|+|B|-i) and |B| >= i), while a
    * pair sharing no prefix token has |A∩B| <= |A| - p = ceil(t*|A|) - 1 —
    * so every qualifying pair shares a prefix token on BOTH sides. The
    * survivors go through the exact [[jaccardVerify]].
    *
    * Scale: df is one word-keyed agg; prefix selection is one window per
    * doc (the per-doc token list is bounded by doc length, not corpus
    * size); the candidate join is keyed on RARE tokens by construction —
    * the hottest key's fan-out is df(p-th rarest token)², the quantity the
    * t-dependent prefix explicitly minimizes. High thresholds → 1-2 token
    * prefixes → near-linear candidate volume where brute force is n².
    * CAVEAT: that selectivity premise needs a Zipfian vocabulary (real
    * text). On a tiny closed vocabulary where every df ≈ N (the synthetic
    * corpus), every doc's rarest token is one of a handful of words and
    * the prefix buckets — like every other token-blocking scheme —
    * degenerate toward n²; sample or shard the corpus first. */
  def prefixFilterJaccard(docs: DataFrame, idCol: String, text: Column,
                          threshold: Double): DataFrame = {
    // tokenization feeds df counting AND the ordered join; prefixes feed
    // both sides of the candidate self-join — materialize each once
    val wd = docs.select(col(idCol).as("__id"),
      explode(array_distinct(TextAnalysis.words(text))).as("w"))
      .transform(graft.util.Cleanup.checkpoint(_))
    val dfreq = wd.groupBy("w").agg(count(lit(1)).as("__df"))
    val ordered = wd.join(dfreq, Seq("w"))
      .withColumn("__sz", count(lit(1)).over(Window.partitionBy("__id")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__id").orderBy(col("__df"), col("w"))))
    val pref = ordered
      .filter(col("__rn") <= col("__sz") - ceil(lit(threshold) * col("__sz")) + 1)
      .select(col("__id"), col("w"))
      .transform(graft.util.Cleanup.checkpoint(_))
    val cand = pref.select(col("__id").as("a"), col("w"))
      .join(pref.select(col("__id").as("b"), col("w")), Seq("w"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    jaccardVerify(cand, docs, idCol, text)
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over an undirected edge list (a, b) — the step
    * that turns near-dup candidate PAIRS into dedup CLUSTERS (keep one doc
    * per component). Iterative minimum-label propagation: each round every
    * vertex takes the min label among itself and its neighbors; converges
    * in O(log diameter) rounds (the pointer-jump below doubles reach per
    * round), each round one shuffle on the vertex id. For pretraining-dedup
    * graphs (tiny diameter, mostly size-2 components) this beats any
    * driver-side union-find because the edge list never leaves the cluster.
    * `maxIter` is a BACKSTOP, not a budget: the loop exits at the fixpoint
    * (detected by an exact label-sum probe, one extra round), so the
    * default 40 covers ~2^38 diameter at zero cost for real graphs — and
    * hitting it without convergence FAILS LOUD rather than returning
    * silently unconverged labels (DedupSpec drives a 20k-diameter path and
    * ring through; ScaleCheck `cc_diameter` probes 64× that).
    * Returns (id, component) with component = min id in the component. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 40,
                          localEdgeCap: Long = 1L << 20): DataFrame = {
    // materialize the edge list once: every round joins against it, and an
    // uncached lineage would re-run the upstream candidate generation
    // (shingle→minhash→bands) once per iteration
    val und = edges.select(col("a").as("x"), col("b").as("y"))
      .union(edges.select(col("b").as("x"), col("a").as("y")))
      .transform(graft.util.Cleanup.checkpoint(_))
    // Small-graph fast path: below `localEdgeCap` edges, a driver-side
    // union-find replaces the iterative ladder. The collect is BOUNDED by
    // the explicit cap — 2^20 deduped edges ≈ 1M boxed (Long, Long)
    // tuples ≈ 100-200 MB transient driver heap, well inside the bench
    // driver's 16 g but a deliberate sizing choice, not "free" — the gate
    // itself is the bound, same argument as centroids/codebooks, and the
    // count that decides it scans the just-checkpointed blocks.
    // Rationale: each distributed round costs 3 sequential shuffle stages
    // plus a probe action (~0.4 s fixed at any size), so a 3-round run on
    // a 10k-edge graph pays ~1.5 s for work a single core does in
    // microseconds. At 100 TB the near-dup edge list blows past the cap
    // and the pointer-jump ladder below runs unchanged (ScaleCheck's
    // cc_diameter probe pins that path via localEdgeCap = 0).
    val integralId = und.schema("x").dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (integralId && localEdgeCap > 0 && und.count() <= 2 * localEdgeCap) {
      import und.sparkSession.implicits._
      // x <= y keeps each undirected edge ONCE (union-find needs one
      // direction) while retaining self-loops, whose vertices must still
      // appear in the output — halves the collected volume vs raw `und`
      // drop null-keyed edges BEFORE decoding: .as[(Long, Long)] NPEs on a
      // null id, whereas the distributed ladder tolerates them (null join
      // keys simply never match) — behavior must not diverge across the gate
      val es = und.select(col("x").cast("long"), col("y").cast("long"))
        .filter(col("x").isNotNull && col("y").isNotNull && col("x") <= col("y"))
        .as[(Long, Long)].collect()
      val parent = new java.util.HashMap[Long, Long]()
      def find(a: Long): Long = {
        var r = a
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = a // path compression
        while (parent.getOrDefault(c, c) != c) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      es.foreach { case (x, y) =>
        parent.putIfAbsent(x, x); parent.putIfAbsent(y, y)
        val (rx, ry) = (find(x), find(y))
        // union by min root so the representative is already the min id
        if (rx < ry) parent.put(ry, rx) else if (ry < rx) parent.put(rx, ry)
      }
      val ids = parent.keySet().toArray(Array.empty[java.lang.Long]).map(_.longValue())
      val idT = und.schema("x").dataType
      return ids.toSeq.map(id => (id, find(id))).toDF("id", "component")
        .select(col("id").cast(idT).as("id"),
          col("component").cast(idT).as("component"))
    }
    val verts = und.select(col("x").as("id")).distinct()
    // localCheckpoint (not cache) ONCE per round: caching leaves the logical
    // plan growing — the jump self-join doubles the subtree per iteration,
    // so analysis time explodes exponentially; checkpointing truncates the
    // lineage so every round plans O(1) nodes. Fusing propagate + jump into
    // a single checkpointed plan halves the per-round job count; the
    // propagate subtree feeds both sides of the jump self-join, and its
    // internal shuffle stages run once (exchange/stage reuse dedupes the
    // identical subtrees — AQE caches shuffle stages by semantic equality).
    var labels = verts.withColumn("component", col("id")).transform(graft.util.Cleanup.checkpoint(_))
    // labels only ever decrease, so an unchanged sum ⇔ a fixpoint — one
    // cheap scan of the just-checkpointed labels instead of a join-based
    // diff. Initializing prevSum from the vertex ids also covers the
    // zero-edge case without a separate isEmpty action: empty verts sum
    // to 0 (null-safe read), round 1 sums to 0 again, loop exits.
    // DECIMAL(38,0), not BIGINT: ids near Long.MaxValue would wrap a long
    // sum (two 2^63-ish ids overflow), and a wrapped sum could coincide
    // across rounds and stop the loop early; the decimal sum is exact up
    // to 10^38 — 100T vertices of max-long ids stay under 10^33.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(
        sum(col("component").cast(org.apache.spark.sql.types.DecimalType(28, 0)))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // (1) propagate: take the min label among self and direct neighbors
      val nbrMin = und
        .join(labels.withColumnRenamed("id", "y").withColumnRenamed("component", "nc"), Seq("y"))
        .groupBy(col("x").as("id")).agg(min(col("nc")).as("nbr_min"))
      val prop = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr_min"), col("component"))).as("component"))
      // (2) pointer-jump: also adopt the label OF my label — doubles the
      // effective hop distance per round, so chains converge in
      // O(log diameter) rounds instead of O(diameter). ONE jump per round
      // is the measured optimum: a second jump halves the round count
      // (~19 → 10 on a 262k path) but adds a 4th sequential shuffle stage
      // to every round, netting +30% wall — with AQE running stages
      // serially, rounds × stages-per-round is the latency product, and
      // 19×3 < 10×5 once per-round planning overhead is counted.
      val lbl2 = prop.select(col("id").as("cid"), col("component").as("c2"))
      labels = prop.join(lbl2, col("component") === col("cid"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("c2"), col("component"))).as("component"))
        .transform(graft.util.Cleanup.checkpoint(_))
      // probe every round: the probe is one parallel scan of checkpointed
      // blocks (no shuffle beyond the final reduce) while a skipped-probe
      // extra round costs a full join+agg+self-join pipeline
      val sumNow = labelSum(labels)
      converged = sumNow.compareTo(prevSum) == 0
      prevSum = sumNow
      i += 1
    }
    require(converged,
      s"connectedComponents: no fixpoint after $maxIter rounds — the " +
        "component diameter exceeds the pointer-jump reach; raise maxIter " +
        "(unconverged labels would silently split components)")
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      System.err.println(s"[cc] converged in $i rounds")
    labels
  }

  /** Near-dup clusters end-to-end: MinHash → LSH candidates → (optionally
    * Jaccard-verified) edges → connected components; docs not in any pair
    * are their own singleton component. */
  def nearDupClusters(docs: DataFrame, idCol: String, text: Column,
                      bands: Int = 4, rowsPerBand: Int = 2,
                      minJaccard: Double = 0.0,
                      maxBucketSize: Int = 10000): DataFrame = {
    val sig = minhashSignature(docs, idCol, text, bands * rowsPerBand)
    val cand = lshCandidates(sig, idCol, bands, rowsPerBand, maxBucketSize)
    val edges =
      if (minJaccard > 0)
        jaccardVerify(cand, docs, idCol, text).filter(col("jaccard") >= minJaccard)
          .select("a", "b")
      else cand
    val cc = connectedComponents(edges)
    docs.select(col(idCol))
      .join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("component"))
  }

  /** Incremental exact dedup: keep only the rows of a NEW batch whose
    * normalized-text fingerprint is absent from an existing corpus.
    *
    * A plain anti-join would shuffle the ENTIRE corpus's fingerprints
    * against every ingest batch — at the 100 TB tier that is the corpus
    * scan dominating a (comparatively tiny) daily batch. Instead:
    *  1. build a Bloom filter over the corpus fingerprints with a
    *     distributed `stat.bloomFilter` (treeAggregate: partial filters
    *     OR-merged up, only the final bit array — sized by
    *     `expectedItems`/`fpp`, e.g. ~1.2 GB for 1e9 docs at 1% — lands
    *     on the driver and broadcasts);
    *  2. rows whose fingerprint the bloom DEFINITELY does not contain
    *     (no false negatives) pass through with no join at all — at a
    *     mostly-novel ingest that is almost the whole batch;
    *  3. only the `mightContain` sliver (true dups + fpp false positives)
    *     anti-joins the corpus for exact verification.
    * The result is exactly the anti-join's (the oracle checks that), but
    * the shuffled volume is fpp-proportional, not corpus-proportional.
    *
    * §2.10 note: the probe uses Spark's native `BloomFilterMightContain`
    * over a `bloom_filter_agg` scalar subquery — the exact expression
    * pair Spark's own runtime row-level filtering injects — so both the
    * build (treeAggregate-style partial-filter OR-merge inside the
    * aggregate) and the probe (codegen'd, filter deserialized once per
    * task) stay on the native path: no Scala UDF, no driver-built
    * structure, no codegen break in the filter. */
  def incrementalDedup(newDocs: DataFrame, corpus: DataFrame,
                       text: Column, corpusText: Column,
                       expectedItems: Long = 1000000L,
                       fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    val fresh = newDocs.withColumn("__fp", TextAnalysis.fingerprint(text))
    val seen = corpus.select(TextAnalysis.fingerprint(corpusText).as("__fp"))
    // optimal bit count for (n, fpp): -n·ln(p)/ln(2)² — the standard
    // Bloom sizing formula, identical to what stat.bloomFilter solves
    val numBits = math.max(64L,
      math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bloomCol = Bridge.columnOf(
      new BloomFilterAggregate(Bridge.expressionOf(xxhash64(col("__fp"))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val bloomPlan = seen.agg(bloomCol.as("__bloom")).queryExecution.analyzed
    def probe: Column = Bridge.columnOf(BloomFilterMightContain(
      ScalarSubquery(bloomPlan), Bridge.expressionOf(xxhash64(col("__fp")))))
    val definiteNew = fresh.filter(!probe)
    val verifiedNew = fresh.filter(probe)
      .join(seen, Seq("__fp"), "left_anti")
    definiteNew.unionByName(verifiedNew).drop("__fp")
  }

  // ---- at-rest near-dup indexes: three tiers, one lifecycle -----------------
  // An index tier is a value: its layout (partition column, in-partition
  // sort keys), its index rows computed from docs plus the layout facts,
  // and its corpus×batch pair algebra. Build, probe+append, streaming
  // ingest, delete, rescale and compact are written once over it.
  //
  // Every tier keeps a tiny doc store beside its rows, the `_docmap`
  // reverse map (r17): one (id, pb) row per index partition holding that
  // id's rows, hive-partitioned by dm = hash(id) mod partitions. Without
  // it, DELETE(ids) cannot find the partitions holding a victim's rows
  // short of scanning the whole index (a doc's partitions are functions of
  // its TEXT, which a delete no longer has) — the same reason the ⊕A53
  // inverted-index layout keeps its doc store. The map rides the SAME
  // LayoutTxn commit as the index rows, so the two never diverge under a
  // crash or a racing writer.
  private val DedupDocMap = "_docmap"

  /** A near-dup index tier: [[Lsh]] (minhash band buckets, whole-doc
    * Jaccard), [[Winnow]] (winnowing fingerprints, contained copies) or
    * [[Simhash]] (pigeonhole bands, Hamming distance). Each is built by its
    * `write*Index` builder, whose hashing parameters and partition count
    * are commit props — the layout facts every probe, delete and rescale
    * reads back from the snapshot instead of trusting caller arguments (a
    * probe with different parameters would silently find nothing).
    *
    * Every partition key is `hash(keys) mod partitions` over STORED row
    * columns (`lb = hash(band, bucket)`, `fb = hash(fp)`, `sb = hash(band,
    * bval)`), so a rescale is a column rewrite over the index rows and the
    * corpus text is never re-read. */
  sealed abstract class Tier(builder: String, pCol: String,
                             keys: Seq[String]) {

    /** The index rows of `docs` without their partition key, hashing
      * parameters from `fact`. */
    protected def stored(docs: DataFrame, idCol: String, text: Column,
                         fact: String => Int): DataFrame

    /** Candidate pairs (corpus id `a`, batch id `b`, tier columns) between
      * the probed corpus rows and a batch's rows. */
    protected def pairsOf(corpus: DataFrame, batch: DataFrame, idCol: String,
                          fact: String => Int): DataFrame

    private def sortCols(idCol: String): Seq[String] = keys :+ idCol

    private def partition(n: Int): Column =
      pmod(hash(keys.map(col): _*), lit(n))

    private def parts(c: String, ids: Seq[Int]): Seq[String] =
      ids.map(b => s"$c=$b")

    /** The index rows of `docs` with their partition key. */
    private[dedup] def rows(docs: DataFrame, idCol: String, text: Column,
                            fact: String => Int): DataFrame =
      stored(docs, idCol, text, fact)
        .withColumn(pCol, partition(fact("partitions")))

    /** A whole index as commit groups: its rows partitioned by the tier's
      * column and their `_docmap`, both over `0 until partitions`. */
    private[Dedup] def groups(rows: DataFrame, idCol: String,
                              partitions: Int): Seq[LayoutTxn.Group] =
      Seq(LayoutTxn.Group("", rows, pCol, sortCols(idCol),
          parts(pCol, 0 until partitions)),
        LayoutTxn.Group(DedupDocMap, docMapRows(rows, idCol, partitions),
          "dm", Seq("pb", idCol), parts("dm", 0 until partitions)))

    private def docMapRows(rows: DataFrame, idCol: String,
                           partitions: Int): DataFrame =
      rows.select(col(idCol), col(pCol).cast("int").as("pb")).distinct()
        .withColumn("dm", pmod(hash(col(idCol)), lit(partitions)))

    /** The index's persisted id type: victims and batches are cast to it
      * before hashing, because Murmur3 of an INT 5 differs from a LONG 5 —
      * a narrower caller type would land (or probe) the wrong dm= partition
      * and a delete would silently miss. */
    private def idType(spark: SparkSession, dir: String, idCol: String) =
      LayoutTxn.readLayout(spark, dir, DedupDocMap, "dm").schema(idCol).dataType

    /** The shared probe behind [[upsert]] and [[ingestBatch]]: compute the
      * batch's rows from the snapshot's facts, read ONLY the partitions they
      * hash into (driver-pruned immutable dirs — snapshot isolated, so the
      * returned pair plan stays valid across later ingests), and pair
      * corpus × batch. Returns the pairs, the index group and the `_docmap`
      * group. Both groups are APPEND runs (r18): the probed corpus rows are
      * read for the pairs but never rewritten, so ingest write cost is
      * O(batch); compaction folds runs back. */
    private def probe(spark: SparkSession, dir: String, newDocs: DataFrame,
                      idCol: String, text: Column)
        : (DataFrame, LayoutTxn.Group, LayoutTxn.Group) = {
      val snap = LayoutTxn.snapshot(dir)
      val fact = (key: String) => LayoutTxn.fact(snap, key, builder)
      val partitions = fact("partitions")
      val newRows = rows(newDocs, idCol, text, fact)
        .transform(graft.util.Cleanup.checkpoint(_))
      val touched = newRows.select(pCol).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val existing = LayoutTxn.readSnapshot(spark, snap, "", pCol,
        Some(parts(pCol, touched).toSet))
      // the map's dm partitions are hash(id) of the PERSISTED id type
      val nm = docMapRows(
        newRows.withColumn(idCol, col(idCol).cast(idType(spark, dir, idCol))),
        idCol, partitions)
      val dmTouched = nm.select("dm").distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      (pairsOf(existing, newRows, idCol, fact),
        LayoutTxn.Group("", newRows, pCol, sortCols(idCol),
          parts(pCol, touched), append = true),
        LayoutTxn.Group(DedupDocMap, nm, "dm", Seq("pb", idCol),
          parts("dm", dmTouched), append = true))
    }

    /** Probe + append one NEW batch against the tier's index at `dir`:
      * returns the (corpus id `a`, new id `b`, …) candidate pairs and
      * appends the batch's rows through the [[graft.layout.LayoutTxn]]
      * stage/CAS-claim/publish protocol (a concurrent ingest gets
      * `ConflictException`; a crashed one rolls forward; readers keep
      * their snapshot). Probe cost follows the BATCH's partitions, never
      * the corpus (the ⊕J25 shape). Append-only: batch ids are assumed new
      * (the q61 ingest contract) — re-ingesting an id duplicates its rows. */
    def upsert(spark: SparkSession, dir: String, newDocs: DataFrame,
               idCol: String, text: Column,
               txnGraceMs: Long = 600000L): DataFrame = {
      val parent = LayoutTxn.begin(dir, txnGraceMs)
      val (pairs, index, docMap) = probe(spark, dir, newDocs, idCol, text)
      LayoutTxn.commit(spark, dir, parent, Seq(index, docMap))
      pairs
    }

    /** EXACTLY-ONCE streaming ingest (⊕K8 × ⊕J25): the foreachBatch form
      * of [[upsert]] whose candidate pairs are delivered through the
      * index's own commit. Each micro-batch commits its index rows, its
      * pairs partitioned by batch (sub "pairs") and its `_docmap` rows in
      * ONE LayoutTxn CAS with the batchId recorded in the version state. A
      * replayed micro-batch (crash after the commit, before the streaming
      * checkpoint ack) is skipped WHOLE — including one whose commit was
      * claimed but not yet published ([[LayoutTxn.beginBatch]]) — so the
      * index gains the batch's rows exactly once AND the pair log holds
      * its pairs exactly once: the two-store atomicity problem solved by
      * sharing the commit. */
    def ingestBatch(spark: SparkSession, dir: String, batch: DataFrame,
                    idCol: String, text: Column, batchId: Long,
                    txnGraceMs: Long = 600000L): Unit = {
      val parent = LayoutTxn.beginBatch(dir, batchId, txnGraceMs)
        .getOrElse(return) // a replayed batch
      val (pairs, index, docMap) = probe(spark, dir, batch, idCol, text)
      LayoutTxn.commit(spark, dir, parent, Seq(index,
        LayoutTxn.Group("pairs", pairs.withColumn("batch", lit(batchId)),
          "batch", Seq("a", "b"), Seq(s"batch=$batchId")),
        docMap), batchId = batchId)
      ()
    }

    /** foreachBatch adapter for [[ingestBatch]] — plug straight into
      * `writeStream.foreachBatch`. */
    def ingestSink(dir: String, idCol: String,
                   text: Column): (DataFrame, Long) => Unit =
      (batch, id) =>
        ingestBatch(batch.sparkSession, dir, batch, idCol, text, id)

    /** DELETE(ids) (⊕J25/⊕J26/⊕J27, r17): the victims' `dm=` reverse-map
      * partitions are read (driver-pruned) to locate exactly the index
      * partitions holding their rows; those partitions are rewritten minus
      * the victims and the victims' map rows are removed — BOTH subtrees in
      * ONE LayoutTxn commit. Cost follows the victims' partitions, never
      * the corpus; a partition emptied by the delete leaves the snapshot
      * (physical reclamation by begin()'s two-phase sweep). The maintained
      * index equals one rebuilt without the victims, so probes can never
      * return a victim. Returns the touched index partition ids. */
    def delete(spark: SparkSession, dir: String, victims: DataFrame,
               idCol: String, txnGraceMs: Long = 600000L): Seq[Int] = {
      val parent = LayoutTxn.begin(dir, txnGraceMs)
      // the partition count resolves AFTER begin() (r18): a rescale that
      // committed before it would otherwise leave dm probes computed with
      // the OLD count silently missing every victim — resolved here, any
      // rescale landing later conflicts at the CAS
      val partitions = LayoutTxn.fact(LayoutTxn.snapshot(dir), "partitions",
        builder)
      val ids = victims
        .select(col(idCol).cast(idType(spark, dir, idCol)).as(idCol))
        .distinct().transform(graft.util.Cleanup.checkpoint(_))
      val dmTouched = ids
        .select(pmod(hash(col(idCol)), lit(partitions)).as("dm")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val dmAll = LayoutTxn.readLayout(spark, dir, DedupDocMap,
        "dm", Some(parts("dm", dmTouched).toSet))
      val pbTouched = dmAll.join(ids, Seq(idCol), "left_semi")
        .select("pb").distinct().collect().map(_.getInt(0)).toSeq.sorted
      if (pbTouched.isEmpty) return Seq.empty // no victim has indexed rows
      val survivors = LayoutTxn.readLayout(spark, dir, "", pCol,
          Some(parts(pCol, pbTouched).toSet))
        .join(ids, Seq(idCol), "left_anti")
      val dmSurvivors = dmAll.join(ids, Seq(idCol), "left_anti")
        .select(col(idCol), col("pb"), col("dm"))
      LayoutTxn.commit(spark, dir, parent, Seq(
        LayoutTxn.Group("", survivors, pCol, sortCols(idCol),
          parts(pCol, pbTouched)),
        LayoutTxn.Group(DedupDocMap, dmSurvivors, "dm",
          Seq("pb", idCol), parts("dm", dmTouched))))
      pbTouched
    }

    /** RESCALE to a new partition count (r18 — the MergeTable REBUCKET
      * shape at the index tier): the partition key recomputes from the
      * stored key columns, the `_docmap` re-derives from the re-keyed rows
      * (its `pb` values ARE partition ids) in the SAME commit, and the
      * `partitions` prop flips atomically with the partition map; probes,
      * ingests and deletes then read the new count from the layout itself.
      * The pair log (partitioned by batch) is count-independent and rides
      * untouched. Cost is O(index bytes) — the deliberate amortized full
      * rewrite. Returns the committed (or, for the current count, the
      * current) version. */
    def rescale(spark: SparkSession, dir: String, idCol: String,
                newPartitions: Int, txnGraceMs: Long = 600000L): Long = {
      require(newPartitions >= 1,
        s"newPartitions must be >= 1, got $newPartitions")
      val parent = LayoutTxn.begin(dir, txnGraceMs)
      val snap = LayoutTxn.snapshot(dir)
      if (LayoutTxn.fact(snap, "partitions", builder) == newPartitions)
        return snap.version
      val rows = LayoutTxn.readSnapshot(spark, snap, "", pCol)
        .withColumn(pCol, partition(newPartitions))
        .transform(graft.util.Cleanup.checkpoint(_))
      LayoutTxn.commit(spark, dir, parent,
        LayoutTxn.whole(snap, groups(rows, idCol, newPartitions)),
        props = Map("partitions" -> newPartitions.toString))
    }

    /** Fold a fragmented index — [[graft.layout.LayoutTxn.compactStale]]
      * with this layout's own in-partition sort orders. */
    def compact(spark: SparkSession, dir: String, idCol: String,
                maxOwners: Int = 4, txnGraceMs: Long = 600000L): Long =
      LayoutTxn.compactStale(spark, dir,
        Map("" -> sortCols(idCol), DedupDocMap -> Seq("pb", idCol),
          "pairs" -> Seq("a", "b")),
        maxOwners, txnGraceMs)
  }

  /** The minhash band-bucket tier: one row per (doc, band) with the band's
    * concatenated hash bucket. Pairs are docs sharing any band bucket —
    * feed [[jaccardVerify]] / [[minhashPrefilter]] exactly as with
    * [[lshCandidates]]. `maxBucketSize` df-caps degenerate corpus buckets
    * before the equi-join (boilerplate-heavy buckets cost recall, never
    * n²). */
  final case class Lsh(maxBucketSize: Int = 10000)
      extends Tier("Dedup.writeLshIndex", "lb", Seq("band", "bucket")) {
    protected def stored(docs: DataFrame, idCol: String, text: Column,
                         fact: String => Int): DataFrame = {
      val (numHashes, bands) = (fact("numHashes"), fact("bands"))
      minhashSignature(docs, idCol, text, numHashes, fact("k"))
        .select(col(idCol), explode(lshBands(bands, numHashes / bands)).as("bb"))
        .select(col(idCol), col("bb.band").as("band"),
          col("bb.bucket").as("bucket"))
    }

    protected def pairsOf(corpus: DataFrame, batch: DataFrame, idCol: String,
                          fact: String => Int): DataFrame =
      corpus.withColumn("__bsz",
          count(lit(1)).over(Window.partitionBy("band", "bucket")))
        .filter(col("__bsz") <= maxBucketSize)
        .select(col("band"), col("bucket"), col(idCol).as("a"))
        .join(batch.select(col("band"), col("bucket"), col(idCol).as("b")),
          Seq("band", "bucket"))
        .filter(col("a") =!= col("b"))
        .select(col("a"), col("b")).distinct()
  }

  /** The winnowing-fingerprint tier — [[winnowingCandidates]]' algebra
    * restricted across the corpus×batch split: pairs share at least
    * `minShared` fingerprints, with (a, b, n_shared) rows. All rows of one
    * fingerprint share a partition, so the `maxDocFreq` df-cap computed
    * over (probed corpus ∪ batch) is the fingerprint's TRUE corpus-wide
    * frequency and matches a full recomputation exactly — after deletes
    * and rescales too. MinHash scores WHOLE-doc similarity; this catches a
    * pasted paragraph inside an otherwise-new doc. */
  final case class Winnow(maxDocFreq: Int = 10, minShared: Int = 2)
      extends Tier("Dedup.writeWinnowIndex", "fb", Seq("fp")) {
    protected def stored(docs: DataFrame, idCol: String, text: Column,
                         fact: String => Int): DataFrame =
      winnowRows(docs, idCol, text, fact("k"), fact("w"))

    protected def pairsOf(corpus: DataFrame, batch: DataFrame, idCol: String,
                          fact: String => Int): DataFrame = {
      val all = corpus.select(col(idCol), col("fp"))
        .withColumn("__new", lit(false))
        .unionByName(batch.select(col(idCol), col("fp"))
          .withColumn("__new", lit(true)))
        .withColumn("__df", count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("__df") <= maxDocFreq)
      all.filter(!col("__new")).select(col("fp"), col(idCol).as("a"))
        .join(all.filter(col("__new")).select(col("fp"), col(idCol).as("b")),
          Seq("fp"))
        .filter(col("a") =!= col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
    }
  }

  /** The SimHash pigeonhole tier: one row per (doc, band) carrying the
    * FULL fingerprint, so the exact Hamming verify needs no second corpus
    * read; (a, b, dist) pairs within the index's `maxDist`, one row per
    * pair (the first-matching-band rule). The split is LOSSLESS for that
    * `maxDist`: a pair within it differs in ≤ maxDist positions, so one of
    * the maxDist+1 bands matches exactly and its partition is among the
    * batch's — a per-pair property of the banding, untouched by deletes
    * and rescales. */
  case object Simhash
      extends Tier("Dedup.writeSimhashIndex", "sb", Seq("band", "bval")) {
    protected def stored(docs: DataFrame, idCol: String, text: Column,
                         fact: String => Int): DataFrame =
      simhashRows(docs, idCol, text, fact("maxDist"))

    protected def pairsOf(corpus: DataFrame, batch: DataFrame, idCol: String,
                          fact: String => Int): DataFrame =
      simhashJoin(corpus, batch, idCol, col("a") =!= col("b"),
        fact("maxDist"))
  }

  /** One [[graft.layout.LayoutTxn.rebuild]] commit writes a whole index,
    * with `facts` (hashing parameters and `partitions`) as commit props. */
  private def writeDedupIndex(tier: Tier, docs: DataFrame, idCol: String,
                              text: Column, dir: String,
                              facts: Map[String, Int]): Unit = {
    val rows = tier.rows(docs, idCol, text, facts)
      .transform(graft.util.Cleanup.checkpoint(_))
    LayoutTxn.rebuild(rows.sparkSession, dir,
      tier.groups(rows, idCol, facts("partitions")),
      facts.map { case (k, v) => k -> v.toString })
    ()
  }

  /** Every pair a tier's streaming ingest has delivered so far, with its
    * micro-batch id: (batch, a, b, …) with the tier's pair columns — a
    * snapshot-isolated read of the commits' own pair log. */
  def ingestPairs(spark: SparkSession, dir: String): DataFrame = {
    val log = LayoutTxn.readLayout(spark, dir, "pairs", "batch")
    log.select(col("batch") +: log.columns.filter(_ != "batch").map(col): _*)
  }

  /** AT-REST [[Lsh]] index for INCREMENTAL near-dup ingest dedup (⊕J8 ×
    * ⊕K10): the corpus's minhash band buckets hive-partitioned by
    * `lb = hash(band, bucket) mod partitions` — [[incrementalDedup]]'s
    * bounded-ingest discipline upgraded from exact-hash to NEAR-dup. At
    * 100 TB the index is |corpus| × bands tiny rows, a small fraction of
    * the corpus, and a probe's cost follows the BATCH's band keys. */
  def writeLshIndex(docs: DataFrame, idCol: String, text: Column,
                    dir: String, numHashes: Int = 8, bands: Int = 4,
                    partitions: Int = 16, k: Int = 3): Unit = {
    require(numHashes % bands == 0, s"numHashes $numHashes % bands $bands != 0")
    writeDedupIndex(Lsh(), docs, idCol, text, dir, Map(
      "numHashes" -> numHashes, "bands" -> bands, "k" -> k,
      "partitions" -> partitions))
  }

  /** AT-REST [[Winnow]] index for INCREMENTAL contained-copy ingest: the
    * corpus's winnowing fingerprints hive-partitioned by
    * `fb = hash(fp) mod partitions`. */
  def writeWinnowIndex(docs: DataFrame, idCol: String, text: Column,
                       dir: String, k: Int = 8, w: Int = 4,
                       partitions: Int = 16): Unit =
    writeDedupIndex(Winnow(), docs, idCol, text, dir,
      Map("k" -> k, "w" -> w, "partitions" -> partitions))

  /** AT-REST [[Simhash]] index for INCREMENTAL near-dup ingest (⊕J12 ×
    * ⊕K10): the corpus's pigeonhole band rows hive-partitioned by
    * `sb = hash(band, bval) mod partitions`. MinHash LSH approximates set
    * Jaccard; SimHash Hamming catches small token-level perturbations. */
  def writeSimhashIndex(docs: DataFrame, idCol: String, text: Column,
                        dir: String, maxDist: Int = 2,
                        partitions: Int = 16): Unit =
    writeDedupIndex(Simhash, docs, idCol, text, dir,
      Map("maxDist" -> maxDist, "partitions" -> partitions))

  /** Winnowing-fingerprint near-dup candidates (the rolling-hash tier of
    * the dedup ladder — exact ⊂ winnowing ⊂ MinHash/LSH): docs sharing at
    * least `minShared` winnowing fingerprints
    * ([[graft.text.TextAnalysis.winnowFingerprints]]), i.e. at least
    * `minShared` verbatim `k`-char runs. Complements MinHash: winnowing
    * catches *contained* copies (a paragraph pasted into an otherwise
    * different doc) that whole-doc Jaccard dilutes below threshold.
    *
    * Scale shape, same discipline as [[lshCandidates]]:
    *  - fingerprints explode to (fp, id) and every downstream step —
    *    document-frequency count and self-join — shuffles on the SAME `fp`
    *    key, so the df-filter window adds no extra exchange;
    *  - `maxDocFreq` drops "stopword" fingerprints (a fp shared by more
    *    docs than that is boilerplate, not copying — the winnowing paper's
    *    own recommendation) BEFORE the self-join, bounding every bucket at
    *    maxDocFreq² pairs: no degenerate-bucket n² blow-up, the same bomb
    *    [[lshCandidates]]' maxBucketSize defuses;
    *  - output is grouped on (a, b) — count(shared fps) is a map-side
    *    partial agg on the join's own partitioning. */
  def winnowingCandidates(docs: DataFrame, idCol: String, text: Column,
                          k: Int = 8, w: Int = 4,
                          maxDocFreq: Int = 10,
                          minShared: Int = 2): DataFrame = {
    val fps = winnowRows(docs, idCol, text, k, w)
    val dfw = Window.partitionBy("fp")
    // No localCheckpoint here, deliberately (contrast [[lshCandidates]],
    // whose bucket table feeds an ITERATIVE consumer): both self-join
    // sides shuffle on the same `fp` key, so ReuseExchange serves the
    // second side from the first side's shuffle files — the kernel,
    // explode, and shuffle write run ONCE (ReusedExchange asserted in
    // PlanQualitySpec). Only the post-shuffle Sort+Window re-execute per
    // side, and they read local shuffle blocks. A measured checkpoint
    // variant was strictly slower: materialization costs more than the
    // post-shuffle re-execution it avoids, at every scale where shuffle
    // reuse holds.
    val rare = fps.withColumn("__df", count(lit(1)).over(dfw))
      .filter(col("__df") <= maxDocFreq).drop("__df")
    val a = rare.select(col("fp"), col(idCol).as("a"))
    val b = rare.select(col("fp"), col(idCol).as("b"))
    a.join(b, Seq("fp")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** One (id, fp) row per winnowing fingerprint of each doc. */
  private def winnowRows(docs: DataFrame, idCol: String, text: Column,
                         k: Int, w: Int): DataFrame =
    docs.select(col(idCol),
      explode(TextAnalysis.winnowFingerprints(text, k, w)).as("fp"))

  /** 16-bit SimHash over the word multiset, engine-portable: bit i of a
    * word's hash = high bit of hex digit i of md5(word); signature bit i =
    * 1 iff Σ_words (±1) > 0. Returned as a 16-char '0'/'1' string (stable
    * lexicographic grouping key; hamming distance = differing chars).
    * Native codegen kernel ([[graft.functions.SimHash16]]): one md5 per
    * word and one fused counter loop, instead of 16 interpreted folds. */
  def simhash16(text: Column): Column =
    graft.functions.TextFunctions.simhash16(text)

  /** Contiguous band cuts distributing `bits` fingerprint positions over
    * `bands` bands: (1-indexed start, length) per band. Shared by the
    * Spark plan and the oracle-SQL mirror so both engines cut identically. */
  def simhashBandCuts(bands: Int, bits: Int = 16): Seq[(Int, Int)] = {
    val base = bits / bands
    val rem = bits % bands
    (0 until bands).map { b =>
      (b * base + math.min(b, rem) + 1, base + (if (b < rem) 1 else 0))
    }
  }

  /** One row per pigeonhole band of the fingerprint column `sh`: its
    * ordinal `band` and value `bval`. */
  private def simhashBands(cuts: Seq[(Int, Int)]): Column =
    posexplode(array(cuts.map { case (st, ln) =>
      substring(col("sh"), st, ln) }: _*)).as(Seq("band", "bval"))

  /** One (id, sh, band, bval) row per (doc, pigeonhole band) for a
    * `maxDist` Hamming bound. */
  private def simhashRows(docs: DataFrame, idCol: String, text: Column,
                          maxDist: Int): DataFrame =
    docs.select(col(idCol), simhash16(text).as("sh"))
      .select(col(idCol), col("sh"), simhashBands(simhashBandCuts(maxDist + 1)))

  /** Hamming distance between two 16-char '0'/'1' fingerprints. */
  private def hamming(a: Column, b: Column): Column =
    (1 to 16).map(i =>
        when(substring(a, i, 1) =!= substring(b, i, 1), 1).otherwise(0))
      .reduce(_ + _)

  /** True only in the FIRST band where fingerprints `a` and `b` agree
    * (band i survives iff every earlier cut differs): each qualifying pair
    * collides in up to maxDist+1 bands, and this codegen predicate on data
    * already in the join row keeps it once at zero extra shuffles, where
    * a distinct() would re-shuffle the (dense) pair set. */
  private def firstBand(cuts: Seq[(Int, Int)], a: Column, b: Column): Column =
    cuts.indices.map { i =>
      cuts.take(i).map { case (st, ln) =>
        substring(a, st, ln) =!= substring(b, st, ln)
      }.foldLeft(col("band") === i)(_ && _)
    }.reduce(_ || _)

  /** The pigeonhole band equi-join of two (id, sh, band, bval) row sets:
    * (a, b, dist) for the pairs passing `keep` within Hamming `maxDist`,
    * one row per pair ([[firstBand]]). */
  private def simhashJoin(l: DataFrame, r: DataFrame, idCol: String,
                          keep: Column, maxDist: Int): DataFrame = {
    val (sa, sb) = (col("__sa"), col("__sb"))
    l.select(col("band"), col("bval"), col(idCol).as("a"), col("sh").as("__sa"))
      .join(r.select(col("band"), col("bval"), col(idCol).as("b"),
        col("sh").as("__sb")), Seq("band", "bval"))
      .filter(keep && firstBand(simhashBandCuts(maxDist + 1), sa, sb))
      .select(col("a"), col("b"), hamming(sa, sb).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** SimHash near-duplicate pairs: all (a, b) whose fingerprints lie
    * within Hamming distance `maxDist`, plus the distance. The classic
    * pigeonhole banding (Manku et al.'s near-duplicate detection shape):
    * cut the fingerprint into `maxDist + 1` contiguous bands — two
    * fingerprints within `maxDist` differ in at most `maxDist` positions,
    * so at least one band matches EXACTLY — generate candidates from the
    * band equi-self-join (one shuffle on (band, value)) and run the exact
    * Hamming check only inside collisions. Never an n² cross join.
    *
    * Scale note: 16-bit fingerprints (this kernel's width) make band
    * values 5-6 bits, so bucket sizes are corpus/2^5-ish — fine for
    * dedup-after-exact-dedup tiers; a 100 TB crawl wants the same plan
    * over a 64-bit kernel (band values 16-21 bits), which changes ONLY
    * the kernel width, not this plan shape. */
  def simhashPairs(docs: DataFrame, idCol: String, text: Column,
                   maxDist: Int = 2): DataFrame = {
    // no checkpoint here (the winnowingCandidates reasoning): both join
    // sides shuffle on the same (band, bval) key, so ReuseExchange serves
    // the second side from the first's shuffle files — contrast
    // [[simhashAdjacency]], whose within-cluster branch and BROADCAST side
    // sit outside shuffle reuse and genuinely re-ran the corpus scan
    val exploded = simhashRows(docs, idCol, text, maxDist)
    simhashJoin(exploded, exploded, idCol, col("a") < col("b"), maxDist)
  }

  /** [[simhashPairs]] at the FINGERPRINT level — the form that survives a
    * dense corpus: the band self-join runs over DISTINCT fingerprints
    * (collision work bounded by the 2^16 fingerprint space, never the
    * corpus), and the output is cluster adjacency with multiplicities —
    * (sha, shb, dist, n_pairs) where sha = shb rows carry the
    * within-cluster n·(n-1)/2 and sha < shb rows the cross-cluster na·nb.
    * Downstream consumers (connected components, dedup keep-one) want
    * exactly this graph; expanding it to doc pairs (what [[simhashPairs]]
    * does directly) multiplies a 223-doc identical cluster into 24k rows
    * for no information gain. */
  def simhashAdjacency(docs: DataFrame, idCol: String, text: Column,
                       maxDist: Int = 2): DataFrame = {
    val cuts = simhashBandCuts(maxDist + 1)
    // the fingerprint rollup fans out THREE ways (within-cluster counts +
    // both sides of the band self-join) and exchange reuse does not reach
    // across the union/broadcast boundaries — without this checkpoint the
    // corpus scan + per-word simhash runs three times. The table is tiny
    // by construction (≤ 2^16 fingerprints); released by Cleanup.drain.
    val groups = graft.util.Cleanup.checkpoint(
      docs.select(simhash16(text).as("sh"))
        .groupBy(col("sh")).agg(count(lit(1)).as("n")))
    val within = groups.filter(col("n") >= 2)
      .select(col("sh").as("sha"), col("sh").as("shb"), lit(0L).as("dist"),
        (col("n") * (col("n") - 1) / 2).cast("long").as("n_pairs"))
    val exploded = groups.select(col("sh"), col("n"), simhashBands(cuts))
    val l = exploded.select(col("band"), col("bval"), col("sh").as("sha"),
      col("n").as("__na"))
    val r = exploded.select(col("band"), col("bval"), col("sh").as("shb"),
      col("n").as("__nb"))
    val (sa, sb) = (col("sha"), col("shb"))
    val cross = l.join(r, Seq("band", "bval"))
      .filter(sa < sb && firstBand(cuts, sa, sb))
      .select(sa, sb, hamming(sa, sb).cast("long").as("dist"),
        (col("__na") * col("__nb")).cast("long").as("n_pairs"))
      .filter(col("dist") <= maxDist)
    within.union(cross)
  }

  /** Edit-distance similarity self-join: pairs of rows whose `name` is
    * within `maxDist` Levenshtein edits, without the all-pairs cross join.
    *
    * Blocking: candidates must share a block key (first whitespace token)
    * and have lengths within `maxDist` of each other — the standard
    * length-band lower bound (|len(a)-len(b)| <= lev(a,b)), applied IN the
    * join condition so Catalyst plans an equi-join on the block key with
    * the band as a residual. The exact distance then runs only inside
    * blocks, with Spark's thresholded `levenshtein(l, r, maxDist)` kernel
    * (banded DP, O(maxDist·n) per pair instead of O(n²), early exit above
    * the bound — returns -1 there, filtered out).
    *
    * At 100 TB the block key bounds every bucket the same way the LSH band
    * join's buckets are bounded; recall is exactly "pairs that agree on
    * the block key" by construction (a multi-pass blocker unions more
    * keys — same plan shape per pass). Run this over the DISTINCT value
    * vocabulary, not raw rows: exact dedup first (q20's operator), or a
    * duplicate-heavy column makes the output itself quadratic — the same
    * exact-before-fuzzy ordering the LSH pipeline documents. */
  def editDistancePairs(named: DataFrame, id: String, name: String,
                        maxDist: Int,
                        blockKey: Column => Column = substring_index(_, " ", 1)): DataFrame = {
    val keyed = named.select(col(id).as("id"), col(name).as("name"))
      .withColumn("blk", blockKey(col("name")))
    val a = keyed.select(col("id").as("id_a"), col("name").as("__na"), col("blk"))
    val b = keyed.select(col("id").as("id_b"), col("name").as("__nb"),
      col("blk").as("__blkb"))
    a.join(b, col("blk") === col("__blkb") && col("id_a") < col("id_b") &&
        abs(length(col("__na")) - length(col("__nb"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__na"), col("__nb"), maxDist).cast("long").as("dist"))
      .filter(col("dist").between(0, maxDist))
  }

  /** Portable built-ins-only reference implementation of [[simhash16]]
    * (no custom kernel — runs on any stock Spark). DataFrame-level so the
    * per-word md5 is STAGED once (`__hw` = hashed word array) before the
    * 16 bit folds: each fold then does a substring over a 32-char hex
    * string instead of re-hashing every word — a bare Column form would
    * compute md5(word) 16× per word, because each bit lambda owns its own
    * copy of the expression tree and Spark does not CSE interpreted
    * higher-order functions. Kept as the cross-check oracle for the native
    * kernel (parity spec). */
  def simhash16Hof(df: DataFrame, text: Column, out: String = "sh"): DataFrame = {
    val hw = col("__hw")
    val bits = (1 to 16).map { i =>
      val contrib = aggregate(hw, lit(0),
        (acc, h) => acc + when(substring(h, i, 1)
          .isInCollection(Seq("8", "9", "a", "b", "c", "d", "e", "f")), 1)
          .otherwise(-1))
      when(contrib > 0, lit("1")).otherwise(lit("0"))
    }
    df.withColumn("__hw", transform(TextAnalysis.words(text), w => md5(w)))
      .withColumn(out, concat(bits: _*))
      .drop("__hw")
  }

  /** Benchmark decontamination scan (the GPT-3 appendix-C / PaLM recipe,
    * word-`n`-gram overlap): (benchmark doc, training doc) pairs that share
    * at least one word `n`-gram, scored by the count of DISTINCT shared
    * n-grams — the report a curation team reads before dropping or masking
    * contaminated training docs.
    *
    * Scale shape: each side is exploded to DISTINCT (doc, ngram) rows —
    * corpus-token-sized, the same one-shuffle footprint as tf-idf — and the
    * pair generation is an equi-join on the ngram, never a cross join.
    * The global `.distinct()` is deliberate and measured: it doubles as the
    * shared exchange that lets ReuseExchange compute the gram table ONCE
    * for its two consumers (df-cap agg + pair join), and its hash-based
    * dedup beats the tempting in-row `array_distinct` alternative — for
    * string arrays ArrayDistinct is an O(n²) equality loop, measured 2×
    * slower end-to-end at the 16×/64× scale probes.
    * Boilerplate n-grams (train document frequency > `maxDf`) are dropped
    * BEFORE the join, the winnowing df-cap discipline: they carry no
    * contamination signal and their buckets are exactly the join's skew.
    * After the cap a bucket fans out to ≤ maxDf pairs, so the worst case
    * is bench-grams × maxDf, not n². The benchmark side is usually tiny
    * (eval suites, not corpora) — AQE downgrades the join to a broadcast
    * when it fits; no hint is hard-coded so a big holdout still plans. */
  def contaminationPairs(train: DataFrame, bench: DataFrame, idCol: String,
                         text: Column, n: Int = 4,
                         maxDf: Long = 50): DataFrame = {
    def grams(df: DataFrame, out: String): DataFrame = {
      val ws = col("__ws")
      // sequence() guard: size < n would generate a DESCENDING sequence
      df.select(col(idCol).as(out), TextAnalysis.words(text).as("__ws"))
        .select(col(out), explode(when(size(ws) >= n,
            transform(sequence(lit(1), size(ws) - (n - 1)),
              i => array_join(slice(ws, i, lit(n)), " ")))
          .otherwise(array().cast("array<string>"))).as("ng"))
        .distinct()
    }
    val tr = grams(train, "train_doc")
    val keep = tr.groupBy(col("ng")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select(col("ng"))
    grams(bench, "bench_doc")
      .join(keep, Seq("ng"), "left_semi")
      .join(tr, Seq("ng"))
      .groupBy(col("bench_doc"), col("train_doc"))
      .agg(count(lit(1)).as("n_shared"))
  }
}
