package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
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
    import org.apache.spark.sql.expressions.Window
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
    val bandCols = (0 until bands).map { b =>
      val hs = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), concat_ws("_", hs: _*).as("bucket"))
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
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
    val sized = sig.select(col(idCol) +: explode(array(bandCols: _*)).as("bb") +: sigCols: _*)
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
    import org.apache.spark.sql.expressions.Window
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

  /** The minhash band-bucket rows behind [[writeLshIndex]]: one row per
    * (doc, band) with the band's concatenated hash bucket and the hive
    * partition key `lb = pmod(hash(band, bucket), partitions)`. */
  private def lshBandRows(sig: DataFrame, idCol: String, bands: Int,
                          rowsPerBand: Int, partitions: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val hs = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), concat_ws("_", hs: _*).as("bucket"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
      .withColumn("lb", pmod(hash(col("band"), col("bucket")), lit(partitions)))
  }

  // ---- id → index-partition reverse map ("_docmap", r17) -------------------
  // Every dedup ingest index keeps a tiny doc store beside its rows: one
  // (id, pb) row per index partition holding that id's rows, hive-
  // partitioned by dm = hash(id) mod partitions. Without it, DELETE(ids)
  // cannot find the partitions holding a victim's rows short of scanning
  // the whole index (a doc's band/fingerprint partitions are functions of
  // its TEXT, which a delete no longer has) — the same reason the ⊕A53
  // inverted-index layout keeps its doc store (VERDICT r16 task 2). The
  // map rides the SAME LayoutTxn commit as the index rows, so the two can
  // never diverge under a crash or a racing writer.
  private val DedupDocMap = "_docmap"

  private def dedupDocMapRows(rows: DataFrame, idCol: String, pCol: String,
                              partitions: Int): DataFrame =
    rows.select(col(idCol), col(pCol).cast("int").as("pb")).distinct()
      .withColumn("dm", pmod(hash(col(idCol)), lit(partitions)))

  /** A whole dedup index as commit groups: its rows partitioned by
    * `pCol` and their `_docmap`, both over `0 until partitions`. */
  private def dedupGroups(rows: DataFrame, idCol: String, pCol: String,
                          sortCols: Seq[String], partitions: Int)
      : Seq[graft.layout.LayoutTxn.Group] = {
    val parts = 0 until partitions
    Seq(graft.layout.LayoutTxn.Group("", rows, pCol, sortCols,
        parts.map(b => s"$pCol=$b")),
      graft.layout.LayoutTxn.Group(DedupDocMap,
        dedupDocMapRows(rows, idCol, pCol, partitions), "dm",
        Seq("pb", idCol), parts.map(b => s"dm=$b")))
  }

  /** One [[graft.layout.LayoutTxn.rebuild]] commit writes a dedup index,
    * with its hashing parameters (and `partitions`) as commit props — the
    * facts every probe, delete and rescale reads back instead of trusting
    * caller arguments. */
  private def writeDedupIndex(rows: DataFrame, dir: String, idCol: String,
                              pCol: String, sortCols: Seq[String],
                              partitions: Int,
                              facts: Map[String, Int]): Unit = {
    graft.layout.LayoutTxn.rebuild(rows.sparkSession, dir,
      dedupGroups(rows, idCol, pCol, sortCols, partitions),
      (facts + ("partitions" -> partitions)).map { case (k, v) =>
        k -> v.toString })
    ()
  }

  /** The `_docmap` append group for one ingested batch. */
  private def docMapAppendGroup(spark: org.apache.spark.sql.SparkSession,
                                dir: String, newRows: DataFrame,
                                idCol: String, pCol: String,
                                partitions: Int)
      : graft.layout.LayoutTxn.Group = {
    // the map's dm partitions are hash(id) of the PERSISTED id type — a
    // batch with a narrower type (Int into a Long index) must be widened
    // BEFORE hashing, or its rows land under the int-hash dm and a later
    // delete (which casts victims to the persisted type, the 47673e0 fix)
    // probes the long-hash partition and silently misses them
    val idType = graft.layout.LayoutTxn
      .readLayout(spark, dir, DedupDocMap, "dm").schema(idCol).dataType
    val nm = dedupDocMapRows(
      newRows.withColumn(idCol, col(idCol).cast(idType)),
      idCol, pCol, partitions)
    val touched = nm.select("dm").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    // append-run commit (r18): only the batch's own map rows are written
    graft.layout.LayoutTxn.Group(DedupDocMap, nm,
      "dm", Seq("pb", idCol), touched.map(b => s"dm=$b"), append = true)
  }

  /** DELETE(ids) against an at-rest dedup index (⊕J25/⊕J26/⊕J27 — VERDICT
    * r16 task 2), shared machinery: the victims' `dm=` reverse-map
    * partitions are read (driver-pruned) to locate exactly the index
    * partitions holding their rows; those partitions are rewritten minus
    * the victims and the victims' map rows are removed — BOTH subtrees in
    * ONE LayoutTxn commit. Cost follows the victims' partitions, never
    * the corpus; a partition emptied by the delete is recorded as a
    * deletion and leaves the snapshot (physical reclamation by begin()'s
    * two-phase sweep). Returns the touched index partition ids. */
  private def dedupIndexDelete(spark: org.apache.spark.sql.SparkSession,
                               dir: String, victims: DataFrame, idCol: String,
                               pCol: String, builder: String,
                               sortCols: Seq[String],
                               txnGraceMs: Long): Seq[Int] = {
    val parent = graft.layout.LayoutTxn.begin(dir, txnGraceMs)
    // the partition count resolves AFTER begin() (r18): a rescale that
    // committed before it would otherwise leave dm probes computed with
    // the OLD count silently missing every victim — resolved here, any
    // rescale landing later conflicts at the CAS
    val partitions = graft.layout.LayoutTxn.fact(
      graft.layout.LayoutTxn.snapshot(dir), "partitions", builder)
    // victims' ids must hash EXACTLY like the map's: Murmur3 of an INT 5
    // differs from a LONG 5, so a caller passing a narrower id type would
    // probe the wrong dm= partitions and silently delete NOTHING — cast
    // to the index's own id type first (the type is a layout fact)
    val idType = graft.layout.LayoutTxn
      .readLayout(spark, dir, DedupDocMap, "dm").schema(idCol).dataType
    val ids = victims.select(col(idCol).cast(idType).as(idCol)).distinct()
      .transform(graft.util.Cleanup.checkpoint(_))
    val dmTouched = ids
      .select(pmod(hash(col(idCol)), lit(partitions)).as("dm")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val dmAll = graft.layout.LayoutTxn.readLayout(spark, dir, DedupDocMap,
      "dm", Some(dmTouched.map(b => s"dm=$b").toSet))
    val pbTouched = dmAll.join(ids, Seq(idCol), "left_semi")
      .select("pb").distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (pbTouched.isEmpty) return Seq.empty // no victim has indexed rows
    val survivors = graft.layout.LayoutTxn.readLayout(spark, dir, "", pCol,
        Some(pbTouched.map(b => s"$pCol=$b").toSet))
      .join(ids, Seq(idCol), "left_anti")
    val dmSurvivors = dmAll.join(ids, Seq(idCol), "left_anti")
      .select(col(idCol), col("pb"), col("dm"))
    graft.layout.LayoutTxn.commit(spark, dir, parent, Seq(
      graft.layout.LayoutTxn.Group("", survivors, pCol, sortCols,
        pbTouched.map(b => s"$pCol=$b")),
      graft.layout.LayoutTxn.Group(DedupDocMap, dmSurvivors, "dm",
        Seq("pb", idCol), dmTouched.map(b => s"dm=$b"))))
    pbTouched
  }

  /** AT-REST LSH index for INCREMENTAL near-dup ingest dedup (⊕J8 × ⊕K10):
    * the corpus's minhash band buckets written hive-partitioned by
    * `lb = hash(band, bucket) mod partitions`. A new batch then probes
    * ONLY the partitions its own band keys hash into ([[lshIndexUpsert]])
    * — [[incrementalDedup]]'s bounded-ingest discipline upgraded from
    * exact-hash to NEAR-dup. At 100 TB the index is |corpus| × bands tiny
    * rows (id, band, 8-16 hex chars ×rowsPerBand), a small fraction of the
    * corpus, and the probe cost follows the BATCH's band keys. A `_docmap`
    * reverse map (id → lb) written beside the rows makes
    * [[lshIndexDelete]] possible (r17). */
  def writeLshIndex(docs: DataFrame, idCol: String, text: Column,
                    dir: String, numHashes: Int = 8, bands: Int = 4,
                    partitions: Int = 16, k: Int = 3): Unit = {
    require(numHashes % bands == 0, s"numHashes $numHashes % bands $bands != 0")
    val rows = lshBandRows(minhashSignature(docs, idCol, text, numHashes, k),
        idCol, bands, numHashes / bands, partitions)
      .transform(graft.util.Cleanup.checkpoint(_))
    // a probe with different hashing/banding/partitioning would silently
    // miss everything, so these are layout facts
    writeDedupIndex(rows, dir, idCol, "lb", Seq("band", "bucket", idCol),
      partitions, Map("numHashes" -> numHashes, "bands" -> bands, "k" -> k))
  }

  /** Shared RESCALE machinery for the three at-rest dedup indexes (r18 —
    * VERDICT r17 task 3; the MergeTable REBUCKET shape at the index
    * tier): every partition key is a pure function of STORED row columns
    * (`lb = hash(band, bucket)`, `fb = hash(fp)`, `sb = hash(band,
    * bval)`, all mod the count), so re-partitioning is a column rewrite
    * over the index rows — the corpus text is never re-read, no
    * signature/fingerprint recomputes. The `_docmap` reverse map
    * re-derives from the re-keyed rows (its `pb` values ARE partition
    * ids) in the SAME commit, and the `partitions` layout prop flips
    * atomically with the partition map. The `pairs` log (partitioned by
    * batch) is count-independent and rides untouched. Cost is O(index
    * bytes) — the deliberate amortized full rewrite. */
  private def dedupIndexRescale(spark: org.apache.spark.sql.SparkSession,
                                dir: String, idCol: String, pCol: String,
                                partExpr: Int => org.apache.spark.sql.Column,
                                sortCols: Seq[String], builder: String,
                                newPartitions: Int,
                                txnGraceMs: Long): Long = {
    require(newPartitions >= 1,
      s"newPartitions must be >= 1, got $newPartitions")
    val parent = graft.layout.LayoutTxn.begin(dir, txnGraceMs)
    val snap = graft.layout.LayoutTxn.snapshot(dir)
    if (graft.layout.LayoutTxn.fact(snap, "partitions", builder) ==
        newPartitions) return snap.version
    val rows = graft.layout.LayoutTxn.readSnapshot(spark, snap, "", pCol)
      .withColumn(pCol, partExpr(newPartitions))
      .transform(graft.util.Cleanup.checkpoint(_))
    graft.layout.LayoutTxn.commit(spark, dir, parent,
      graft.layout.LayoutTxn.whole(snap,
        dedupGroups(rows, idCol, pCol, sortCols, newPartitions)),
      props = Map("partitions" -> newPartitions.toString))
  }

  /** The `lb=` partitions a batch's band keys hash into — the probe set
    * [[lshIndexUpsert]] reads and rewrites (diagnostic/test surface). */
  private[graft] def lshProbePartitions(docs: DataFrame, idCol: String,
                                        text: Column, numHashes: Int = 8,
                                        bands: Int = 4, partitions: Int = 16,
                                        k: Int = 3): Set[Int] =
    lshBandRows(minhashSignature(docs, idCol, text, numHashes, k),
      idCol, bands, numHashes / bands, partitions)
      .select("lb").distinct().collect().map(_.getInt(0)).toSet

  /** Probe + append one NEW batch against a [[writeLshIndex]] directory:
    * returns the (corpus id `a`, new id `b`) candidate pairs whose docs
    * share any band bucket — feed [[jaccardVerify]] /
    * [[minhashPrefilter]] exactly as with [[lshCandidates]] — and appends
    * the batch's band rows to the index through the
    * [[graft.layout.LayoutTxn]] stage/CAS-claim/publish protocol (a
    * concurrent ingest gets `ConflictException`; a crashed one rolls
    * forward; readers keep their snapshot).
    *
    * Scale shape: the probe reads ONLY the `lb=` partitions the batch's
    * band keys hash into (driver-pruned immutable dirs — snapshot
    * isolated, so the returned pair plan stays valid across later
    * ingests); `maxBucketSize` df-caps degenerate corpus buckets before
    * the equi-join (boilerplate-heavy buckets cost recall, never n²);
    * the commit rewrites only the touched partitions, so ingest cost
    * follows the BATCH. Append-only: batch ids are assumed new (the q61
    * ingest contract) — re-ingesting an id duplicates its band rows. */
  def lshIndexUpsert(spark: org.apache.spark.sql.SparkSession, dir: String,
                     newDocs: DataFrame, idCol: String, text: Column,
                     maxBucketSize: Int = 10000,
                     txnGraceMs: Long = 600000L): DataFrame = {
    val parent = graft.layout.LayoutTxn.begin(dir, txnGraceMs)
    val p = lshProbe(spark, dir, newDocs, idCol, text, maxBucketSize)
    // append the batch into exactly the touched partitions; the pair plan
    // above reads the PRE-commit snapshot (immutable dirs) either way.
    // The _docmap reverse map rides the same commit (r17, delete support).
    graft.layout.LayoutTxn.commit(spark, dir, parent, Seq(p.indexGroup(idCol),
      docMapAppendGroup(spark, dir, p.newRows, idCol, "lb", p.partitions)))
    p.pairs
  }

  /** DELETE(ids) from a [[writeLshIndex]] directory (⊕J25, r17): removes
    * the victims' band rows AND their reverse-map rows in one commit,
    * rewriting only the `lb=` partitions the `_docmap` locates. After the
    * delete, probes can never return a victim as a candidate `a` — the
    * maintained index equals one rebuilt without the victims
    * (LshIndexDeleteSpec). Returns the touched `lb` partition ids. */
  def lshIndexDelete(spark: org.apache.spark.sql.SparkSession, dir: String,
                     victims: DataFrame, idCol: String,
                     txnGraceMs: Long = 600000L): Seq[Int] =
    dedupIndexDelete(spark, dir, victims, idCol, "lb", LshBuilder,
      Seq("band", "bucket", idCol), txnGraceMs)

  /** RESCALE a [[writeLshIndex]] directory to a new partition count (r18
    * — see [[dedupIndexRescale]]): `lb` recomputes from the stored
    * (band, bucket) columns, the reverse map re-derives, the count flips
    * atomically with the partition map; probes/ingests/deletes then read
    * the new count from the layout itself. The corpus is never re-read. */
  def lshIndexRescale(spark: org.apache.spark.sql.SparkSession, dir: String,
                      idCol: String, newPartitions: Int,
                      txnGraceMs: Long = 600000L): Long =
    dedupIndexRescale(spark, dir, idCol, "lb",
      n => pmod(hash(col("band"), col("bucket")), lit(n)),
      Seq("band", "bucket", idCol), LshBuilder, newPartitions, txnGraceMs)

  /** Fold a fragmented LSH index — [[graft.layout.LayoutTxn
    * .compactStale]] with this layout's own in-partition sort orders. */
  def lshIndexCompact(spark: org.apache.spark.sql.SparkSession, dir: String,
                      idCol: String, maxOwners: Int = 4,
                      txnGraceMs: Long = 600000L): Long =
    graft.layout.LayoutTxn.compactStale(spark, dir,
      Map("" -> Seq("band", "bucket", idCol),
        DedupDocMap -> Seq("pb", idCol), "pairs" -> Seq("a", "b")),
      maxOwners, txnGraceMs)

  private val LshBuilder = "Dedup.writeLshIndex"

  private case class LshProbe(newRows: DataFrame, touched: Seq[Int],
                              existing: DataFrame, pairs: DataFrame,
                              partitions: Int) {
    // APPEND-RUN commit (r18): the batch's own rows become one more run
    // of each touched partition — the probed corpus rows are read for
    // the PAIRS but never rewritten, so ingest WRITE cost is O(batch),
    // not O(touched partitions); compactStale folds runs back
    def indexGroup(idCol: String): graft.layout.LayoutTxn.Group =
      graft.layout.LayoutTxn.Group("", newRows,
        "lb", Seq("band", "bucket", idCol), touched.map(b => s"lb=$b"),
        append = true)
  }

  /** The shared probe behind [[lshIndexUpsert]] and [[lshIngestBatch]]:
    * band the batch, read ONLY its partitions from the current snapshot
    * (hashing/banding/partitioning are the index's own layout facts —
    * mismatched caller parameters would silently find nothing), df-cap
    * degenerate buckets, and equi-join corpus × batch. */
  private def lshProbe(spark: org.apache.spark.sql.SparkSession, dir: String,
                       newDocs: DataFrame, idCol: String, text: Column,
                       maxBucketSize: Int): LshProbe = {
    val snap = graft.layout.LayoutTxn.snapshot(dir)
    def fact(key: String) = graft.layout.LayoutTxn.fact(snap, key, LshBuilder)
    val (numHashes, bands, partitions, k) =
      (fact("numHashes"), fact("bands"), fact("partitions"), fact("k"))
    val newRows = lshBandRows(
        minhashSignature(newDocs, idCol, text, numHashes, k),
        idCol, bands, numHashes / bands, partitions)
      .transform(graft.util.Cleanup.checkpoint(_))
    val touched = newRows.select("lb").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val existing = graft.layout.LayoutTxn.readSnapshot(spark, snap, "", "lb",
      Some(touched.map(b => s"lb=$b").toSet))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
    val capped = existing
      .withColumn("__bsz", count(lit(1)).over(w))
      .filter(col("__bsz") <= maxBucketSize)
    val pairs = capped.select(col("band"), col("bucket"), col(idCol).as("a"))
      .join(newRows.select(col("band"), col("bucket"), col(idCol).as("b")),
        Seq("band", "bucket"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b")).distinct()
    LshProbe(newRows, touched, existing, pairs, partitions)
  }

  /** EXACTLY-ONCE streaming near-dup ingest (⊕K8 × ⊕J25): the
    * foreachBatch form of [[lshIndexUpsert]] whose candidate PAIRS are
    * delivered through the index's own commit. Each micro-batch probes
    * the index, then commits TWO groups in ONE LayoutTxn CAS — its band
    * rows (sub "", the index) and its candidate pairs partitioned by
    * batch (sub "pairs") — with the batchId recorded in the version
    * state. A replayed micro-batch (crash after the commit, before the
    * streaming checkpoint ack — the worst-case window) is skipped WHOLE:
    * the index gains the batch's rows exactly once AND the pair log
    * holds the batch's pairs exactly once. This is the two-store
    * atomicity problem every stream that computes a result AND updates
    * its own state has; the only clean answer is ONE commit for both,
    * which the multi-group commit provides for free. */
  def lshIngestBatch(spark: org.apache.spark.sql.SparkSession, dir: String,
                     batch: DataFrame, idCol: String, text: Column,
                     batchId: Long, maxBucketSize: Int = 10000,
                     txnGraceMs: Long = 600000L): Unit = {
    val parent = graft.layout.LayoutTxn.beginBatch(dir, batchId, txnGraceMs)
      .getOrElse(return) // a replayed batch
    val p = lshProbe(spark, dir, batch, idCol, text, maxBucketSize)
    // index rows + pair log + _docmap reverse map: ONE commit (r17 adds
    // the map so lshIndexDelete can locate a victim's partitions)
    graft.layout.LayoutTxn.commit(spark, dir, parent, Seq(
      p.indexGroup(idCol),
      graft.layout.LayoutTxn.Group("pairs",
        p.pairs.withColumn("batch", lit(batchId)),
        "batch", Seq("a", "b"), Seq(s"batch=$batchId")),
      docMapAppendGroup(spark, dir, p.newRows, idCol, "lb", p.partitions)),
      batchId = batchId)
    ()
  }

  /** foreachBatch adapter for [[lshIngestBatch]] — plug straight into
    * `writeStream.foreachBatch`. */
  def lshIngestSink(dir: String, idCol: String, text: Column,
                    maxBucketSize: Int = 10000): (DataFrame, Long) => Unit =
    (batch, id) =>
      lshIngestBatch(batch.sparkSession, dir, batch, idCol, text, id,
        maxBucketSize)

  /** Every pair the streaming ingest has delivered so far, with its
    * micro-batch id: (batch, a, b) — a snapshot-isolated read of the
    * commit's own pair log. */
  def lshIngestPairs(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame =
    graft.layout.LayoutTxn.readLayout(spark, dir, "pairs", "batch")
      .select(col("batch"), col("a"), col("b"))

  private val WinnowBuilder = "Dedup.writeWinnowIndex"

  /** AT-REST winnowing index for INCREMENTAL contained-copy ingest (the
    * [[writeLshIndex]] pattern at the fingerprint tier): the corpus's
    * winnowing fingerprints persisted hive-partitioned by
    * `fb = hash(fp) mod partitions`. MinHash LSH scores WHOLE-doc
    * similarity; this catches a pasted paragraph inside an otherwise-new
    * doc — the two ingest paths are complementary, exactly as their batch
    * forms (⊕J8 vs ⊕J9). All rows of one fingerprint share a partition,
    * so a probe computes each shared fingerprint's document frequency
    * EXACTLY from the probed partitions alone. */
  def writeWinnowIndex(docs: DataFrame, idCol: String, text: Column,
                       dir: String, k: Int = 8, w: Int = 4,
                       partitions: Int = 16): Unit = {
    val rows = docs.select(col(idCol),
        explode(TextAnalysis.winnowFingerprints(text, k, w)).as("fp"))
      .withColumn("fb", pmod(hash(col("fp")), lit(partitions)))
      .transform(graft.util.Cleanup.checkpoint(_))
    writeDedupIndex(rows, dir, idCol, "fb", Seq("fp", idCol), partitions,
      Map("k" -> k, "w" -> w))
  }

  /** Probe + append one NEW batch against a [[writeWinnowIndex]] directory:
    * returns (corpus id `a`, new id `b`, n_shared) for pairs sharing at
    * least `minShared` winnowing fingerprints — [[winnowingCandidates]]'
    * algebra restricted across the corpus×batch split, with the df-cap
    * computed over (probed corpus rows ∪ batch rows), which is EXACT
    * because a fingerprint's every occurrence lives in one partition —
    * and appends the batch's fingerprint rows through the
    * [[graft.layout.LayoutTxn]] protocol. Probe cost follows the BATCH's
    * fingerprint partitions, not the corpus (the ⊕J25 shape). */
  def winnowIndexUpsert(spark: org.apache.spark.sql.SparkSession, dir: String,
                        newDocs: DataFrame, idCol: String, text: Column,
                        maxDocFreq: Int = 10, minShared: Int = 2,
                        txnGraceMs: Long = 600000L): DataFrame = {
    val parent = graft.layout.LayoutTxn.begin(dir, txnGraceMs)
    val p = winnowProbe(spark, dir, newDocs, idCol, text, maxDocFreq,
      minShared)
    graft.layout.LayoutTxn.commit(spark, dir, parent,
      p.groups(idCol) :+
        docMapAppendGroup(spark, dir, p.newRows, idCol, "fb", p.partitions))
    p.pairs
  }

  private case class WinnowProbe(newRows: DataFrame, touched: Seq[Int],
                                 existing: DataFrame, pairs: DataFrame,
                                 partitions: Int) {
    // append-run commit — see LshProbe.indexGroup (r18)
    def groups(idCol: String): Seq[graft.layout.LayoutTxn.Group] =
      Seq(graft.layout.LayoutTxn.Group("", newRows,
        "fb", Seq("fp", idCol), touched.map(b => s"fb=$b"), append = true))
  }

  /** The shared probe behind [[winnowIndexUpsert]] and
    * [[winnowIngestBatch]] — the [[lshProbe]] shape at the fingerprint
    * tier: fingerprint the batch, read ONLY its `fb=` partitions, df-cap
    * over (probed corpus ∪ batch) — EXACT, every occurrence of a
    * fingerprint shares one partition — and equi-join corpus × batch. */
  private def winnowProbe(spark: org.apache.spark.sql.SparkSession,
                          dir: String, newDocs: DataFrame, idCol: String,
                          text: Column, maxDocFreq: Int,
                          minShared: Int): WinnowProbe = {
    val snap = graft.layout.LayoutTxn.snapshot(dir)
    def fact(key: String) =
      graft.layout.LayoutTxn.fact(snap, key, WinnowBuilder)
    val (k, w, partitions) = (fact("k"), fact("w"), fact("partitions"))
    val newRows = newDocs.select(col(idCol),
        explode(TextAnalysis.winnowFingerprints(text, k, w)).as("fp"))
      .withColumn("fb", pmod(hash(col("fp")), lit(partitions)))
      .transform(graft.util.Cleanup.checkpoint(_))
    val touched = newRows.select("fb").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val existing = graft.layout.LayoutTxn.readSnapshot(spark, snap, "", "fb",
      Some(touched.map(b => s"fb=$b").toSet))
    // df over (probed corpus ∪ batch) = the fingerprint's TRUE corpus-wide
    // frequency (partition-contained), so the stopword cap matches a full
    // recomputation exactly
    val dfw = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val all = existing.select(col(idCol), col("fp"))
      .withColumn("__new", lit(false))
      .unionByName(newRows.select(col(idCol), col("fp"))
        .withColumn("__new", lit(true)))
      .withColumn("__df", count(lit(1)).over(dfw))
      .filter(col("__df") <= maxDocFreq)
    val pairs = all.filter(!col("__new"))
      .select(col("fp"), col(idCol).as("a"))
      .join(all.filter(col("__new")).select(col("fp"), col(idCol).as("b")),
        Seq("fp"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    WinnowProbe(newRows, touched, existing, pairs, partitions)
  }

  /** EXACTLY-ONCE streaming contained-copy ingest (⊕K8 × ⊕J26) — the
    * [[lshIngestBatch]] discipline at the fingerprint tier: each
    * micro-batch commits its fingerprint rows, its (a, b, n_shared) pair
    * log partitioned by batch, AND its `_docmap` rows in ONE LayoutTxn
    * CAS keyed by the batchId; a crash-replayed batch is skipped WHOLE
    * (authoritative re-check AFTER begin() — the ADVICE r16 discipline). */
  def winnowIngestBatch(spark: org.apache.spark.sql.SparkSession,
                        dir: String, batch: DataFrame, idCol: String,
                        text: Column, batchId: Long, maxDocFreq: Int = 10,
                        minShared: Int = 2,
                        txnGraceMs: Long = 600000L): Unit = {
    val parent = graft.layout.LayoutTxn.beginBatch(dir, batchId, txnGraceMs)
      .getOrElse(return) // a replayed batch
    val p = winnowProbe(spark, dir, batch, idCol, text, maxDocFreq,
      minShared)
    graft.layout.LayoutTxn.commit(spark, dir, parent,
      p.groups(idCol) ++ Seq(graft.layout.LayoutTxn.Group("pairs",
        p.pairs.withColumn("batch", lit(batchId)),
        "batch", Seq("a", "b"), Seq(s"batch=$batchId")),
        docMapAppendGroup(spark, dir, p.newRows, idCol, "fb", p.partitions)),
      batchId = batchId)
    ()
  }

  /** foreachBatch adapter for [[winnowIngestBatch]]. */
  def winnowIngestSink(dir: String, idCol: String, text: Column,
                       maxDocFreq: Int = 10, minShared: Int = 2)
      : (DataFrame, Long) => Unit =
    (batch, id) =>
      winnowIngestBatch(batch.sparkSession, dir, batch, idCol, text, id,
        maxDocFreq, minShared)

  /** Every pair the streaming winnow ingest has delivered, with its
    * micro-batch id — the [[lshIngestPairs]] surface at this tier. */
  def winnowIngestPairs(spark: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame =
    graft.layout.LayoutTxn.readLayout(spark, dir, "pairs", "batch")
      .select(col("batch"), col("a"), col("b"), col("n_shared"))

  /** DELETE(ids) from a [[writeWinnowIndex]] directory (⊕J26, r17): the
    * victims' fingerprint rows and reverse-map rows leave in one commit,
    * rewriting only the `fb=` partitions the `_docmap` locates. The
    * df-cap exactness claim is untouched: a fingerprint's every
    * occurrence still shares one partition, so post-delete probes compute
    * document frequency over exactly the surviving corpus. Returns the
    * touched `fb` partition ids. */
  def winnowIndexDelete(spark: org.apache.spark.sql.SparkSession,
                        dir: String, victims: DataFrame, idCol: String,
                        txnGraceMs: Long = 600000L): Seq[Int] =
    dedupIndexDelete(spark, dir, victims, idCol, "fb", WinnowBuilder,
      Seq("fp", idCol), txnGraceMs)

  /** RESCALE a [[writeWinnowIndex]] directory (r18 — see
    * [[dedupIndexRescale]]): `fb` recomputes from the stored fingerprint
    * column; the df-cap exactness claim survives because a fingerprint's
    * every occurrence still lands in ONE partition under the new count. */
  def winnowIndexRescale(spark: org.apache.spark.sql.SparkSession,
                         dir: String, idCol: String, newPartitions: Int,
                         txnGraceMs: Long = 600000L): Long =
    dedupIndexRescale(spark, dir, idCol, "fb",
      n => pmod(hash(col("fp")), lit(n)),
      Seq("fp", idCol), WinnowBuilder, newPartitions, txnGraceMs)

  /** Fold a fragmented winnowing index ([[graft.layout.LayoutTxn
    * .compactStale]]). */
  def winnowIndexCompact(spark: org.apache.spark.sql.SparkSession,
                         dir: String, idCol: String, maxOwners: Int = 4,
                         txnGraceMs: Long = 600000L): Long =
    graft.layout.LayoutTxn.compactStale(spark, dir,
      Map("" -> Seq("fp", idCol), DedupDocMap -> Seq("pb", idCol),
        "pairs" -> Seq("a", "b")),
      maxOwners, txnGraceMs)

  private val SimhashBuilder = "Dedup.writeSimhashIndex"

  /** One row per (doc, pigeonhole band): id, full fingerprint, band
    * ordinal, band value, and the hive partition key
    * `sb = hash(band, bval) mod partitions`. */
  private def simhashIndexRows(docs: DataFrame, idCol: String, text: Column,
                               maxDist: Int, partitions: Int): DataFrame = {
    val cuts = simhashBandCuts(maxDist + 1)
    docs.select(col(idCol), simhash16(text).as("sh"))
      .select(col(idCol), col("sh"),
        posexplode(array(cuts.map { case (st, ln) =>
          substring(col("sh"), st, ln) }: _*)).as(Seq("band", "bval")))
      .withColumn("sb", pmod(hash(col("band"), col("bval")), lit(partitions)))
  }

  /** AT-REST SimHash index for INCREMENTAL near-dup ingest (⊕J12 × ⊕K10 —
    * the [[writeLshIndex]] pattern at the Hamming tier): the corpus's
    * pigeonhole band rows persisted hive-partitioned by
    * `sb = hash(band, bval) mod partitions`, each row carrying the FULL
    * fingerprint so the probe's exact Hamming verify needs no second
    * corpus read. MinHash LSH approximates set Jaccard; SimHash Hamming
    * catches small token-level perturbations — complementary ingest
    * tiers, exactly as their batch forms (⊕J8 vs ⊕J12). The pigeonhole
    * split is LOSSLESS for the index's own maxDist: a (corpus, batch)
    * pair within `maxDist` differs in ≤ maxDist positions, so at least
    * one of the maxDist+1 bands matches exactly and that band's partition
    * is — by construction — among the ones the batch probes. */
  def writeSimhashIndex(docs: DataFrame, idCol: String, text: Column,
                        dir: String, maxDist: Int = 2,
                        partitions: Int = 16): Unit = {
    val rows = simhashIndexRows(docs, idCol, text, maxDist, partitions)
      .transform(graft.util.Cleanup.checkpoint(_))
    // a probe with different banding/partitioning would silently miss
    writeDedupIndex(rows, dir, idCol, "sb", Seq("band", "bval", idCol),
      partitions, Map("maxDist" -> maxDist))
  }

  /** Probe + append one NEW batch against a [[writeSimhashIndex]]
    * directory: returns every (corpus id `a`, new id `b`, dist) pair
    * within the index's Hamming `maxDist` — EXACT for the cross split
    * (the pigeonhole losslessness above), one row per pair (the
    * first-matching-band rule, no distinct shuffle) — and appends the
    * batch's band rows through the [[graft.layout.LayoutTxn]]
    * stage/CAS-claim/publish protocol (concurrent ingests conflict
    * loudly; crashed ones roll forward; readers keep their snapshot).
    * Probe cost follows the BATCH's band partitions, not the corpus (the
    * ⊕J25 shape); collision buckets are bounded by the fingerprint
    * space, never corpus² (the ⊕J12 adjacency argument). Append-only:
    * batch ids are assumed new (the q61 ingest contract). */
  def simhashIndexUpsert(spark: org.apache.spark.sql.SparkSession,
                         dir: String, newDocs: DataFrame, idCol: String,
                         text: Column,
                         txnGraceMs: Long = 600000L): DataFrame = {
    val parent = graft.layout.LayoutTxn.begin(dir, txnGraceMs)
    val p = simhashProbe(spark, dir, newDocs, idCol, text)
    graft.layout.LayoutTxn.commit(spark, dir, parent,
      p.groups(idCol) :+
        docMapAppendGroup(spark, dir, p.newRows, idCol, "sb", p.partitions))
    p.pairs
  }

  private case class SimhashProbe(newRows: DataFrame, touched: Seq[Int],
                                  existing: DataFrame, pairs: DataFrame,
                                  partitions: Int) {
    // append-run commit — see LshProbe.indexGroup (r18)
    def groups(idCol: String): Seq[graft.layout.LayoutTxn.Group] =
      Seq(graft.layout.LayoutTxn.Group("", newRows,
        "sb", Seq("band", "bval", idCol), touched.map(b => s"sb=$b"),
        append = true))
  }

  /** The shared probe behind [[simhashIndexUpsert]] and
    * [[simhashIngestBatch]] — the [[lshProbe]] shape at the Hamming
    * tier: band the batch, read ONLY its `sb=` partitions, exact Hamming
    * verify off the carried full fingerprints, first-matching-band
    * uniqueness. */
  private def simhashProbe(spark: org.apache.spark.sql.SparkSession,
                           dir: String, newDocs: DataFrame, idCol: String,
                           text: Column): SimhashProbe = {
    val snap = graft.layout.LayoutTxn.snapshot(dir)
    def fact(key: String) =
      graft.layout.LayoutTxn.fact(snap, key, SimhashBuilder)
    val (maxDist, partitions) = (fact("maxDist"), fact("partitions"))
    val cuts = simhashBandCuts(maxDist + 1)
    val newRows = simhashIndexRows(newDocs, idCol, text, maxDist, partitions)
      .transform(graft.util.Cleanup.checkpoint(_))
    val touched = newRows.select("sb").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val existing = graft.layout.LayoutTxn.readSnapshot(spark, snap, "", "sb",
      Some(touched.map(b => s"sb=$b").toSet))
    val l = existing.select(col("band"), col("bval"), col(idCol).as("a"),
      col("sh").as("__sa"))
    val r = newRows.select(col("band"), col("bval"), col(idCol).as("b"),
      col("sh").as("__sb"))
    val dist = (1 to 16).map(i =>
        when(substring(col("__sa"), i, 1) =!= substring(col("__sb"), i, 1), 1)
          .otherwise(0))
      .reduce(_ + _)
    // keep each qualifying pair ONLY in its first matching band — the
    // simhashPairs uniqueness rule: a codegen predicate over data already
    // in the join row, zero extra shuffles
    val firstMatch = cuts.indices.map { i =>
      cuts.take(i).map { case (st, ln) =>
        substring(col("__sa"), st, ln) =!= substring(col("__sb"), st, ln)
      }.foldLeft(col("band") === i)(_ && _)
    }.reduce(_ || _)
    val pairs = l.join(r, Seq("band", "bval"))
      .filter(col("a") =!= col("b") && firstMatch)
      .select(col("a"), col("b"), dist.cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
    SimhashProbe(newRows, touched, existing, pairs, partitions)
  }

  /** EXACTLY-ONCE streaming Hamming-tier ingest (⊕K8 × ⊕J27) — the
    * [[lshIngestBatch]] discipline with the SimHash probe: each
    * micro-batch commits its band rows, its (a, b, dist) pair log
    * partitioned by batch, AND its `_docmap` rows in ONE LayoutTxn CAS
    * keyed by the batchId; a crash-replayed batch is skipped WHOLE
    * (authoritative re-check AFTER begin()). */
  def simhashIngestBatch(spark: org.apache.spark.sql.SparkSession,
                         dir: String, batch: DataFrame, idCol: String,
                         text: Column, batchId: Long,
                         txnGraceMs: Long = 600000L): Unit = {
    val parent = graft.layout.LayoutTxn.beginBatch(dir, batchId, txnGraceMs)
      .getOrElse(return) // a replayed batch
    val p = simhashProbe(spark, dir, batch, idCol, text)
    graft.layout.LayoutTxn.commit(spark, dir, parent,
      p.groups(idCol) ++ Seq(graft.layout.LayoutTxn.Group("pairs",
        p.pairs.withColumn("batch", lit(batchId)),
        "batch", Seq("a", "b"), Seq(s"batch=$batchId")),
        docMapAppendGroup(spark, dir, p.newRows, idCol, "sb", p.partitions)),
      batchId = batchId)
    ()
  }

  /** foreachBatch adapter for [[simhashIngestBatch]]. */
  def simhashIngestSink(dir: String, idCol: String, text: Column)
      : (DataFrame, Long) => Unit =
    (batch, id) =>
      simhashIngestBatch(batch.sparkSession, dir, batch, idCol, text, id)

  /** Every pair the streaming SimHash ingest has delivered, with its
    * micro-batch id — the [[lshIngestPairs]] surface at this tier. */
  def simhashIngestPairs(spark: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame =
    graft.layout.LayoutTxn.readLayout(spark, dir, "pairs", "batch")
      .select(col("batch"), col("a"), col("b"), col("dist"))

  /** DELETE(ids) from a [[writeSimhashIndex]] directory (⊕J27, r17): the
    * victims' pigeonhole band rows and reverse-map rows leave in one
    * commit, rewriting only the `sb=` partitions the `_docmap` locates.
    * The pigeonhole losslessness is untouched — it is a per-pair
    * property of the banding, not of corpus membership. Returns the
    * touched `sb` partition ids. */
  def simhashIndexDelete(spark: org.apache.spark.sql.SparkSession,
                         dir: String, victims: DataFrame, idCol: String,
                         txnGraceMs: Long = 600000L): Seq[Int] =
    dedupIndexDelete(spark, dir, victims, idCol, "sb", SimhashBuilder,
      Seq("band", "bval", idCol), txnGraceMs)

  /** RESCALE a [[writeSimhashIndex]] directory (r18 — see
    * [[dedupIndexRescale]]): `sb` recomputes from the stored (band, bval)
    * columns; the pigeonhole losslessness is a per-pair banding property,
    * untouched by the partition count. */
  def simhashIndexRescale(spark: org.apache.spark.sql.SparkSession,
                          dir: String, idCol: String, newPartitions: Int,
                          txnGraceMs: Long = 600000L): Long =
    dedupIndexRescale(spark, dir, idCol, "sb",
      n => pmod(hash(col("band"), col("bval")), lit(n)),
      Seq("band", "bval", idCol), SimhashBuilder, newPartitions, txnGraceMs)

  /** Fold a fragmented SimHash index ([[graft.layout.LayoutTxn
    * .compactStale]]). */
  def simhashIndexCompact(spark: org.apache.spark.sql.SparkSession,
                          dir: String, idCol: String, maxOwners: Int = 4,
                          txnGraceMs: Long = 600000L): Long =
    graft.layout.LayoutTxn.compactStale(spark, dir,
      Map("" -> Seq("band", "bval", idCol), DedupDocMap -> Seq("pb", idCol),
        "pairs" -> Seq("a", "b")),
      maxOwners, txnGraceMs)

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
    val fps = docs.select(col(idCol),
      explode(TextAnalysis.winnowFingerprints(text, k, w)).as("fp"))
    val dfw = org.apache.spark.sql.expressions.Window.partitionBy("fp")
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
    val cuts = simhashBandCuts(maxDist + 1)
    // no checkpoint here (the winnowingCandidates reasoning): both join
    // sides shuffle on the same (band, bval) key, so ReuseExchange serves
    // the second side from the first's shuffle files — contrast
    // [[simhashAdjacency]], whose within-cluster branch and BROADCAST side
    // sit outside shuffle reuse and genuinely re-ran the corpus scan
    val fp = docs.select(col(idCol), simhash16(text).as("sh"))
    val exploded = fp.select(col(idCol), col("sh"),
      posexplode(array(cuts.map { case (st, ln) =>
        substring(col("sh"), st, ln) }: _*)).as(Seq("band", "bval")))
    val l = exploded.select(col("band"), col("bval"), col(idCol).as("a"),
      col("sh").as("__sa"))
    val r = exploded.select(col("band"), col("bval"), col(idCol).as("b"),
      col("sh").as("__sb"))
    val dist = (1 to 16).map(i =>
        when(substring(col("__sa"), i, 1) =!= substring(col("__sb"), i, 1), 1)
          .otherwise(0))
      .reduce(_ + _)
    // each qualifying pair collides in up to maxDist+1 bands; keep it ONLY
    // in its FIRST matching band (band i survives iff every earlier cut
    // differs) — a codegen predicate on data already in the join row, so
    // uniqueness costs zero extra shuffles where a distinct() would
    // re-shuffle the (dense) pair set
    val firstMatch = cuts.indices.map { i =>
      cuts.take(i).map { case (st, ln) =>
        substring(col("__sa"), st, ln) =!= substring(col("__sb"), st, ln)
      }.foldLeft(col("band") === i)(_ && _)
    }.reduce(_ || _)
    l.join(r, Seq("band", "bval"))
      .filter(col("a") < col("b") && firstMatch)
      .select(col("a"), col("b"), dist.cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
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
    val exploded = groups.select(col("sh"), col("n"),
      posexplode(array(cuts.map { case (st, ln) =>
        substring(col("sh"), st, ln) }: _*)).as(Seq("band", "bval")))
    val l = exploded.select(col("band"), col("bval"), col("sh").as("sha"),
      col("n").as("__na"))
    val r = exploded.select(col("band"), col("bval"), col("sh").as("shb"),
      col("n").as("__nb"))
    val dist = (1 to 16).map(i =>
        when(substring(col("sha"), i, 1) =!= substring(col("shb"), i, 1), 1)
          .otherwise(0))
      .reduce(_ + _)
    val firstMatch = cuts.indices.map { i =>
      cuts.take(i).map { case (st, ln) =>
        substring(col("sha"), st, ln) =!= substring(col("shb"), st, ln)
      }.foldLeft(col("band") === i)(_ && _)
    }.reduce(_ || _)
    val cross = l.join(r, Seq("band", "bval"))
      .filter(col("sha") < col("shb") && firstMatch)
      .select(col("sha"), col("shb"), dist.cast("long").as("dist"),
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
