package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over an embedding column (north-star ⊕): brute-force
  * cosine top-k as the exact baseline, and an LSH-bucketed (random
  * hyperplane / SimHash-for-vectors) variant as the 100 TB scale path.
  *
  * Scale notes:
  *  - brute force is O(|queries| × |corpus|): correct tool for small query
  *    batches (re-ranking, evaluation); the per-pair kernel is codegen'd
  *    higher-order functions (`zip_with` + `aggregate`), no UDF.
  *  - the LSH path buckets both sides by hyperplane-sign signature so the
  *    join is equi on the bucket key: shuffle is data-size-linear and the
  *    cross product happens only inside a bucket. Hyperplane signs are
  *    md5-derived constants — deterministic across runs, executors, engines.
  *  - top-k per query = row_number window over the (small) scored side.
  */
object Similarity {

  private def d(c: Column): Column = c.cast("double")

  /** Sequential-fold dot product (deterministic order — both Spark and the
    * DuckDB oracle fold left-to-right, so doubles match bit-for-bit). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => d(x) * d(y)), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + d(x) * d(x)))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native Catalyst kernel (graft.functions.CosineSimilarity): one fused
    * codegen loop instead of ~3 interpreted lambda folds per pair. Same
    * fold order → bit-identical doubles to [[cosine]] and the oracle. */
  def cosineNative(df: DataFrame, a: Column, b: Column): Column = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    call_function("vec_cosine", a, b)
  }

  /** Per-vector scale for symmetric int8 quantization: max|x| / 127
    * (1.0 for the all-zero vector so dequantization stays total). */
  def quantScale(v: Column): Column = {
    val m = array_max(transform(v, x => abs(d(x))))
    when(m === 0.0, lit(1.0)).otherwise(m / lit(127.0))
  }

  /** Symmetric int8 scalar quantization: q_i = floor(x_i/scale + 0.5),
    * range [-127, 127]. At 100 TB of embeddings this is the difference
    * between a corpus that fits executor memory and one that doesn't —
    * 4× smaller vectors (and int SIMD distance kernels) for a recall loss
    * the recon-cosine column makes measurable per vector. `floor(x+0.5)`
    * rather than `round`: round-half-up in every engine (ANSI round() ties
    * break half-even in some engines, half-up in others — floor is
    * portable, so the oracle quantizes bit-identically). */
  def quantizeInt8(v: Column, scale: Column): Column =
    transform(v, x => floor(d(x) / scale + lit(0.5)).cast("int"))

  /** Dequantize back to doubles: q_i * scale. */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, i => d(i) * scale)

  /** Exact brute-force top-k neighbors for each query vector.
    * Queries are broadcast (small side); corpus streams through codegen. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     qId: String = "qid", cId: String = "nid"): DataFrame = {
    val q = queries.select(col("vec_id").as(qId), col("embedding").as("__qe"))
    val c = corpus.select(col("vec_id").as(cId), col("embedding").as("__ce"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col(qId) =!= col(cId))
      .withColumn("sim", round(cosineNative(corpus, col("__qe"), col("__ce")), 6))
    val w = Window.partitionBy(col(qId)).orderBy(col("sim").desc, col(cId).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(qId), col(cId), col("sim"), col("rank").cast("long").as("rank"))
  }

  /** Deterministic ±1 hyperplane signs: sign(plane p, dim d) = +1 iff the
    * first hex digit of md5("p_d") has its high bit set. Computed once on
    * the driver; identical everywhere. */
  def hyperplaneSigns(planes: Int, dims: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(planes, dims) { (p, dd) =>
      val h = md.digest(s"${p}_$dd".getBytes("UTF-8"))
      if ((h(0) & 0x80) != 0) 1.0 else -1.0
    }
  }

  /** Random-hyperplane LSH bucket key: one char per plane, '1' iff the
    * projection of the vector onto the plane is positive. Vectors in the
    * same bucket are near-duplicates/high-cosine candidates. */
  def lshBucket(vec: Column, planes: Int = 8, dims: Int = 64): Column = {
    val signs = hyperplaneSigns(planes, dims)
    val bits = (0 until planes).map { p =>
      // native fused-loop dot (same fold order as the zip_with+aggregate
      // form → bit-identical signs); 8 plane dots per row is the
      // bucket-assignment hot kernel at corpus scale
      val proj = graft.functions.VectorFunctions.vecDot(vec, typedLit(signs(p)))
      when(proj > 0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** ANN top-k: candidates restricted to the query's LSH bucket, then exact
    * cosine re-rank inside the bucket. Equi-join on the bucket key — the
    * scale path (no cross join). Recall < 1 by construction; raise `planes`
    * ↓bucket size, or probe multiple buckets for higher recall. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              planes: Int = 8): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("__qe"),
      lshBucket(col("embedding"), planes).as("bucket"))
    val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("__ce"),
      lshBucket(col("embedding"), planes).as("bucket"))
    val scored = c.join(q, Seq("bucket")).filter(col("qid") =!= col("nid"))
      .withColumn("sim", round(cosineNative(corpus, col("__qe"), col("__ce")), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank").cast("long").as("rank"))
  }

  /** Embedding-cosine near-duplicate pairs (north-star dedup tier): LSH
    * bucket equi-self-join → native-cosine verify → threshold. The bucket
    * join bounds candidate generation (no n² cross join); at 100 TB the
    * shuffle key is the bucket string and hot buckets are the skew unit
    * (more planes → smaller buckets). */
  def nearDupPairs(vectors: DataFrame, threshold: Double,
                   planes: Int = 8): DataFrame = {
    val b = vectors.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding"), planes).as("bucket"))
    val l = b.select(col("bucket"), col("vec_id").as("a"), col("embedding").as("__ea"))
    val r = b.select(col("bucket"), col("vec_id").as("b"), col("embedding").as("__eb"))
    l.join(r, Seq("bucket")).filter(col("a") < col("b"))
      .withColumn("sim", round(cosineNative(vectors, col("__ea"), col("__eb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), col("sim")).distinct()
  }

  // ---- IVF (inverted-file) ANN ---------------------------------------------

  /** Cosine of a vector column against each centroid literal, as one array
    * column (k native-kernel calls fused in codegen). */
  private def centroidSims(df: DataFrame, vec: Column, cents: Array[Seq[Float]]): Column =
    array(cents.toIndexedSeq.map(c => cosineNative(df, vec, typedLit(c))): _*)

  /** Coarse IVF centroids via Lloyd iterations, deterministic end to end:
    * init = vectors of the `k` smallest vec_ids, fixed `iters`, cosine
    * assignment. Centroids live on the driver (k × dims floats) and enter
    * plans as literals — the k-means "broadcast" that never shuffles the
    * corpus; each iteration is one scan + one k-row aggregate. */
  def ivfCentroids(vectors: DataFrame, k: Int = 16, iters: Int = 3,
                   dims: Int = 64): Array[Seq[Float]] = {
    var cents: Array[Seq[Float]] = vectors.orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0))
    for (_ <- 0 until iters) {
      val assigned = ivfAssign(vectors, cents)
      val agg = udaf(new CentroidAggregator(dims))
      val next = assigned.groupBy(col("cell"))
        .agg(agg(col("embedding")).as("c")).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).map(_.toFloat)).toMap
      cents = cents.indices.map(i => next.getOrElse(i, cents(i))).toArray
    }
    cents
  }

  /** Assign each vector to its nearest (max-cosine) centroid cell. */
  def ivfAssign(vectors: DataFrame, cents: Array[Seq[Float]]): DataFrame = {
    val sims = centroidSims(vectors, col("embedding"), cents)
    vectors.withColumn("__sims", sims)
      .withColumn("cell",
        (array_position(col("__sims"), array_max(col("__sims"))) - 1).cast("int"))
      .drop("__sims")
  }

  /** Each query's `nprobe` closest cells (posexplode + per-query
    * top-nprobe): (qid, __qe, cell). */
  def probeCells(queries: DataFrame, cents: Array[Seq[Float]],
                 nprobe: Int): DataFrame = {
    val qSims = queries.select(col("vec_id").as("qid"), col("embedding").as("__qe"),
      posexplode(centroidSims(queries, col("embedding"), cents)).as(Seq("cell", "csim")))
    val w = Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cell").asc)
    qSims.withColumn("__pr", row_number().over(w))
      .filter(col("__pr") <= nprobe).drop("__pr", "csim")
  }

  /** Score+rank stage shared by the in-memory, at-rest, and fixture IVF
    * paths: `assigned` must carry (nid, __ce, cell), `qCells`
    * (qid, __qe, cell) from [[probeCells]]. Public so a caller holding a
    * PERSISTED assignment (where the cells are pinned data, not a function
    * of run-time centroids) can re-rank exactly within them — that makes
    * the output deterministic and hash-checkable against an external
    * engine reading the same parquet. */
  def ivfRank(session: DataFrame, assigned: DataFrame,
              qCells: DataFrame, k: Int): DataFrame = {
    val scored = assigned.join(qCells, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", round(cosineNative(session, col("__qe"), col("__ce")), 6))
    val wr = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(wr)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank").cast("long").as("rank"))
  }

  /** IVF ANN top-k: corpus partitioned into cells once; each query probes
    * its `nprobe` closest cells and re-ranks exactly inside them. The join
    * is equi on the cell id — scan cost ≈ nprobe/k of brute force, recall
    * < 1 by construction (raise nprobe → recall→1). This is the other
    * standard scale path next to [[lshTopK]]; at 100 TB the assigned corpus
    * is written partitioned by `cell` ([[writeIvfLayout]]) so probes touch
    * only matching directories ([[ivfTopKFromLayout]]). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nprobe: Int = 2, cells: Int = 16): DataFrame = {
    val cents = ivfCentroids(corpus, cells)
    val c = ivfAssign(corpus, cents)
      .select(col("vec_id").as("nid"), col("embedding").as("__ce"), col("cell"))
    ivfRank(queries, c, probeCells(queries, cents, nprobe), k)
  }

  /** The ANN-at-rest layout: the assigned corpus written hive-partitioned
    * by `cell` with in-file order on `vec_id`, as one
    * [[graft.layout.LayoutTxn.rebuild]] commit — at 100 TB the partition
    * directory IS the inverted list, so a probe reads nprobe/k of the
    * corpus FILES, not just nprobe/k of its rows. */
  def writeIvfLayout(corpus: DataFrame, cents: Array[Seq[Float]],
                     outDir: String): Unit = {
    graft.layout.LayoutTxn.rebuild(corpus.sparkSession, outDir, Seq(
      graft.layout.LayoutTxn.Group("", ivfAssign(corpus, cents), "cell",
        Seq("vec_id"), cents.indices.map(c => s"cell=$c"))), Map.empty)
    ()
  }

  /** IVF ANN top-k against the at-rest layout: the union of the queries'
    * probe cells becomes a LITERAL `isin` partition filter (the set is
    * bounded by the total cell count — a handful of ints, collected
    * driver-side exactly like the centroids themselves), so the scan lists
    * only the probed `cell=` directories — PartitionFilters, asserted by
    * IvfLayoutSpec. Semantically identical to [[ivfTopK]] with the same
    * centroids. */
  def ivfTopKFromLayout(queries: DataFrame, layoutDir: String,
                        cents: Array[Seq[Float]], k: Int,
                        nprobe: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    // one materialization feeds the driver-side cell collect AND the join
    val qCells = probeCells(queries, cents, nprobe).transform(graft.util.Cleanup.checkpoint(_))
    val probed = qCells.select("cell").distinct().collect().map(_.getInt(0)).sorted
    // snapshot-isolated resolve (r15): the probed cells prune the
    // DIRECTORY LIST driver-side, and each listed dir is immutable — a
    // maintenance commit landing mid-query cannot mix two versions into
    // this scan
    val c = graft.layout.LayoutTxn.readLayout(spark, layoutDir, "", "cell",
        Some(probed.map(p => s"cell=$p").toSet))
      .select(col("vec_id").as("nid"), col("embedding").as("__ce"), col("cell"))
    ivfRank(queries, c, qCells, k)
  }

  /** Incremental maintenance of the [[writeIvfLayout]] at-rest index:
    * upsert `changes` (unique `vec_id`, new or replacing) WITHOUT a
    * rebuild. Centroids stay FROZEN (the FAISS IVF-add discipline —
    * retraining online would reassign the whole corpus); each change is
    * assigned to its nearest frozen cell, and only the touched `cell=`
    * directories are rewritten:
    *
    *   touched = cells receiving new copies ∪ cells holding STALE copies
    *   of the upserted ids (found by an id-only semi join — a columnar
    *   scan of vec_id, never the vectors). A replaced vector that MOVES
    *   cells is handled by exactly this union: removed from its old
    *   directory (left_anti below), written into its new one.
    *
    * The rewrite commits through [[graft.layout.LayoutTxn]]: replacement
    * contents for the touched cells are STAGED to a `_lstage_` dir
    * (readers never see it), the commit is CAS-claimed (exactly one
    * writer per version — a concurrent upsert gets
    * [[graft.layout.LayoutTxn.ConflictException]] and retries against
    * the new version), and only then are the touched `cell=` dirs swapped
    * in; a touched cell whose last row was superseded is recorded as a
    * deletion and its dir dropped. Untouched directories are not listed,
    * read, or replaced (IvfUpsertSpec pins the file-level claim), so
    * maintenance cost follows the DELTA and the touched-cell fraction —
    * the MergeTable commit property (§2.1 ⊕K7) replayed at the index
    * layer, now with its writer-writer atomicity too. When upserts skew
    * the cell sizes, the recluster signal is [[Relational.skewProfile]]
    * over `cell` — retrain + full rewrite is then a deliberate batch
    * operation, not something maintenance does implicitly. Returns the
    * touched cell ids. */
  def ivfUpsertLayout(spark: SparkSession, layoutDir: String,
                      cents: Array[Seq[Float]], changes: DataFrame,
                      txnGraceMs: Long = 600000L,
                      batchId: Long = -1L): Seq[Int] = {
    // exactly-once streaming replay guard (r16, the q200 discipline at
    // the vector tier): a micro-batch at-or-below the recorded id has
    // already been applied whole — skip it. Otherwise roll forward any
    // crashed commit / conflict on a live one BEFORE reading the layout,
    // and learn the version this commit must succeed
    val parent = graft.layout.LayoutTxn.beginBatch(layoutDir, batchId,
      txnGraceMs).getOrElse(return Seq.empty)
    val existing = graft.layout.LayoutTxn.readLayout(spark, layoutDir, "", "cell")
    // the replacement must carry the layout's FULL schema: writeIvfLayout
    // keeps whatever passenger columns the corpus carried (label, source,
    // ...), and a rewrite that silently dropped them would leave later
    // snapshots with DIFFERENT schemas across version dirs — the
    // multi-base union then fails on the first partially-touched read
    // (caught building q201: batch 1 of a stream died on the mix batch 0
    // left). Batch columns project onto the layout schema; a column the
    // batch lacks null-fills, extras are dropped.
    val laySchema = existing.schema
    val assigned0 = ivfAssign(changes, cents)
    val assignedNew = assigned0.select(laySchema.fields.toSeq.map { f =>
        if (assigned0.columns.contains(f.name))
          col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
      .transform(graft.util.Cleanup.checkpoint(_))
    val newCells = assignedNew.select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    val staleCells = existing
      .join(assignedNew.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    val touched = (newCells ++ staleCells).toSeq.sorted
    // survivors: rows of touched cells not superseded by the upsert —
    // the touched set prunes the resolved dir list, so only those
    // immutable dirs are read
    val survivors = graft.layout.LayoutTxn.readLayout(spark, layoutDir, "",
        "cell", Some(touched.map(c => s"cell=$c").toSet))
      .join(assignedNew.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .select(laySchema.fieldNames.toSeq.map(col): _*)
    val replacement = survivors.unionByName(assignedNew)
    // stage + CAS-claim + swap; the replacement plan reads layoutDir but
    // is fully materialized into the stage before any live dir is touched
    graft.layout.LayoutTxn.commit(spark, layoutDir, parent, Seq(
      graft.layout.LayoutTxn.Group("", replacement, "cell", Seq("vec_id"),
        touched.map(c => s"cell=$c"))),
      batchId = batchId)
    touched
  }

  /** DELETE(ids) from a [[writeIvfLayout]] directory (⊕K10, r17 — the
    * VERDICT r16 task-2 delete tier for vectors): victims' cells are
    * located by the same id-only columnar semi-join the upsert's
    * stale-find uses (the layout itself is the reverse map at this tier —
    * `vec_id` and `cell` are its partition structure, no `_docmap`
    * needed), then exactly those `cell=` dirs rewrite minus the victims
    * through the LayoutTxn protocol. A cell emptied by the delete is
    * recorded as a deletion and leaves the snapshot. Passenger columns
    * survive (the full-schema rewrite discipline from q201). Returns the
    * touched cell ids. */
  def ivfDeleteLayout(spark: SparkSession, layoutDir: String,
                      victims: DataFrame,
                      txnGraceMs: Long = 600000L): Seq[Int] = {
    val parent = graft.layout.LayoutTxn.begin(layoutDir, txnGraceMs)
    val ids = victims.select(col("vec_id")).distinct()
      .transform(graft.util.Cleanup.checkpoint(_))
    val existing = graft.layout.LayoutTxn.readLayout(spark, layoutDir, "",
      "cell")
    val touched = existing.join(ids, Seq("vec_id"), "left_semi")
      .select("cell").distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (touched.isEmpty) return Seq.empty // no victim is in the layout
    val laySchema = existing.schema
    val survivors = graft.layout.LayoutTxn.readLayout(spark, layoutDir, "",
        "cell", Some(touched.map(c => s"cell=$c").toSet))
      .join(ids, Seq("vec_id"), "left_anti")
      .select(laySchema.fieldNames.toSeq.map(col): _*)
    graft.layout.LayoutTxn.commit(spark, layoutDir, parent, Seq(
      graft.layout.LayoutTxn.Group("", survivors, "cell", Seq("vec_id"),
        touched.map(c => s"cell=$c"))))
    touched
  }

  /** foreachBatch adapter for EXACTLY-ONCE streaming vector-index
    * maintenance: each micro-batch upserts through [[ivfUpsertLayout]]
    * with its batchId recorded in the layout's version state, so a
    * crash-replayed batch is skipped whole — the ⊕K8 MergeTable recipe
    * at the ANN tier. Centroids stay FROZEN across the stream (the
    * FAISS IVF-add discipline); skew-gated [[reclusterCells]] remains
    * the deliberate batch escape hatch. */
  def ivfUpsertSink(layoutDir: String,
                    cents: Array[Seq[Float]]): (DataFrame, Long) => Unit =
    (batch, id) => {
      ivfUpsertLayout(batch.sparkSession, layoutDir, cents, batch,
        batchId = id)
      ()
    }

  /** The deliberate RECLUSTER batch op — the documented escape hatch after
    * [[ivfUpsertLayout]]'s frozen-centroid maintenance has let drifted
    * upserts skew the cell sizes (skewed cells degrade recall: a probe
    * spends its nprobe budget on bloated cells). Reads the
    * [[Relational.skewProfile]] decision rule over the at-rest `cell`
    * column first: below `skewThreshold` (skew_factor = max·k/total, 1.0
    * = balanced) this is a NO-OP — the index is fine, don't rewrite 100 TB
    * — otherwise centroids RETRAIN over the current at-rest corpus
    * ([[ivfCentroids]]' deterministic Lloyd) and the whole layout rewrites
    * once (one whole-layout commit; the corpus is checkpointed first so
    * the plan never reads the dirs it supersedes). Returns the new centroids,
    * or None when below threshold. Maintenance stays cheap and
    * delta-shaped (upsert); rebalance is this explicit, skew-gated batch
    * op — the FAISS retrain discipline at the layout layer. */
  def reclusterCells(spark: SparkSession, layoutDir: String,
                     cells: Int = 16, skewThreshold: Double = 2.0,
                     iters: Int = 3, dims: Int = 64,
                     txnGraceMs: Long = 600000L): Option[Array[Seq[Float]]] = {
    // same maintenance-writer entry as ivfUpsertLayout: roll forward /
    // conflict BEFORE reading the layout the rewrite is computed from
    val parent = graft.layout.LayoutTxn.begin(layoutDir, txnGraceMs)
    val snap = graft.layout.LayoutTxn.snapshot(layoutDir)
    val atRest = graft.layout.LayoutTxn.readSnapshot(spark, snap, "", "cell")
      .select(col("vec_id"), col("embedding"), col("cell"))
    val skew = graft.ops.Relational.skewProfile(atRest, "cell")
      .select(col("skew_factor")).head().getDouble(0)
    if (skew < skewThreshold) None
    else {
      val corpus = atRest.select(col("vec_id"), col("embedding"))
        .transform(graft.util.Cleanup.checkpoint(_))
      val cents = ivfCentroids(corpus, cells, iters, dims)
      // a full rewrite touches every live cell plus every cell the
      // retrained assignment can produce — cells emptied by the retrain
      // become deletions at swap, exactly like an upsert's emptied cell
      graft.layout.LayoutTxn.commit(spark, layoutDir, parent,
        graft.layout.LayoutTxn.whole(snap, Seq(
          graft.layout.LayoutTxn.Group("", ivfAssign(corpus, cents), "cell",
            Seq("vec_id"), (0 until cells).map(c => s"cell=$c")))))
      Some(cents)
    }
  }

  // ---- IVF-PQ (product quantization) ---------------------------------------

  /** Deterministic left-fold squared L2 between a sub-vector column and a
    * codeword expression. */
  private def l2sq(sub: Column, cw: Column): Column =
    aggregate(zip_with(sub, cw, (x, y) => (d(x) - d(y)) * (d(x) - d(y))),
      lit(0.0), (acc, x) => acc + x)

  /** Per-subvector k-means codebooks — the PQ compression step after
    * [[writeIvfLayout]]: each `dims/m`-dim slice of every vector is
    * vector-quantized against its own `ks`-entry codebook, so a vector
    * stores as m small codes (m=8, ks=16 → 8 nibbles = 4 bytes) instead of
    * dims floats (256 bytes) — the standard at-rest shrink for a 100 TB
    * embedding corpus. Training mirrors [[ivfCentroids]]' determinism
    * discipline: init = sub-slices of the `ks` smallest vec_ids, fixed
    * Lloyd iterations, squared-L2 assignment with first-index tiebreak;
    * all m subvectors train in ONE distributed pass per iteration (explode
    * to (j, sub) rows → literal-codebook argmin → (j, code)-keyed mean);
    * the driver holds only m × ks × dims/m doubles — codebooks enter every
    * plan as literals, the corpus never collects. */
  def pqTrain(vectors: DataFrame, m: Int = 8, ks: Int = 16, iters: Int = 3,
              dims: Int = 64): Array[Array[Seq[Double]]] = {
    require(dims % m == 0, s"pqTrain: dims $dims not divisible by m $m")
    val sub = dims / m
    val init = vectors.orderBy(col("vec_id")).limit(ks)
      .select(col("embedding")).collect().map(_.getSeq[Float](0))
    require(init.length == ks, s"pqTrain: corpus smaller than ks=$ks")
    var cbs: Array[Array[Seq[Double]]] = Array.tabulate(m, ks)((j, c) =>
      init(c).slice(j * sub, (j + 1) * sub).map(_.toDouble))
    for (_ <- 0 until iters) {
      val cbLit = typedLit(cbs.map(_.map(_.toSeq).toSeq).toSeq)
      val assigned = vectors
        .select(posexplode(transform(sequence(lit(0), lit(m - 1)),
          j => slice(col("embedding"), j * sub + 1, lit(sub)))).as(Seq("j", "sub")))
        .withColumn("dists", transform(element_at(cbLit, col("j") + 1),
          cw => l2sq(col("sub"), cw)))
        .withColumn("code",
          (array_position(col("dists"), array_min(col("dists"))) - 1).cast("int"))
      val agg = udaf(new CentroidAggregator(sub))
      val next = assigned.groupBy(col("j"), col("code"))
        .agg(agg(col("sub")).as("c")).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
      cbs = Array.tabulate(m, ks)((j, c) =>
        next.get((j, c)).filter(_.nonEmpty).getOrElse(cbs(j)(c)))
    }
    cbs
  }

  /** PQ code column: array<int> of m codebook indices per vector — the
    * 4-byte at-rest representation. Pure scan-stage codegen over literal
    * codebooks; first-index tiebreak keeps the assignment deterministic. */
  def pqEncode(vec: Column, cbs: Array[Array[Seq[Double]]]): Column = {
    val m = cbs.length
    val sub = cbs(0)(0).length
    val cbLit = typedLit(cbs.map(_.map(_.toSeq).toSeq).toSeq)
    transform(sequence(lit(0), lit(m - 1)), j => {
      val s = slice(vec, j * sub + 1, lit(sub))
      val dists = transform(element_at(cbLit, j + 1), cw => l2sq(s, cw))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    })
  }

  /** Asymmetric-distance (ADC) inner-product score as an exact 1e12-scaled
    * LONG: Σ_j round(1e12 · ⟨query_sub_j, codeword(code_j)⟩). Each sub-dot
    * is the native fused-loop kernel against a literal codeword; the m
    * per-sub longs add as exact integers, so the score is order-independent
    * and hash-reproducible by any engine reading the same persisted
    * codebooks (the q133 scaled-long discipline). One projection — the PQ
    * scan never joins or shuffles for the codebook. */
  def pqAdcLong(qvec: Column, code: Column,
                cbs: Array[Array[Seq[Double]]]): Column = {
    val m = cbs.length
    val sub = cbs(0)(0).length
    val cbLit = typedLit(cbs.map(_.map(_.toSeq).toSeq).toSeq)
    (0 until m).map { j =>
      val cw = element_at(element_at(cbLit, j + 1), element_at(code, j + 1) + 1)
      round(graft.functions.VectorFunctions.vecDot(
        slice(qvec, j * sub + 1, sub), cw) * lit(1e12), 0).cast("long")
    }.reduce(_ + _)
  }

  /** IVF-PQ top-k: ADC-score the candidates in the probed cells from codes
    * + literal codebooks ONLY (the compressed scan — 4-byte codes, no full
    * vectors), keep a `shortlist` per query, then exact-cosine re-rank
    * only the shortlist against the full vectors joined back by id. At
    * 100 TB the full vectors are read for shortlist·|Q| rows instead of
    * the whole probed inverted lists — PQ's entire point.
    * `codes` must carry (nid, cell, code); `qCells` (qid, __qe, cell);
    * `vectors` (nid, __ce). Output matches [[ivfRank]]'s shape. */
  def ivfPqRank(session: DataFrame, codes: DataFrame, qCells: DataFrame,
                vectors: DataFrame, cbs: Array[Array[Seq[Double]]], k: Int,
                shortlist: Int): DataFrame = {
    val cand = codes.join(qCells, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("__adc", pqAdcLong(col("__qe"), col("code"), cbs))
    val ws = Window.partitionBy(col("qid")).orderBy(col("__adc").desc, col("nid").asc)
    val short = cand.withColumn("__sr", row_number().over(ws))
      .filter(col("__sr") <= shortlist)
    val scored = short.join(vectors, Seq("nid"))
      .withColumn("sim", round(cosineNative(session, col("__qe"), col("__ce")), 6))
    val wr = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(wr)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank").cast("long").as("rank"))
  }

  /** Typed Aggregator (⊕A7): element-wise vector mean. Buffer = (sums,
    * count); merge is associative so Spark runs it partial+final like any
    * hash aggregate. Exposed untyped via functions.udaf. */
  class CentroidAggregator(dims: Int)
      extends Aggregator[Seq[Float], (Array[Double], Long), Seq[Double]] {
    def zero: (Array[Double], Long) = (Array.fill(dims)(0.0), 0L)
    def reduce(b: (Array[Double], Long), v: Seq[Float]): (Array[Double], Long) = {
      var i = 0
      while (i < dims && i < v.length) { b._1(i) += v(i); i += 1 }
      (b._1, b._2 + 1)
    }
    def merge(x: (Array[Double], Long), y: (Array[Double], Long)): (Array[Double], Long) = {
      var i = 0
      while (i < dims) { x._1(i) += y._1(i); i += 1 }
      (x._1, x._2 + y._2)
    }
    def finish(r: (Array[Double], Long)): Seq[Double] =
      if (r._2 == 0) Seq.empty else r._1.map(_ / r._2).toSeq
    def bufferEncoder: Encoder[(Array[Double], Long)] =
      Encoders.tuple(ExprEnc.arrayDouble, Encoders.scalaLong)
    def outputEncoder: Encoder[Seq[Double]] = ExprEnc.seqDouble
  }

  private object ExprEnc {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val arrayDouble: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
    val seqDouble: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
  }

  /** Per-label centroid of the embedding column via the typed Aggregator. */
  def centroids(embeddings: DataFrame, dims: Int = 64): DataFrame = {
    val agg = udaf(new CentroidAggregator(dims))
    embeddings.groupBy(col("label")).agg(agg(col("embedding")).as("centroid"))
  }

  /** Embedding-quality outlier scan: cosine of every vector to ITS OWN
    * label's centroid, flagging vectors far from their cluster — the
    * curation signal for mislabeled / off-distribution embeddings before
    * they poison a similarity index or a training mixture.
    *
    * Shape: one explode to (vec, dim, value) — scan-stage, no shuffle of
    * the vectors themselves — then a (label, dim)-keyed aggregation for
    * centroids (labels x dims rows: broadcast-join material by
    * construction) and one vec-keyed partial+final agg for the three
    * cosine sums. At 100 TB the only fact-sized exchange is that final
    * per-vector agg.
    *
    * Determinism (oracle-hash-proof): centroid components are
    * DECIMAL(27,10) exact sums divided as doubles; dot/norm contributions
    * are 1e12-scaled LONG sums (the PageRank/q101 discipline — exact,
    * order-independent, codegen fast path); `sim` is one IEEE double
    * expression over the exact sums, floor-truncated to 6 decimals.
    *
    * Returns (id, label, sim, is_outlier = sim < threshold). */
  def centroidOutliers(embeddings: DataFrame, idCol: String,
                       labelCol: String, vecCol: String,
                       threshold: Double): DataFrame = {
    def d(c: Column): Column = c.cast("double")
    val comp = embeddings.select(col(idCol), col(labelCol),
      posexplode(col(vecCol)).as(Seq("i", "x")))
      .withColumn("x", d(col("x")))
    val cent = comp.groupBy(col(labelCol), col("i"))
      .agg((d(sum(col("x").cast(DecimalType(27, 10)))) /
        d(count(lit(1)))).as("c"))
    val sums = comp.join(cent, Seq(labelCol, "i"))
      .groupBy(col(idCol), col(labelCol))
      .agg(
        sum(round(col("x") * col("c") * lit(1e12), 0).cast("long")).as("sd"),
        sum(round(col("x") * col("x") * lit(1e12), 0).cast("long")).as("sv"),
        sum(round(col("c") * col("c") * lit(1e12), 0).cast("long")).as("sc"))
    val sim = (d(col("sd")) / lit(1e12)) /
      (sqrt(d(col("sv")) / lit(1e12)) * sqrt(d(col("sc")) / lit(1e12)))
    // zero-norm vectors/centroids: define sim = 0 (engines disagree on 0/0)
    val guarded = when(col("sv") === 0L || col("sc") === 0L, lit(0.0))
      .otherwise(floor(sim * lit(1e6)) / lit(1e6))
    sums.select(col(idCol), col(labelCol), guarded.as("sim"))
      .withColumn("is_outlier", col("sim") < threshold)
  }
}
