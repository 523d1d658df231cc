package graft.layout

import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

/** MERGE INTO-shaped transactional upsert table over plain parquet — the
  * Load story the reference's upsert semantics imply (main.py:171-260
  * applies a create/update/delete plan row by row against a stateful
  * target; SURVEY.md §5's roundtrip property: re-running the same load
  * must be a no-op). Re-expressed as the standard copy-on-write table
  * pattern every open table format builds on (snapshot directories + an
  * atomically-swapped manifest pointer), reduced to its minimal public
  * core:
  *
  *  - **Hash-bucketed layout.** Rows live in `pmod(hash(key...),
  *    numBuckets)` buckets, written hive-partitioned by [[BucketCol]] and
  *    sorted by the key inside each file. The key may be COMPOSITE
  *    ([[mergeKeys]] — e.g. (id, date)): the bucket hash, the ANSI
  *    duplicate-source check, and the classification join all run over
  *    the key tuple. A merge rewrites ONLY the buckets its change keys
  *    hash into — cost scales with the delta, not the table. At
  *    100 TB that is the difference between rewriting gigabytes and
  *    rewriting everything.
  *  - **Commit history & time travel by wall-clock (r14).** Every commit
  *    stamps its manifest with a monotone wall-clock, the operation kind,
  *    and the batch row count; [[history]] surfaces them (DESCRIBE
  *    HISTORY), and [[readAtTimestamp]]/[[versionForTimestamp]] resolve
  *    `TIMESTAMP AS OF` to the newest version at-or-before the instant.
  *  - **Snapshot isolation.** Each commit writes a NEW `v<n>/` directory;
  *    the manifest maps each bucket to the version that last rewrote it.
  *    Readers resolve the manifest once and read immutable directories —
  *    a concurrent reader never sees a half-written merge, and a failed
  *    merge leaves no visible state (its directory is unreferenced).
  *  - **Atomic commit.** The manifest swap is a same-directory
  *    `ATOMIC_MOVE` rename — atomic on POSIX and HDFS. (On a
  *    rename-less object store this one primitive becomes a
  *    conditional-put; everything else is already immutable.)
  *  - **Idempotent replay.** Commits record the streaming `batchId` that
  *    produced them; [[merge]] skips any batch at-or-below the recorded
  *    one, which is exactly the `foreachBatch` exactly-once recipe — a
  *    retried micro-batch re-merges and is ignored ([[upsertBatch]]).
  *  - **ANSI MERGE semantics.** `op_flag` drives WHEN NOT MATCHED THEN
  *    INSERT / WHEN MATCHED THEN UPDATE / WHEN MATCHED THEN DELETE;
  *    `updateWhen` is WHEN MATCHED **AND <cond>** THEN UPDATE (a stale
  *    update leaves the target row in place), and a batch with two rows
  *    for one key is rejected like ANSI MERGE's duplicate-source-row
  *    error. An op of "update" on an unmatched key inserts — so a plain
  *    last-write-wins upsert needs no op column bookkeeping at all.
  *  - **Metadata-only schema evolution.** A batch may carry new columns:
  *    they append to the schema as nullable, pre-evolution rows read as
  *    null, and [[readAt]] keeps each version's own schema. Drop, rename,
  *    and loss-free type widening are explicit commits
  *    ([[alterDropColumn]]/[[alterRenameColumn]]/[[alterWidenColumn]])
  *    that move NO data: the manifest interns each distinct PHYSICAL
  *    write schema and maps every bucket to the one its files carry, so
  *    reads scan each bucket group under its at-write names and types and
  *    cast/alias/null-fill to the current logical schema in the plan.
  *    In-batch type changes and column omissions are still rejected —
  *    evolution is always a deliberate commit, never an accident of one
  *    batch's shape.
  *
  * **Optimistic concurrency.** Every commit runs the shared
  * [[CommitLog]] protocol (stage, CAS claim, publish, version-guarded
  * pointer swap, roll-forward): data stages under `_stage_v<n>_<uuid8>`,
  * the claim IS the immutable `_manifest_v<n>` history entry, publish
  * renames the stage to `v<n>`, and the swap installs that manifest as
  * `_latest`. What MergeTable adds is the manifest itself — the
  * bucket→(owning version, schema) map, stats and history fields — and
  * its roll-forward policy: [[recover]], run at every merge/compact
  * entry, finishes ANY claim past `_latest` (no grace). The loser of a
  * claim gets [[MergeTable.ConflictException]]; retry is caller policy.
  */
object MergeTable {

  /** A concurrent writer committed the version this writer was about to
    * claim. The table is intact (the winner's commit is complete and this
    * writer's staged data is removed); retry by re-running the merge
    * against the new current version — retry policy belongs to the
    * caller. */
  final class ConflictException(dir: String, version: Long)
    extends RuntimeException(
      s"concurrent MergeTable commit at $dir: version $version was " +
        s"committed by another writer (expected parent ${version - 1}); " +
        "re-read the table and retry the merge")

  /** Reserved layout column: `pmod(hash(key columns...), numBuckets)`. */
  val BucketCol = "__pk_bucket"

  private val KnownOps = Seq("create", "update", "delete")

  /** Key columns are stored comma-joined in the manifest's `key` property
    * (one property, N names) — so a key column name may not contain a
    * comma. Checked once at table creation. */
  private def joinKeys(keys: Seq[String]): String = {
    require(keys.nonEmpty, "MergeTable needs at least one key column")
    require(keys.forall(!_.contains(",")),
      s"key column names may not contain ',': ${keys.mkString(", ")}")
    require(keys.distinct.size == keys.size,
      s"duplicate key columns: ${keys.mkString(", ")}")
    keys.mkString(",")
  }

  /** One interned PHYSICAL schema — the column names and types a set of
    * bucket files was actually written with — plus the projection from
    * CURRENT logical field names to this schema's physical names. Reading
    * a bucket group = explicit-schema scan of the projected physical
    * fields, then cast+alias to the logical schema (absent logical fields
    * null-fill). This is what makes drop / rename / type-widen evolution
    * METADATA-ONLY commits: no file is ever rewritten — old files keep
    * their physical names and types forever, and the manifest's
    * projections say how today's schema reads them. */
  private[layout] case class PhysSchema(schemaJson: String,
                                        proj: Map[String, String]) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  private case class Manifest(version: Long, batchId: Long, key: String,
                              numBuckets: Int, schemaJson: String,
                              buckets: Map[Int, (Long, Int)],
                              phys: Map[Int, PhysSchema],
                              ts: Long = 0L, op: String = "",
                              rows: Long = -1L,
                              stats: Map[Int, Map[String, (String, String)]] =
                                Map.empty,
                              bucketRows: Map[Int, Long] = Map.empty,
                              nullCounts: Map[Int, Map[String, Long]] =
                                Map.empty,
                              dvs: Map[Int, (Long, Long)] = Map.empty,
                              dictCols: Seq[String] = Nil,
                              dictMax: Int = 0,
                              dicts: Map[Int, Map[String, Set[String]]] =
                                Map.empty,
                              pqBloomCols: Seq[String] = Nil,
                              pqBloomNdv: Long = 0L,
                              // merge-on-read delta runs (r18): bucket ->
                              // ordered (owning version, schema id, rows)
                              // runs, newest-run-wins per key at read time
                              deltas: Map[Int, Seq[(Long, Int, Long)]] =
                                Map.empty) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    /** The key COLUMNS — `key` is their comma-joined manifest encoding. */
    def keys: Seq[String] = key.split(",").toSeq
  }

  // ---- per-bucket column stats (r15: non-key data skipping) ----------------

  /** Column types that carry min/max stats: orderable atomics whose values
    * round-trip losslessly through a string cast under a pinned timezone.
    * Arrays/structs/maps/binary/boolean carry none (no useful order or no
    * safe round-trip); a column without stats simply never prunes. */
  private def statsEligible(dt: DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.NumericType => true
    case org.apache.spark.sql.types.StringType => true
    case org.apache.spark.sql.types.DateType => true
    case org.apache.spark.sql.types.TimestampType => true
    case _ => false
  }

  /** Field-level eligibility: the type check PLUS a name check — the
    * manifest stats encoding separates entries with ',' '=' ':', and only
    * VALUES are base64-protected. A column name containing a separator
    * would make decodeStats unparseable and the whole table unreadable
    * after its first stats-bearing commit, so such a column simply carries
    * no stats (it never prunes — correct, just not fast). */
  private def statsEligible(f: org.apache.spark.sql.types.StructField): Boolean =
    statsEligible(f.dataType) &&
      !f.name.exists(ch => ch == ',' || ch == '=' || ch == ':')

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** One bucket's stats → the manifest property value:
    * `col=b64(min):b64(max),col2=...` (column names are identifiers;
    * values base64ed so arbitrary string data cannot collide with the
    * separators). */
  private def encodeStats(st: Map[String, (String, String)]): String =
    st.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
      s"$c=${b64(lo)}:${b64(hi)}"
    }.mkString(",")

  private def decodeStats(s: String): Map[String, (String, String)] =
    if (s.isEmpty) Map.empty
    else s.split(",").iterator.map { ent =>
      val Array(c, mm) = ent.split("=", 2)
      val Array(lo, hi) = mm.split(":", 2)
      c -> (unb64(lo), unb64(hi))
    }.toMap

  /** Per-bucket (min/max of every stats-eligible column, exact row count),
    * computed from the just-written stage files — one small job over the
    * DELTA (never the table), reading values exactly as the files store
    * them. Stat values are cast to string IN the job (session timezone,
    * which the engine pins to UTC) so the manifest encoding is
    * engine-portable; the counts give [[countRows]] its O(1) answer. */
  private[layout] case class BucketStats(stats: Map[Int, Map[String, (String, String)]],
                                 counts: Map[Int, Long],
                                 nulls: Map[Int, Map[String, Long]])

  /** [[collectBucketStats]] derived from the PARQUET FOOTERS of the
    * just-written stage — r20 (VERDICT r19 task 3): the write itself
    * already computed per-chunk min/max/null-count/row-count, so reading
    * ~KB of footer metadata driver-side replaces a whole Spark job
    * (~60 ms × every commit of the 27-query DML family). The manifest
    * strings that pruning correctness rests on must be BYTE-IDENTICAL to
    * the job's `cast(min(col) as string)` output, so:
    *
    *  - values decode from footer statistics into CATALYST form and are
    *    rendered through the SAME `Cast(..., StringType)` expression the
    *    job uses (session timezone) — identical by construction, pinned
    *    across types/edge values by FooterStatsSpec;
    *  - any gap falls back to the job for the WHOLE stage (returns None):
    *    an unsupported eligible type (e.g. decimal), a chunk whose stats
    *    parquet dropped (>4 KB binary min+max, unsafe legacy sort order),
    *    a float/double chunk whose stats carry NaN (parquet's
    *    Math.min/max propagation disagrees with Spark's NaN-is-greatest
    *    aggregate ordering), a timestamp stored as INT96 (no stats) or in
    *    a non-micro/milli unit. Correct, just not fast.
    *
    * String order is safe without translation: parquet BINARY stats use
    * unsigned byte order, exactly UTF8String's comparison. All-null
    * chunks (numNulls == rows) legitimately carry no min/max and simply
    * contribute nothing, like the job's null-skipping min/max. */
  private[layout] def footerBucketStats(spark: SparkSession, stageDir: String,
                                schema: StructType): Option[BucketStats] = {
    import org.apache.spark.sql.types._
    val cols = schema.fields.toSeq.filter(statsEligible(_))
    val supported = cols.forall(_.dataType match {
      case IntegerType | LongType | ShortType | ByteType | FloatType |
           DoubleType | StringType | DateType | TimestampType => true
      case _ => false
    })
    if (!supported) return None
    val dirs = Option(new java.io.File(stageDir).listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith(s"$BucketCol="))
      .sortBy(_.getName)
    if (dirs.isEmpty) return Some(BucketStats(Map.empty, Map.empty, Map.empty))
    val conf = spark.sessionState.newHadoopConf()
    val zone = Some(spark.sessionState.conf.sessionLocalTimeZone)
    // catalyst-internal value from a footer statistics value, or None for
    // a shape the footer path refuses (INT96, odd units, NaN)
    def internal(dt: DataType, pt: org.apache.parquet.schema.PrimitiveType,
                 v: Any): Option[Any] = dt match {
      case IntegerType => Some(v.asInstanceOf[Integer].intValue)
      case LongType => Some(v.asInstanceOf[java.lang.Long].longValue)
      case ShortType => Some(v.asInstanceOf[Integer].intValue.toShort)
      case ByteType => Some(v.asInstanceOf[Integer].intValue.toByte)
      // NaN: parquet's Math.min/max fold disagrees with Spark's
      // NaN-is-greatest aggregate order. ±0.0: parquet-mr NORMALIZES a
      // zero bound outward (min → -0.0, max → +0.0, PARQUET-1222) —
      // conservative for pruning but not byte-identical to the job's
      // cast. Both refuse → job fallback (FooterStatsSpec pins each).
      case FloatType =>
        val f = v.asInstanceOf[java.lang.Float].floatValue
        if (f.isNaN || f == 0.0f) None else Some(f)
      case DoubleType =>
        val d = v.asInstanceOf[java.lang.Double].doubleValue
        if (d.isNaN || d == 0.0d) None else Some(d)
      case StringType => Some(org.apache.spark.unsafe.types.UTF8String
        .fromBytes(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes))
      case DateType => Some(v.asInstanceOf[Integer].intValue)
      case TimestampType => pt.getLogicalTypeAnnotation match {
        case ts: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
          val raw = v.asInstanceOf[java.lang.Long].longValue
          ts.getUnit match {
            case TimeUnit.MICROS => Some(raw)
            case TimeUnit.MILLIS => Some(Math.multiplyExact(raw, 1000L))
            case _ => None
          }
        case _ => None // INT96 or unannotated: no trustworthy stats
      }
      case _ => None
    }
    def render(dt: DataType, v: Any): String =
      org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(v, dt),
        StringType, zone).eval(null).toString
    try {
      val stats = Map.newBuilder[Int, Map[String, (String, String)]]
      val counts = Map.newBuilder[Int, Long]
      val nulls = Map.newBuilder[Int, Map[String, Long]]
      dirs.foreach { d =>
        val b = d.getName.split("=").last.toInt
        val files = Option(d.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .sortBy(_.getName)
        var rows = 0L
        // per column: (parquet type, running catalyst min, running max)
        val acc = scala.collection.mutable.LinkedHashMap[String,
          (org.apache.parquet.schema.PrimitiveType, Option[Any], Option[Any])]()
        val nullAcc = scala.collection.mutable.LinkedHashMap[String, Long]()
        cols.foreach(f => nullAcc(f.name) = 0L)
        files.foreach { f =>
          val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.getPath), conf))
          val meta = try footer.getFooter finally footer.close()
          import scala.jdk.CollectionConverters._
          meta.getBlocks.asScala.foreach { blk =>
            rows += blk.getRowCount
            cols.foreach { fld =>
              val cc = blk.getColumns.asScala
                .find(_.getPath.toDotString == fld.name)
                .getOrElse(return None) // column missing: not our writer
              val st = cc.getStatistics
              if (st == null || !st.isNumNullsSet) return None
              nullAcc(fld.name) += st.getNumNulls
              if (st.hasNonNullValue) {
                val pt = cc.getPrimitiveType
                val lo = internal(fld.dataType, pt, st.genericGetMin)
                  .getOrElse(return None)
                val hi = internal(fld.dataType, pt, st.genericGetMax)
                  .getOrElse(return None)
                // cross-chunk fold uses the same total order as both the
                // parquet writer and Spark's min/max (NaN excluded above)
                val cmp: (Any, Any) => Int = fld.dataType match {
                  case StringType => (a, b) =>
                    a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
                      .compareTo(b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
                  case FloatType => (a, b) =>
                    java.lang.Float.compare(a.asInstanceOf[Float],
                      b.asInstanceOf[Float])
                  case DoubleType => (a, b) =>
                    java.lang.Double.compare(a.asInstanceOf[Double],
                      b.asInstanceOf[Double])
                  case _ => (a, b) =>
                    java.lang.Long.compare(
                      a.asInstanceOf[Number].longValue,
                      b.asInstanceOf[Number].longValue)
                }
                acc.get(fld.name) match {
                  case None => acc(fld.name) = (pt, Some(lo), Some(hi))
                  case Some((p0, Some(l0), Some(h0))) =>
                    acc(fld.name) = (p0,
                      Some(if (cmp(lo, l0) < 0) lo else l0),
                      Some(if (cmp(hi, h0) > 0) hi else h0))
                  case Some(_) => return None
                }
              } else if (st.getNumNulls != blk.getRowCount)
                return None // stats dropped (not an all-null chunk)
            }
          }
        }
        counts += b -> rows
        nulls += b -> cols.map(f => f.name -> nullAcc(f.name)).toMap
        stats += b -> cols.flatMap { f =>
          acc.get(f.name).collect { case (_, Some(lo), Some(hi)) =>
            f.name -> (render(f.dataType, lo), render(f.dataType, hi))
          }
        }.toMap
      }
      Some(BucketStats(stats.result(), counts.result(), nulls.result()))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Stage stats: footer-derived when every chunk supports it, else the
    * r15 Spark job — same [[BucketStats]] either way (FooterStatsSpec
    * pins byte-identity across the type/edge matrix). */
  private def stageStats(spark: SparkSession, stageDir: String,
                         schema: StructType): BucketStats =
    footerBucketStats(spark, stageDir, schema).getOrElse(
      collectBucketStats(spark, stageDir, schema))

  private[layout] def collectBucketStats(spark: SparkSession, stageDir: String,
                                 schema: StructType): BucketStats = {
    val cols = schema.fields.toSeq.filter(statsEligible(_))
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(f => Seq(
      min(col(f.name)).cast("string").as(s"__lo_${f.name}"),
      max(col(f.name)).cast("string").as(s"__hi_${f.name}"),
      count(col(f.name)).as(s"__nn_${f.name}")))
    // the `__pk_bucket=` dirs are `_`-prefixed, so discovery from the
    // stage root would skip them — list them explicitly under an explicit
    // schema, the readBuckets discipline
    val dirs = Option(new java.io.File(stageDir).listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith(s"$BucketCol="))
      .map(_.getPath).sorted
    if (dirs.isEmpty) return BucketStats(Map.empty, Map.empty, Map.empty)
    val rows = spark.read.option("basePath", stageDir)
      .schema(schema.add(BucketCol, IntegerType, nullable = false))
      .parquet(dirs: _*)
      .groupBy(col(BucketCol)).agg(aggs.head, aggs.tail: _*)
      .collect()
    val stats = rows.map { r =>
      val b = r.getInt(0)
      b -> cols.flatMap { f =>
        val lo = r.getAs[String](s"__lo_${f.name}")
        val hi = r.getAs[String](s"__hi_${f.name}")
        if (lo == null || hi == null) None // all-null column: no min/max
        else Some(f.name -> (lo, hi))
      }.toMap
    }.toMap
    val counts = rows.map(r => r.getInt(0) -> r.getAs[Long]("__n")).toMap
    // null counts = rows − non-null rows, recorded for EVERY eligible
    // column (unlike min/max, an all-null column's entry is the useful
    // one: it is exactly what IS NOT NULL prunes on)
    val nulls = rows.map { r =>
      val b = r.getInt(0)
      val n = r.getAs[Long]("__n")
      b -> cols.map(f => f.name -> (n - r.getAs[Long](s"__nn_${f.name}"))).toMap
    }.toMap
    BucketStats(stats, counts, nulls)
  }

  /** Per-bucket DISTINCT VALUE SETS of the designated dictionary columns
    * over a just-written stage (r16 categorical skipping) — the
    * complement of min/max for unordered domains: a bucket holding
    * {"US","CA"} has lexical bounds CA..US, which do NOT prune
    * `country = 'DE'`; its value SET does, exactly. A (bucket, column)
    * whose distinct count exceeds `maxVals` records NOTHING (unknown —
    * never prunes; the cap is what keeps manifests small and the agg
    * bounded). Values are cast to string IN the job, the min/max stats'
    * round-trip discipline. Memory is bounded end-to-end: the candidate
    * sets are shuffle-DISTINCTed first, oversized (bucket, column) pairs
    * are dropped by COUNT before any collect_set builds a buffer, and
    * driver state is ≤ buckets × cols × maxVals short strings. */
  private def collectDicts(spark: SparkSession, stageDir: String,
                           schema: StructType, cols: Seq[String],
                           maxVals: Int): Map[Int, Map[String, Set[String]]] = {
    val present = cols.filter(schema.fieldNames.contains)
    val dirs = Option(new java.io.File(stageDir).listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith(s"$BucketCol="))
      .map(_.getPath).sorted
    if (present.isEmpty || dirs.isEmpty) return Map.empty
    val stageBuckets = dirs.map(_.split(s"$BucketCol=").last.toInt)
    val entries = present.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("ci"), col(c).cast("string").as("v")) }
    val dis = spark.read.option("basePath", stageDir)
      .schema(schema.add(BucketCol, IntegerType, nullable = false))
      .parquet(dirs: _*)
      .select(col(BucketCol).as("b"), explode(array(entries: _*)).as("e"))
      .select(col("b"), col("e.ci").as("ci"), col("e.v").as("v"))
      .filter(col("v").isNotNull).distinct()
      .transform(graft.util.Cleanup.checkpoint(_))
    val sizes = dis.groupBy(col("b"), col("ci")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val small = sizes.filter(_._2 <= maxVals).keySet
    val sets: Map[(Int, Int), Set[String]] =
      if (small.isEmpty) Map.empty
      else {
        val keep = present.indices.map { i =>
          val bs = small.collect { case (b, ci) if ci == i => Int.box(b) }.toSeq
          if (bs.isEmpty) lit(false)
          else col("ci") === i && col("b").isin(bs: _*)
        }.reduce(_ || _)
        dis.filter(keep).groupBy(col("b"), col("ci"))
          .agg(collect_set(col("v")).as("vs")).collect()
          .map(r => (r.getInt(0), r.getInt(1)) ->
            r.getAs[scala.collection.Seq[String]]("vs").toSet).toMap
      }
    stageBuckets.map { b =>
      b -> present.zipWithIndex.flatMap { case (c, i) =>
        if (sizes.get((b, i)).exists(_ > maxVals)) None
        else Some(c -> sets.getOrElse((b, i), Set.empty[String]))
      }.toMap
    }.toMap
  }

  /** Parquet writer options for the manifest's designated bloom columns
    * (r16 file-level point-lookup skipping): every rewrite of table data
    * writes per-column bloom filters, and the vectorized reader's pushed
    * equality prunes whole row groups on them — the WITHIN-bucket story
    * for high-cardinality point lookups, where per-bucket min/max (random
    * values span every range), dictionaries (over the distinct cap), and
    * CLUSTER BY (one sort order serves one column) all run out. */
  private def bloomOptions(cols: Seq[String], ndv: Long): Map[String, String] =
    cols.flatMap { c =>
      Seq(s"parquet.bloom.filter.enabled#$c" -> "true") ++
        (if (ndv > 0) Seq(s"parquet.bloom.filter.expected.ndv#$c" -> ndv.toString)
         else Nil)
    }.toMap

  private def parseManifest(p: Path): Manifest = {
    val props = CommitLog.load(p)
    val buckets = props.getProperty("buckets", "") match {
      case "" => Map.empty[Int, (Long, Int)]
      case s => s.split(",").iterator.map { kv =>
        kv.split(":") match {
          case Array(b, v) => b.toInt -> (v.toLong, 0) // pre-evolution format
          case Array(b, v, sid) => b.toInt -> (v.toLong, sid.toInt)
        }
      }.toMap
    }
    val schemaJson = props.getProperty("schema")
    val physIds = props.getProperty("physids", "") match {
      case "" => Seq.empty[Int]
      case s => s.split(",").toSeq.map(_.toInt)
    }
    val phys =
      if (physIds.isEmpty) {
        // pre-evolution manifest: one identity schema id 0
        val fields = DataType.fromJson(schemaJson).asInstanceOf[StructType]
          .fieldNames.toSeq
        Map(0 -> PhysSchema(schemaJson, fields.map(n => n -> n).toMap))
      } else physIds.map { id =>
        val proj = props.getProperty(s"phys.$id.proj", "") match {
          case "" => Map.empty[String, String]
          case s => s.split(",").iterator.map { lp =>
            val Array(l, ph) = lp.split("=", 2); l -> ph
          }.toMap
        }
        id -> PhysSchema(props.getProperty(s"phys.$id.schema"), proj)
      }.toMap
    import scala.jdk.CollectionConverters._
    val stats = props.stringPropertyNames().asScala.toSeq
      .filter(_.startsWith("stats."))
      .map { k =>
        k.stripPrefix("stats.").toInt -> decodeStats(props.getProperty(k))
      }.filter(_._2.nonEmpty).toMap
    val nullCounts = props.stringPropertyNames().asScala.toSeq
      .filter(_.startsWith("nulls."))
      .map { k =>
        k.stripPrefix("nulls.").toInt -> (props.getProperty(k) match {
          case "" => Map.empty[String, Long]
          case s => s.split(",").iterator.map { cn =>
            val i = cn.lastIndexOf(':')
            cn.substring(0, i) -> cn.substring(i + 1).toLong
          }.toMap
        })
      }.filter(_._2.nonEmpty).toMap
    // pre-r16 manifests carry no per-bucket row counts: countRows then
    // reports None and falls back honestly to a scan
    val bucketRows = props.getProperty("rowcounts", "") match {
      case "" => Map.empty[Int, Long]
      case s => s.split(",").iterator.map { kv =>
        val Array(b, n) = kv.split(":"); b.toInt -> n.toLong
      }.toMap
    }
    // deletion vectors (r16 soft delete): bucket -> (owning version of
    // its tombstone file, tombstone count); absent on pre-DV manifests
    val dvs = props.getProperty("dvs", "") match {
      case null | "" => Map.empty[Int, (Long, Long)]
      case s => s.split(",").iterator.map { kv =>
        val Array(b, v, n) = kv.split(":"); b.toInt -> (v.toLong, n.toLong)
      }.toMap
    }
    // per-bucket value dictionaries (r16 categorical skipping): the
    // designated columns, the per-bucket distinct-set cap, and each
    // bucket's recorded sets (`col=b64v1:b64v2,...`; an entry with no
    // values is an all-null column — any equality prunes it)
    val dictCols = props.getProperty("dictcols", "") match {
      case "" => Nil
      case s => s.split(",").toSeq
    }
    val dictMax = Option(props.getProperty("dictmax")).map(_.toInt).getOrElse(0)
    val dicts = props.stringPropertyNames().asScala.toSeq
      .filter(_.startsWith("dict."))
      .map { kk =>
        kk.stripPrefix("dict.").toInt -> (props.getProperty(kk) match {
          case "" => Map.empty[String, Set[String]]
          case s => s.split(",", -1).iterator.map { ent =>
            val Array(c, vs) = ent.split("=", 2)
            c -> (if (vs.isEmpty) Set.empty[String]
                  else vs.split(":").iterator.map(unb64).toSet)
          }.toMap
        })
      }.filter(_._2.nonEmpty).toMap
    // parquet bloom filters (r16 file-level point-lookup skipping): the
    // designated columns and expected NDV each rewrite writes blooms for
    val pqBloomCols = props.getProperty("pqbloom", "") match {
      case "" => Nil
      case s => s.split(",").toSeq
    }
    val pqBloomNdv =
      Option(props.getProperty("pqbloomndv")).map(_.toLong).getOrElse(0L)
    // merge-on-read delta runs (r18): `b:v:sid:n` entries, one per run;
    // a bucket's runs sort ascending by owning version (commit order).
    // Absent on pre-MOR manifests.
    val deltas = props.getProperty("deltas", "") match {
      case null | "" => Map.empty[Int, Seq[(Long, Int, Long)]]
      case s => s.split(",").iterator.map { kv =>
        val Array(b, v, sid, n) = kv.split(":")
        (b.toInt, (v.toLong, sid.toInt, n.toLong))
      }.toSeq.groupBy(_._1).view
        .mapValues(_.map(_._2).sortBy(_._1)).toMap
    }
    Manifest(props.getProperty("version").toLong,
      props.getProperty("batchId").toLong, props.getProperty("key"),
      props.getProperty("numBuckets").toInt, schemaJson,
      buckets, phys,
      // pre-r14 manifests carry no timestamp/op/rows: ts 0 sorts before
      // any real wall-clock, op/rows read as unknown
      ts = Option(props.getProperty("ts")).map(_.toLong).getOrElse(0L),
      op = props.getProperty("op", ""),
      rows = Option(props.getProperty("rows")).map(_.toLong).getOrElse(-1L),
      stats = stats, bucketRows = bucketRows, nullCounts = nullCounts,
      dvs = dvs, dictCols = dictCols, dictMax = dictMax, dicts = dicts,
      pqBloomCols = pqBloomCols, pqBloomNdv = pqBloomNdv, deltas = deltas)
  }

  /** Parsed-`_latest` cache (r20 — VERDICT r19 task 4, the DML commit
    * driver tail): every commit re-parsed `_latest` several times
    * (recover, prior read, read-backs), each a file read + Properties
    * parse + stats/dict decode. `_latest` is only ever REPLACED by a
    * same-dir ATOMIC_MOVE, so its (inode fileKey, size, mtime) identity
    * changes on every commit — in-process or from another process — and
    * an identity-matched cache entry can never be stale. Process-local;
    * dies with the JVM (no cross-run persistence). */
  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[
    String, (AnyRef, Long, java.nio.file.attribute.FileTime, Manifest)]()

  private def readManifest(dir: String): Option[Manifest] = {
    val p = Log.pointerPath(dir)
    if (!Files.exists(p)) None
    else try {
      val attrs = Files.readAttributes(p,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      val fk = attrs.fileKey()
      if (fk == null) Some(parseManifest(p)) // filesystem without identity
      else {
        val cached = manifestCache.get(dir)
        if (cached != null && cached._1 == fk && cached._2 == attrs.size()
            && cached._3 == attrs.lastModifiedTime()) Some(cached._4)
        else {
          val m = parseManifest(p)
          if (manifestCache.size > 4096) manifestCache.clear()
          manifestCache.put(dir,
            (fk, attrs.size(), attrs.lastModifiedTime(), m))
          Some(m)
        }
      }
    } catch {
      // the swap raced our stat/read: retry the plain parse once (the
      // pre-cache code had the same exists→open window)
      case _: java.io.IOException =>
        if (Files.exists(p)) Some(parseManifest(p)) else None
    }
  }

  /** Properties (not JSON) for the manifest: `Properties.store` handles
    * every escaping concern (the embedded schema JSON is one value).
    * The same record is the commit's claim: its `stage` property names the
    * data dir [[recover]] renames to `v<n>` after a crash. */
  private def props(m: Manifest, stageDir: Option[String]): Properties = {
    val p = new Properties()
    p.setProperty("version", m.version.toString)
    p.setProperty("batchId", m.batchId.toString)
    p.setProperty("key", m.key)
    p.setProperty("numBuckets", m.numBuckets.toString)
    p.setProperty("schema", m.schemaJson)
    p.setProperty("buckets",
      m.buckets.toSeq.sorted.map { case (b, (v, sid)) => s"$b:$v:$sid" }
        .mkString(","))
    p.setProperty("physids", m.phys.keys.toSeq.sorted.mkString(","))
    m.phys.foreach { case (id, ps) =>
      p.setProperty(s"phys.$id.schema", ps.schemaJson)
      p.setProperty(s"phys.$id.proj",
        ps.proj.toSeq.sorted.map { case (l, ph) => s"$l=$ph" }.mkString(","))
    }
    p.setProperty("stage", stageDir.getOrElse(""))
    p.setProperty("ts", m.ts.toString)
    p.setProperty("op", m.op)
    p.setProperty("rows", m.rows.toString)
    m.stats.foreach { case (b, st) =>
      if (st.nonEmpty) p.setProperty(s"stats.$b", encodeStats(st))
    }
    if (m.bucketRows.nonEmpty)
      p.setProperty("rowcounts",
        m.bucketRows.toSeq.sorted.map { case (b, n) => s"$b:$n" }.mkString(","))
    m.nullCounts.foreach { case (b, nc) =>
      if (nc.nonEmpty) p.setProperty(s"nulls.$b",
        nc.toSeq.sorted.map { case (c, n) => s"$c:$n" }.mkString(","))
    }
    if (m.dvs.nonEmpty)
      p.setProperty("dvs", m.dvs.toSeq.sorted
        .map { case (b, (v, n)) => s"$b:$v:$n" }.mkString(","))
    if (m.deltas.nonEmpty)
      p.setProperty("deltas", m.deltas.toSeq.sortBy(_._1).flatMap {
        case (b, runs) => runs.map { case (v, sid, n) => s"$b:$v:$sid:$n" }
      }.mkString(","))
    if (m.pqBloomCols.nonEmpty) {
      p.setProperty("pqbloom", m.pqBloomCols.mkString(","))
      p.setProperty("pqbloomndv", m.pqBloomNdv.toString)
    }
    if (m.dictCols.nonEmpty) {
      p.setProperty("dictcols", m.dictCols.mkString(","))
      p.setProperty("dictmax", m.dictMax.toString)
      m.dicts.toSeq.sortBy(_._1).foreach { case (b, ds) =>
        if (ds.nonEmpty) p.setProperty(s"dict.$b",
          ds.toSeq.sortBy(_._1).map { case (c, vs) =>
            s"$c=${vs.toSeq.sorted.map(b64).mkString(":")}"
          }.mkString(","))
      }
    }
    p
  }

  /** Commit wall-clock for a new manifest: real time, clamped STRICTLY
    * increasing against the parent so (a) a host clock step backwards can
    * never make `TIMESTAMP AS OF` (max version with ts <= t) skip a
    * version, and (b) two commits never share an instant — resolving v(n)
    * 's own recorded timestamp always yields v(n), not a same-millisecond
    * v(n+1). Write-once per manifest, so replay determinism is unaffected
    * — the manifest is immutable history, not query input. */
  private def commitTs(prior: Option[Manifest]): Long =
    math.max(System.currentTimeMillis(), prior.map(_.ts + 1).getOrElse(0L))

  /** MergeTable's format over the shared [[CommitLog]] protocol: the
    * claim IS the `_manifest_v<n>` history entry and the pointer swap
    * installs it verbatim as `_latest`; any claim rolls forward (grace 0 —
    * a MergeTable writer never waits on another's publish). */
  private val Log = new CommitLog.Format("graft MergeTable manifest",
    stagePrefix = "_stage_", claimPrefix = "_manifest_v", dirPrefix = "v",
    pointer = "_latest",
    current = dir => readManifest(dir).fold(-1L)(_.version),
    next = (_, pr) => pr,
    conflict = (dir, v, _) => new ConflictException(dir, v),
    lost = new LostCommitException(_, _, _))

  private def commit(dir: String, m: Manifest, stageDir: Option[String]): Unit =
    Log.commit(dir, props(m, stageDir))

  /** A claimed commit whose staged data AND published `v<n>` directory are
    * both gone — unrecoverable (the data no longer exists anywhere, e.g. a
    * vacuum raced the writer before its stage rename). The claim manifest
    * is withdrawn before this is thrown, so the table heals: the NEXT
    * writer re-claims the same version number cleanly instead of every
    * future recover() rethrowing forever. */
  final class LostCommitException(dir: String, version: Long, stage: String)
    extends RuntimeException(
      s"MergeTable commit v$version at $dir is unrecoverable: its staged " +
        s"data dir '$stage' and published v$version dir are both missing " +
        "(a vacuum likely deleted an in-flight stage); the claim was " +
        "withdrawn — the interrupted merge must be re-run")

  /** Publish + `_latest` swap of a claimed manifest ([[CommitLog]]). */
  private[layout] def finishCommit(dir: String, pr: Properties): Unit =
    Log.finish(dir, pr)

  /** Roll every claimed-but-unswapped commit forward. Run at every
    * merge/compact entry; a no-op on a healthy table. */
  private def recover(dir: String): Unit = { Log.rollForward(dir, 0L); () }

  /** Resolve the immutable history manifest for `version`. A CLAIMED but
    * UNFINISHED commit (the manifest records a stage dir and `v<version>`
    * does not exist yet — a writer between CAS claim and data rename, or
    * crashed there) is rolled forward HERE rather than read through:
    * reading through it would make [[readBuckets]] silently treat the
    * absent bucket dirs as all-deleted, i.e. time travel and CDC would
    * return wrong results instead of erroring. Roll-forward is the same
    * idempotent [[finishCommit]] every writer runs; if the staged data is
    * gone too, this fails loudly ([[LostCommitException]]) instead of
    * returning a manifest that reads as an empty snapshot. */
  private def manifestAt(dir: String, version: Long): Manifest = {
    val p = Log.claimPath(dir, version)
    require(Files.exists(p),
      s"no manifest for version $version at $dir (expired or never committed)")
    val pr = CommitLog.load(p)
    val stage = pr.getProperty("stage", "")
    if (stage.nonEmpty && !Files.exists(Log.versionDir(dir, version))) {
      // roll the unfinished commit forward, or throw if its data is gone
      // (publish first: finish skips a version the pointer already passed)
      Log.publish(dir, version, stage)
      finishCommit(dir, pr)
    }
    parseManifest(p)
  }

  /** Current table contents (payload columns only). */
  def read(spark: SparkSession, dir: String): DataFrame =
    readBuckets(spark, dir, requireManifest(dir), None).drop(BucketCol)

  /** Current committed version, None if no table exists yet. */
  def currentVersion(dir: String): Option[Long] =
    readManifest(dir).map(_.version)

  /** The table's key column names, in layout order (as of the current
    * manifest — renames move them). */
  def tableKeys(dir: String): Seq[String] = requireManifest(dir).keys

  /** The table's bucket count (fixed at creation — bucket placement is
    * `pmod(hash(key), numBuckets)`, so it can never change in place). */
  def tableNumBuckets(dir: String): Int = requireManifest(dir).numBuckets

  /** Single-key convenience for [[tableKeys]]; throws on a composite-key
    * table (callers that can meet composites should use [[tableKeys]]). */
  def tableKey(dir: String): String = tableKeys(dir) match {
    case Seq(one) => one
    case more => throw new UnsupportedOperationException(
      s"MergeTable at $dir has a composite key (${more.mkString(", ")}); " +
        "use tableKeys")
  }

  /** Current contents restricted to the buckets `keys`' values hash into —
    * the pruned read a MERGE classification wants: only the directories
    * the merge itself would rewrite are scanned, so the cost follows the
    * delta. `keys` carries the key value columns POSITIONALLY (one column
    * per table key, any names); each is cast to its table key type so the
    * bucket hash matches the layout's. */
  def readForKeys(spark: SparkSession, dir: String, keys: DataFrame): DataFrame = {
    val m = requireManifest(dir)
    require(keys.columns.length == m.keys.size,
      s"readForKeys: table keys (${m.keys.mkString(", ")}) need " +
        s"${m.keys.size} column(s), got ${keys.columns.length}")
    val hashed = keys.columns.toSeq.zip(m.keys).map { case (c, k) =>
      col(c).cast(m.schema(k).dataType)
    }
    val buckets = keys
      .select(pmod(hash(hashed: _*), lit(m.numBuckets)).as("__b"))
      .distinct().collect().map(_.getInt(0)).toSet
    readBuckets(spark, dir, m, Some(buckets)).drop(BucketCol)
  }

  /** Current contents under `predicate`, with manifest-stats DATA
    * SKIPPING (r15): buckets whose recorded per-column min/max prove no
    * row can satisfy the predicate are not listed, opened, or scanned —
    * driver-side pruning from the manifest alone, before any file I/O.
    * The predicate is applied on the scan too (stats only prune, never
    * answer). Pruning engages for conjuncts of the shape `col <op>
    * literal` (op ∈ =, <, <=, >, >=, and BETWEEN's expansion) over
    * stats-eligible columns; every other conjunct is kept but prunes
    * nothing.
    *
    * What this buys at 100 TB is honest but conditional: per-bucket
    * min/max only prune when values are LOCALIZED per bucket (batch
    * loads whose buckets carry narrow ranges, dimension-correlated keys,
    * compacted time-ordered history). A hash-bucketed layout spreads
    * uncorrelated columns uniformly, where every bucket's range spans
    * the domain and nothing prunes — forcing locality is what the
    * Z-order layout (⊕K9) is for. The stats are still recorded
    * delta-proportionally either way; a query that cannot prune pays
    * only the manifest read. */
  def readWhere(spark: SparkSession, dir: String,
                predicate: Column): DataFrame =
    readPruned(spark, dir, predicate).filter(predicate)

  /** The bucket-pruned scan [[readWhere]] wraps, WITHOUT the re-applied
    * predicate — for callers that keep their own Filter on top (the SQL
    * door routes `SELECT ... FROM t WHERE pred` here and leaves the
    * analyzer's Filter in place, so the predicate evaluates exactly once
    * while the scan still skips stats-proven-empty buckets). Stats only
    * prune; the caller's filter answers. */
  def readPruned(spark: SparkSession, dir: String,
                 predicate: Column): DataFrame = {
    val m = requireManifest(dir)
    readBuckets(spark, dir, m, prunedBuckets(spark, m, predicate))
      .drop(BucketCol)
  }

  /** Exact live row count from the manifest alone — O(1) driver-side, no
    * file listed or opened (every merge/compact records each rewritten
    * bucket's exact count; at 100 TB `count(*)` is a metadata read, the
    * standard table-format property). None when any live bucket predates
    * per-bucket counts (pre-r16 manifests) — callers fall back to a scan. */
  def countRows(dir: String): Option[Long] = {
    val m = requireManifest(dir)
    // merge-on-read runs make the net live count a resolution question
    // (run rows overwrite base rows key-by-key) — honest None, scan answers
    if (m.deltas.nonEmpty) None
    else if (m.buckets.isEmpty) Some(0L)
    else if (m.buckets.keySet.forall(m.bucketRows.contains))
      Some(m.buckets.keySet.toSeq.map(m.bucketRows).sum)
    else None
  }

  /** Per-bucket live row counts as a (bucket, rows) DataFrame — from the
    * manifest when complete (zero data I/O), else computed by a grouped
    * scan (pre-r16 manifests; honest fallback, same answer). Backs the
    * `graft_rows('t')` SQL table function. */
  def bucketRowCounts(spark: SparkSession, dir: String): DataFrame = {
    val m = requireManifest(dir)
    if (m.deltas.isEmpty && m.buckets.keySet.forall(m.bucketRows.contains)) {
      import spark.implicits._
      m.buckets.keySet.toSeq.sorted.map(b => (b, m.bucketRows(b)))
        .toDF("bucket", "rows")
    } else
      readBuckets(spark, dir, m, None)
        .groupBy(col(BucketCol).cast("int").as("bucket"))
        .agg(count(lit(1)).as("rows"))
        .orderBy(col("bucket"))
  }

  /** The manifest's per-bucket column statistics as a (bucket, column,
    * min, max, nulls, rows) DataFrame — pure manifest read, no data I/O.
    * One row per (live bucket, eligible column) that has ANY recorded
    * information; min/max NULL for all-null columns (which record only a
    * null count). Backs the `graft_stats('t')` SQL table function — the
    * "would this predicate skip?" operational surface. */
  def bucketStatsTable(spark: SparkSession, dir: String): DataFrame = {
    val m = requireManifest(dir)
    import spark.implicits._
    m.buckets.keySet.toSeq.sorted.flatMap { b =>
      val st = m.stats.getOrElse(b, Map.empty)
      val nc = m.nullCounts.getOrElse(b, Map.empty)
      val rows = m.bucketRows.get(b)
      (st.keySet ++ nc.keySet).toSeq.sorted.map { c =>
        (b, c, st.get(c).map(_._1), st.get(c).map(_._2), nc.get(c), rows)
      }
    }.toDF("bucket", "column", "min", "max", "nulls", "rows")
  }

  /** One-row operational summary (the DESCRIBE DETAIL surface, r16):
    * current version, key, bucket count, exact live rows (null when any
    * bucket predates per-bucket counts), distinct scan groups (the
    * fragmentation measure compactStale bounds), total deletion-vector
    * tombstones awaiting materialization, and the designated dictionary /
    * parquet-bloom columns. Pure manifest read — no file listed or opened
    * at any scale. */
  def detail(spark: SparkSession, dir: String): DataFrame = {
    val m = requireManifest(dir)
    val row = Row(m.version, m.key, m.numBuckets,
      countRows(dir).map(java.lang.Long.valueOf).orNull,
      m.buckets.values.toSet.size +
        m.deltas.values.flatten.map { case (v, sid, _) => (v, sid) }.toSet.size,
      java.lang.Long.valueOf(m.dvs.values.map(_._2).sum),
      m.dictCols.mkString(","), m.pqBloomCols.mkString(","))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(row), 1),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("version",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("key",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("num_buckets",
          IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("rows",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("scan_groups",
          IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("dv_tombstones",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("dict_cols",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("bloom_cols",
          org.apache.spark.sql.types.StringType, nullable = false))))
  }

  /** [[readWhere]] against a historical snapshot — stats are recorded in
    * each version's OWN manifest, so time travel prunes with the bounds
    * that were true at that version (a bucket rewritten since keeps its
    * old bounds in the old manifest, untouched by later commits). */
  def readWhereAt(spark: SparkSession, dir: String, version: Long,
                  predicate: Column): DataFrame =
    readPrunedAt(spark, dir, version, predicate).filter(predicate)

  /** [[readPruned]] at a version (the SQL door's `VERSION/TIMESTAMP AS OF
    * ... WHERE` route — the caller's Filter answers, stats only prune). */
  def readPrunedAt(spark: SparkSession, dir: String, version: Long,
                   predicate: Column): DataFrame = {
    val m = manifestAt(dir, version)
    readBuckets(spark, dir, m, prunedBuckets(spark, m, predicate))
      .drop(BucketCol)
  }

  /** The bucket subset [[readWhere]] would scan under `predicate`
    * (None = no conjunct could prune, scan everything) — exposed for
    * plan-quality assertions and operational "would this skip?"
    * diagnostics. */
  def prunableBuckets(dir: String, predicate: Column): Option[Set[Int]] =
    prunedBuckets(SparkSession.active, requireManifest(dir), predicate)

  private def prunedBuckets(spark: SparkSession, m: Manifest,
                            predicate: Column): Option[Set[Int]] = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference => CAttrRef, BinaryComparison, Cast => CCast, EqualTo => CEq, Expression => CExpr, GreaterThan => CGt, GreaterThanOrEqual => CGe, In => CIn, LessThan => CLt, LessThanOrEqual => CLe, Literal => CLit, StartsWith => CStartsWith}
    // the Column API builds unresolved function nodes (`>=` is
    // UnresolvedFunction until the analyzer runs), so the predicate is
    // ANALYZED against an empty relation of the table schema first —
    // comparisons come back as typed catalyst nodes with any implicit
    // casts made explicit. An unresolvable predicate (unknown column)
    // prunes nothing here and fails loudly at the real scan.
    val resolved: Option[CExpr] =
      try {
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
          .filter(predicate).queryExecution.analyzed match {
          case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, _) =>
            Some(cond)
          case _ => None
        }
      } catch {
        // the SQL door hands this RAW parser output (subqueries, exotic
        // shapes): anything the mini-analysis chokes on simply prunes
        // nothing — the real scan still answers (and still fails loudly
        // there if the predicate is genuinely bad)
        case scala.util.control.NonFatal(_) => None
      }
    def conjuncts(e: CExpr): Seq[CExpr] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // an attribute, possibly under a cast — but ONLY a cast that preserves
    // the ordering of the STORED stats in its target domain. The stats are
    // string renderings of the column's NATIVE values in native order, so:
    //  * to/from StringType never qualifies (lexical vs numeric order:
    //    strings {"5","30"} record lo="30"; Cast(lo AS DOUBLE)=30.0 > 5
    //    would wrongly prune the bucket whose row "5" matches 5.0);
    //  * float→double never qualifies (the shortest-render stat string
    //    re-parses to a DIFFERENT double than the value's own widening —
    //    "0.1" → 0.1d ≠ (double)0.1f — so bounds can shift past a literal
    //    at the edge);
    //  * everything else must be a loss-free up-cast (numeric widening,
    //    date→timestamp), where stat strings parse exactly in the wider
    //    domain and native order carries over.
    // A cast outside these rules returns None: the conjunct prunes
    // nothing, the scan-side filter still answers correctly.
    def orderPreserving(from: DataType, to: DataType): Boolean =
      CCast.canUpCast(from, to) &&
        from != org.apache.spark.sql.types.StringType &&
        to != org.apache.spark.sql.types.StringType &&
        !(from == org.apache.spark.sql.types.FloatType &&
          to == org.apache.spark.sql.types.DoubleType)
    def attrOf(e: CExpr): Option[(String, DataType)] = e match {
      case a: CAttrRef => Some((a.name, a.dataType))
      case c: CCast => c.child match {
        case a: CAttrRef if orderPreserving(a.dataType, c.dataType) =>
          Some((a.name, c.dataType))
        case _ => None
      }
      case _ => None
    }
    def litOf(e: CExpr): Option[(Any, DataType)] = e match {
      case CLit(v, dt) if v != null => Some((v, dt))
      case c if c.foldable =>
        Option(c.eval(null)).map(v => (v, c.dataType))
      case _ => None
    }
    val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    // evaluate `statString <op> literal` in the comparison domain by
    // folding a tiny Cast-comparison — no hand-rolled per-type ordering;
    // a stat that fails to parse yields null = keep the bucket
    def cmp(op: (CExpr, CExpr) => BinaryComparison,
            a: String, cmpDt: DataType, b: Any, bdt: DataType): Boolean = {
      val l = CCast(CLit(org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.sql.types.StringType), cmpDt, tz)
      op(l, CLit(b, bdt)).eval(null) match {
        case java.lang.Boolean.TRUE => true
        case _ => false
      }
    }
    // a stats-eligible schema column for `cname`, canonical-cased
    def eligible(cname: String): Option[String] =
      m.schema.fields.find(_.name.equalsIgnoreCase(cname))
        .filter(statsEligible(_)).map(_.name)
    // a conjunct prunes bucket b when stats PROVE it can match no row
    def pruneOf(e: CExpr): Option[(String, (String, String)) => Boolean] = e match {
      // col IN (v1, v2, ...): no row when EVERY value falls outside
      // [lo, hi] — the disjunction of equalities prunes only when each
      // disjunct does
      case CIn(v, list) if list.nonEmpty =>
        attrOf(v).flatMap { case (cname, cmpDt) =>
          val vals = list.map(litOf)
          if (vals.exists(_.isEmpty)) None
          else eligible(cname).map { canonical =>
            (statCol: String, mm: (String, String)) =>
              statCol == canonical && vals.flatten.forall { case (lv, lvdt) =>
                cmp(CGt(_, _), mm._1, cmpDt, lv, lvdt) ||
                  cmp(CLt(_, _), mm._2, cmpDt, lv, lvdt)
              }
          }
        }
      // col LIKE 'p%' (analyzed to StartsWith): matches sort in
      // [p, pUpper) under binary UTF-8 order (= code-point order, which
      // string stats record) — no row when hi < p or lo >= pUpper.
      // pUpper = p with its last char incremented; skipped (conservative:
      // only the hi < p half prunes) when the increment would cross into
      // the surrogate range or overflow, where code-unit arithmetic stops
      // tracking code-point order.
      case CStartsWith(av, pv) =>
        (attrOf(av), litOf(pv)) match {
          case (Some((cname, dt)), Some((p, _)))
              if dt == org.apache.spark.sql.types.StringType && p != null =>
            eligible(cname).map { canonical =>
              val prefix = p.toString
              val upper: Option[String] = {
                val cs = prefix.toCharArray
                if (cs.isEmpty) None
                else {
                  val last = cs(cs.length - 1)
                  val inc = (last + 1).toChar
                  if (last == Char.MaxValue || Character.isSurrogate(last) ||
                    Character.isSurrogate(inc)) None
                  else Some(new String(cs, 0, cs.length - 1) + inc)
                }
              }
              import org.apache.spark.unsafe.types.UTF8String
              (statCol: String, mm: (String, String)) =>
                statCol == canonical && {
                  val lo = UTF8String.fromString(mm._1)
                  val hi = UTF8String.fromString(mm._2)
                  hi.compareTo(UTF8String.fromString(prefix)) < 0 ||
                    upper.exists(u =>
                      lo.compareTo(UTF8String.fromString(u)) >= 0)
                }
            }
          case _ => None
        }
      case _ => pruneCmp(e)
    }
    def pruneCmp(e: CExpr): Option[(String, (String, String)) => Boolean] = {
      def sides(l: CExpr, r: CExpr): Option[(String, DataType, Any, DataType, Boolean)] =
        (attrOf(l), litOf(r), litOf(l), attrOf(r)) match {
          case (Some((c, dt)), Some((v, vdt)), _, _) => Some((c, dt, v, vdt, false))
          case (_, _, Some((v, vdt)), Some((c, dt))) => Some((c, dt, v, vdt, true))
          case _ => None
        }
      val shape: Option[(String, DataType, Any, DataType, String)] = e match {
        case CEq(l, r) => sides(l, r).map { case (c, dt, v, vd, _) => (c, dt, v, vd, "=") }
        case CLt(l, r) => sides(l, r).map { case (c, dt, v, vd, f) =>
          (c, dt, v, vd, if (f) ">" else "<") }
        case CLe(l, r) => sides(l, r).map { case (c, dt, v, vd, f) =>
          (c, dt, v, vd, if (f) ">=" else "<=") }
        case CGt(l, r) => sides(l, r).map { case (c, dt, v, vd, f) =>
          (c, dt, v, vd, if (f) "<" else ">") }
        case CGe(l, r) => sides(l, r).map { case (c, dt, v, vd, f) =>
          (c, dt, v, vd, if (f) "<=" else ">=") }
        case _ => None
      }
      shape.flatMap { case (cname, cmpDt, v, vdt, op) =>
        m.schema.fields.find(_.name.equalsIgnoreCase(cname))
          .filter(statsEligible(_)).map { f =>
            val canonical = f.name
            (statCol: String, mm: (String, String)) => {
              val (lo, hi) = mm
              statCol == canonical && (op match {
                // col = v: no row when v < min or v > max
                case "=" => cmp(CGt(_, _), lo, cmpDt, v, vdt) ||
                  cmp(CLt(_, _), hi, cmpDt, v, vdt)
                // col < v: no row when min >= v
                case "<" => cmp(CGe(_, _), lo, cmpDt, v, vdt)
                case "<=" => cmp(CGt(_, _), lo, cmpDt, v, vdt)
                // col > v: no row when max <= v
                case ">" => cmp(CLe(_, _), hi, cmpDt, v, vdt)
                case ">=" => cmp(CLt(_, _), hi, cmpDt, v, vdt)
              })
            }
          }
      }
    }
    // IS [NOT] NULL conjuncts prune on the recorded per-bucket null
    // counts (r16): `col IS NOT NULL` proves a bucket empty when every
    // row's value is null (nullCount == rowCount — exactly the bucket
    // min/max can never describe); `col IS NULL` when it has zero nulls.
    // Absent counts (pre-r16 manifests) keep the bucket.
    def nullPruneOf(e: CExpr): Option[Int => Boolean] = e match {
      case org.apache.spark.sql.catalyst.expressions.IsNotNull(a: CAttrRef) =>
        eligible(a.name).map { canonical => (b: Int) =>
          (for {
            n <- m.nullCounts.get(b).flatMap(_.get(canonical))
            rows <- m.bucketRows.get(b)
          } yield n == rows).getOrElse(false)
        }
      case org.apache.spark.sql.catalyst.expressions.IsNull(a: CAttrRef) =>
        eligible(a.name).map { canonical => (b: Int) =>
          m.nullCounts.get(b).flatMap(_.get(canonical)).contains(0L)
        }
      case _ => None
    }
    // equality / IN conjuncts prune on the recorded per-bucket VALUE
    // DICTIONARIES (r16): the predicate literal is rendered to string in
    // the DRIVER with the same Cast the recording job used, and a bucket
    // whose set misses every value is provably empty — exact, no false
    // pruning. Engages only on a BARE attribute (a cast on the column
    // changes the rendering domain) with the recorded sets of the
    // column's CURRENT type (widen drops them). Absent sets (unrecorded
    // bucket, over-cap column) keep the bucket.
    def dictPruneOf(e: CExpr): Option[Int => Boolean] = {
      def render(v: Any, dt: DataType): String =
        CCast(CLit(v, dt), org.apache.spark.sql.types.StringType, tz)
          .eval(null).toString
      def mk(a: CAttrRef, vals: Seq[(Any, DataType)]): Option[Int => Boolean] =
        m.dictCols.find(_.equalsIgnoreCase(a.name))
          .filter(c => m.schema.fields.exists(f =>
            f.name == c && f.dataType == a.dataType))
          .map { canonical =>
            val rendered = vals.map { case (v, dt) => render(v, dt) }
            (b: Int) => m.dicts.get(b).flatMap(_.get(canonical)) match {
              case Some(set) => rendered.forall(!set.contains(_))
              case None => false
            }
          }
      e match {
        case CEq(a: CAttrRef, l) => litOf(l).flatMap(v => mk(a, Seq(v)))
        case CEq(l, a: CAttrRef) => litOf(l).flatMap(v => mk(a, Seq(v)))
        case CIn(a: CAttrRef, list) if list.nonEmpty =>
          val vals = list.map(litOf)
          if (vals.exists(_.isEmpty)) None else mk(a, vals.flatten)
        case _ => None
      }
    }
    val cs = resolved.toSeq.flatMap(conjuncts)
    // KEY-equality pruning (r16): when the conjuncts pin EVERY key part
    // to a literal (bare attribute, native type — the bucket hash is
    // computed over native values), the row's only possible bucket is
    // pmod(hash(parts in key order), numBuckets) — the readForKeys
    // access path surfaced to every predicate route (readWhere, SQL
    // WHERE, DELETE/UPDATE classification): a point lookup reads ONE
    // bucket no matter how big the table. A single-column key also
    // prunes IN-lists to the union of its values' buckets. Conflicting
    // equalities (k = 1 AND k = 2) keep one value's bucket — the
    // scan-side filter answers (empty), pruning only ever shrinks.
    val keyPruners: Seq[Int => Boolean] = {
      def keyOf(a: CAttrRef): Option[String] =
        m.keys.find(k => k.equalsIgnoreCase(a.name) &&
          m.schema.fields.exists(f => f.name == k && f.dataType == a.dataType))
      def bucketOf(vals: Seq[(Any, DataType)]): Int = {
        val h = new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
          vals.map { case (v, dt) => CLit(v, dt) }).eval(null)
          .asInstanceOf[Int]
        ((h % m.numBuckets) + m.numBuckets) % m.numBuckets
      }
      val eqs: Map[String, (Any, DataType)] = cs.flatMap {
        case CEq(a: CAttrRef, l) =>
          for (k <- keyOf(a); v <- litOf(l)) yield k -> v
        case CEq(l, a: CAttrRef) =>
          for (k <- keyOf(a); v <- litOf(l)) yield k -> v
        case _ => None
      }.toMap
      val full: Option[Int => Boolean] =
        if (m.keys.forall(eqs.contains)) {
          val b0 = bucketOf(m.keys.map(eqs))
          Some((b: Int) => b != b0)
        } else None
      val inList: Seq[Int => Boolean] = m.keys match {
        case Seq(onlyKey) => cs.flatMap {
          case CIn(a: CAttrRef, list)
              if list.nonEmpty && keyOf(a).contains(onlyKey) =>
            val vals = list.map(litOf)
            if (vals.exists(_.isEmpty)) None
            else {
              val keep = vals.flatten.map(v => bucketOf(Seq(v))).toSet
              Some((b: Int) => !keep.contains(b))
            }
          case _ => None
        }
        case _ => Seq.empty
      }
      full.toSeq ++ inList
    }
    val bucketPruners: Seq[Int => Boolean] =
      cs.flatMap(pruneOf(_)).map(p => (b: Int) =>
        m.stats.getOrElse(b, Map.empty).exists { case (c, mm) => p(c, mm) }) ++
        cs.flatMap(nullPruneOf(_)) ++
        cs.flatMap(dictPruneOf(_)) ++
        keyPruners
    if (bucketPruners.isEmpty) None
    // keep unless SOME conjunct proves emptiness from SOME recorded stat
    else Some(m.buckets.keySet.filter(b => !bucketPruners.exists(_(b))))
  }

  /** Last committed streaming batch id, -1 if none / no table. */
  def lastBatchId(dir: String): Long =
    readManifest(dir).map(_.batchId).getOrElse(-1L)

  private def requireManifest(dir: String): Manifest =
    readManifest(dir).getOrElse(
      throw new IllegalArgumentException(s"no MergeTable manifest at $dir"))

  /** Read the live buckets (optionally restricted), [[BucketCol]] kept.
    * Buckets are grouped by (owning version, physical schema id); each
    * group contributes one pruned scan of only its owned `__pk_bucket=`
    * directories — a bucket dir can be absent (every row deleted), which
    * is simply no rows. Each scan uses the group's PHYSICAL schema
    * (exactly what the files were written with, restricted to the fields
    * the current logical schema projects), then casts and aliases to the
    * logical schema: a dropped column is simply not projected, a renamed
    * column reads under its at-write name, a widened column reads at its
    * at-write type and up-casts in the plan — zero rewrites, and the
    * parquet reader is never asked to convert a type itself. */
  private def readBuckets(spark: SparkSession, dir: String, m: Manifest,
                          only: Option[Set[Int]]): DataFrame = {
    val schema = m.schema
    val withBucket = schema.add(BucketCol, IntegerType, nullable = false)
    val live = m.buckets.filter { case (b, _) => only.forall(_.contains(b)) }
    val scans = live.groupBy(_._2).toSeq.sortBy(_._1).flatMap {
      case ((v, sid), bs) =>
        val ps = m.phys.getOrElse(sid, throw new IllegalStateException(
          s"manifest v${m.version} at $dir references unknown schema id $sid"))
        val physSchema = ps.schema
        val readFields = schema.fields.toSeq.flatMap(lf =>
          ps.proj.get(lf.name).flatMap(pn => physSchema.fields.find(_.name == pn)))
        val readSchema = StructType(readFields)
          .add(BucketCol, IntegerType, nullable = false)
        val vDir = s"$dir/v$v"
        val dirs = bs.keys.toSeq.sorted.map(b => s"$vDir/$BucketCol=$b")
          .filter(d => Files.isDirectory(Paths.get(d)))
        if (dirs.isEmpty) None
        else Some(spark.read.option("basePath", vDir).schema(readSchema)
          .parquet(dirs: _*)
          .select(schema.fields.toSeq.map { lf =>
            ps.proj.get(lf.name)
              .map(pn => col(pn).cast(lf.dataType).as(lf.name))
              .getOrElse(lit(null).cast(lf.dataType).as(lf.name))
          } :+ col(BucketCol): _*))
    }
    val base = scans.reduceOption(_.unionByName(_)).getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], withBucket))
      .select((schema.fieldNames.toSeq :+ BucketCol).map(col): _*)
    // merge-on-read soft delete (r16 deletion vectors): buckets with a
    // recorded vector anti-join away their tombstoned keys. The vectors
    // are delta-sized (softDelete writes only the victim keys) and the
    // manifest knows their exact total, so small vectors BROADCAST — the
    // 100 TB side is never shuffled to honour a kilobyte of tombstones.
    // Key values live under fixed positional names (__dv_k<i>), immune to
    // later key renames; key types can never change (widening keys is
    // forbidden), so the stored types always match the manifest's.
    val dvLive = m.dvs.filter { case (b, _) => live.contains(b) }
    val afterDv = if (dvLive.isEmpty) base
    else {
      val kcols = m.keys.zipWithIndex
      val dvS = StructType(kcols.map { case (k, i) =>
        org.apache.spark.sql.types.StructField(s"__dv_k$i",
          schema(k).dataType, nullable = false) })
      val dirs = dvLive.toSeq.sortBy(_._1).map { case (b, (v, _)) =>
        val d = s"$dir/v$v/_dv/$BucketCol=$b"
        require(Files.isDirectory(Paths.get(d)),
          s"manifest v${m.version} at $dir references a missing deletion-" +
            s"vector dir $d — refusing to read (deleted rows would " +
            "silently resurrect)")
        d
      }
      val dv = spark.read.schema(dvS).parquet(dirs: _*)
      val dvSide =
        if (dvLive.values.map(_._2).sum <= 4000000L) broadcast(dv) else dv
      base.join(dvSide,
        kcols.map { case (k, i) => col(k) === col(s"__dv_k$i") }.reduce(_ && _),
        "left_anti")
    }
    // merge-on-read delta runs (r18, the DV mechanic generalized): a
    // bucket may carry ordered upsert/tombstone runs written by
    // [[mergeSmall]] without rewriting the base. Resolution is
    // newest-run-wins PER KEY, computed entirely on the delta side (each
    // run holds at most one row per key, so a window over the runs'
    // union picks the winner); the base is then anti-joined against the
    // delta key set — when the runs are small (the design point) they
    // BROADCAST and the 100 TB base side is never shuffled. DVs compose
    // by construction: a DV only ever predates a bucket's first delta
    // run ([[softDelete]] writes tombstone runs, not vectors, for
    // delta-carrying buckets), so applying it to the base before the
    // runs stack on top is exactly version order.
    val deltaLive = m.deltas.filter { case (b, _) => only.forall(_.contains(b)) }
    if (deltaLive.isEmpty) afterDv
    else {
      val outCols = schema.fieldNames.toSeq.map(col) :+ col(BucketCol)
      val runScans = deltaLive.toSeq
        .flatMap { case (b, runs) => runs.map { case (v, sid, _) => (v, sid, b) } }
        .groupBy { case (v, sid, _) => (v, sid) }.toSeq.sortBy(_._1)
        .map { case ((v, sid), items) =>
          val ps = m.phys.getOrElse(sid, throw new IllegalStateException(
            s"manifest v${m.version} at $dir references unknown schema id " +
              s"$sid in a delta run"))
          val physSchema = ps.schema
          val readFields = schema.fields.toSeq.flatMap(lf =>
            ps.proj.get(lf.name).flatMap(pn =>
              physSchema.fields.find(_.name == pn)))
          val readSchema = StructType(readFields)
            .add(DeltaOpCol, org.apache.spark.sql.types.StringType,
              nullable = false)
            .add(BucketCol, IntegerType, nullable = false)
          val vDir = s"$dir/v$v/_delta"
          val dirs = items.map(_._3).sorted.map(b => s"$vDir/$BucketCol=$b")
          dirs.foreach(d => require(Files.isDirectory(Paths.get(d)),
            s"manifest v${m.version} at $dir references a missing delta " +
              s"run dir $d — refusing to read (upserts would silently " +
              "vanish)"))
          spark.read.option("basePath", vDir).schema(readSchema)
            .parquet(dirs: _*)
            .select(schema.fields.toSeq.map { lf =>
              ps.proj.get(lf.name)
                .map(pn => col(pn).cast(lf.dataType).as(lf.name))
                .getOrElse(lit(null).cast(lf.dataType).as(lf.name))
            } ++ Seq(col(DeltaOpCol), col(BucketCol),
              lit(v).as("__run")): _*)
        }
      val runs = runScans.reduce(_.unionByName(_))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(m.keys.map(col): _*).orderBy(col("__run").desc)
      val newest = runs.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
      val deltaKeys = newest.select(m.keys.map(col): _*)
      val small = deltaLive.values.flatten.map(_._3).sum <= 4000000L
      val kept = afterDv.join(
        if (small) broadcast(deltaKeys) else deltaKeys,
        m.keys, "left_anti")
      kept.select(outCols: _*).unionByName(
        newest.filter(col(DeltaOpCol) =!= "delete").select(outCols: _*))
    }
  }

  /** Column holding a delta-run row's op (create/update/delete) inside
    * `v<n>/_delta/` files — the run's rows are the MERGE batch verbatim. */
  private val DeltaOpCol = "__delta_op"

  /** Apply one change batch. `changes` carries the payload columns plus
    * `opCol` ∈ {create, update, delete}; at most one row per key (ANSI
    * MERGE duplicate-source-row error otherwise). `updateWhen(src, tgt)`
    * is the WHEN MATCHED AND condition: when it does not hold (false OR
    * null), the existing target row is kept. Returns the committed
    * version, or None when `batchId` was already applied (idempotent
    * replay). One shuffle-join of the changes against ONLY their hashed
    * buckets; untouched buckets are not read, not rewritten, and keep
    * their manifest entry. */
  def merge(spark: SparkSession, dir: String, changes: DataFrame, key: String,
            opCol: String = "op_flag", numBuckets: Int = 16,
            batchId: Long = -1L,
            updateWhen: Option[(String => Column, String => Column) => Column] = None,
            expectedParent: Option[Option[Long]] = None): Option[Long] =
    mergeKeys(spark, dir, changes, Seq(key), opCol, numBuckets, batchId,
      updateWhen, expectedParent)

  /** [[merge]] over a COMPOSITE key: rows live in
    * `pmod(hash(k1, k2, ...), numBuckets)` buckets, the ANSI one-source-
    * row-per-key check and the classification join run over the key TUPLE,
    * and [[readForKeys]] prunes on the tuple hash. A single-element `keys`
    * is exactly [[merge]]. */
  /** The validated, bucketed, checkpointed change batch every merge form
    * (COW [[mergeKeys]], MOR [[mergeSmallKeys]]) starts from. */
  private case class PreparedBatch(prior: Option[Manifest], nb: Int,
                                   key: String, widened: StructType,
                                   payload: Seq[String], ch: DataFrame,
                                   nRows: Long, changed: Set[Int],
                                   newV: Long)

  private def prepareMerge(spark: SparkSession, dir: String,
                           changes: DataFrame, keys: Seq[String],
                           opCol: String, numBuckets: Int, batchId: Long,
                           expectedParent: Option[Option[Long]])
      : Option[PreparedBatch] = {
    val key = joinKeys(keys)
    Files.createDirectories(Paths.get(dir))
    recover(dir) // roll forward any commit interrupted between claim and swap
    val prior = readManifest(dir)
    // serializability fence for callers whose CHANGES were computed from a
    // snapshot (the SQL MERGE classification): if another writer committed
    // between that read and this commit, the classification is stale —
    // conflict loudly instead of applying it. Some(None) = "expected no
    // table yet". Callers whose changes are snapshot-independent (explicit
    // op batches) pass None and keep last-merge-wins.
    expectedParent.foreach { p =>
      if (prior.map(_.version) != p)
        throw new ConflictException(dir, prior.map(_.version + 1).getOrElse(0L))
    }
    if (batchId >= 0 && prior.exists(_.batchId >= batchId)) return None
    prior.foreach(m => require(m.key == key,
      s"MergeTable at $dir is keyed by '${m.key}', not '$key'"))
    val nb = prior.map(_.numBuckets).getOrElse(numBuckets)
    // additive schema evolution: a batch may CARRY NEW columns (appended to
    // the schema as nullable; pre-evolution rows read as null — parquet
    // scans under an explicit schema null-fill columns absent from the
    // file, so no old bucket is rewritten), must carry every existing
    // column, and must not change an existing column's type
    val chFields = changes.schema.fields.toSeq.filterNot(_.name == opCol)
    // the manifest's phys.proj property encodes `logical=physical` pairs
    // ','-separated with the RAW names — a name containing either
    // separator would corrupt the manifest at this very commit and make
    // the whole table unreadable. Fail loudly instead. (':' is fine:
    // stats split on '=' first and base64 values carry no ':'; such
    // columns are merely stats-ineligible.)
    chFields.foreach(f => require(!f.name.exists(c => c == ',' || c == '='),
      s"column name '${f.name}' contains ',' or '=', which the manifest " +
        "schema-projection encoding reserves — rename the column"))
    prior.foreach { m =>
      m.schema.fields.foreach { pf =>
        chFields.find(_.name == pf.name).foreach { cf =>
          require(cf.dataType == pf.dataType,
            s"column '${pf.name}' would change type " +
              s"${pf.dataType.simpleString} -> ${cf.dataType.simpleString}; " +
              "merge batches must match the current schema — widen first " +
              "with alterWidenColumn (a metadata-only commit)")
        }
      }
      m.schema.fieldNames.foreach(n => require(chFields.exists(_.name == n),
        s"batch missing existing column '$n' — drop columns with " +
          "alterDropColumn (a metadata-only commit), not by omission"))
    }
    val widened: StructType = prior match {
      case None => StructType(chFields)
      case Some(m) =>
        val added = chFields.filterNot(f => m.schema.fieldNames.contains(f.name))
          .map(_.copy(nullable = true))
        StructType(m.schema.fields ++ added)
    }
    val payload = widened.fieldNames.toSeq
    keys.foreach(k =>
      require(payload.contains(k), s"key '$k' not in payload $payload"))

    // Checkpointed once: the join and the write must not recompute an
    // arbitrarily expensive upstream plan. EVERY batch-stats check rides
    // the CHECKPOINT job itself as observe() metrics — CollectMetrics
    // fires during the localCheckpoint materialization — so the former
    // dedicated stats action (a multi-distinct Expand plan, ~0.5 s per
    // commit at the bench tier) is gone from the commit path entirely.
    // The ANSI duplicate-source-row check is a per-key window count (an
    // exact max over key groups, no distinct aggregate — observe() forbids
    // those); the window's exchange+sort by `key` is work the downstream
    // full-outer join needs anyway, and localCheckpoint preserves the
    // resulting partitioning. Metrics are NOT read from any later
    // join/write action: an AQE broadcast-converted side delivers an
    // EMPTY observation map (measured, r11), so the checkpoint is the one
    // reliable delivery point.
    // r19 negative result (plans/r19/merge_copartition_negative.txt): a
    // bucket-aligned variant — batch repartitioned by BucketCol, join
    // keyed on (bucket, keys), stage writes skipping their shuffle — was
    // implemented and measured 21.4 s -> 33.6 s (best-of-4) on the DML
    // bench family. Cause: in Spark 4 neither localCheckpoint nor
    // persist() exposes the materialized HashPartitioning under AQE
    // (LogicalRDD reports UnknownPartitioning; cached AQE plans hide
    // theirs), so EnsureRequirements re-exchanged by (bucket, keys) and
    // the "pre-shuffled" write fragmented every bucket dir. The shape
    // below (window exchange by key reused by the join, one write
    // exchange by bucket) stands as the measured optimum.
    val obs = new org.apache.spark.sql.Observation
    val anyKeyNull = keys.map(col(_).isNull).reduce(_ || _)
    val ch = changes.select(payload.map(col) :+
        coalesce(col(opCol).cast("string"), lit("<null>")).as("__op") :+
        pmod(hash(keys.map(col): _*), lit(nb)).as(BucketCol): _*)
      .withColumn("__srcdup", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)))
      .observe(obs,
        collect_set(col(BucketCol)).as("buckets"),
        collect_set(when(!col("__op").isin(KnownOps: _*), col("__op")))
          .as("bad_ops"),
        count(when(anyKeyNull, 1)).as("null_keys"),
        max(col("__srcdup")).as("max_dup"),
        count(lit(1)).as("n_rows"))
      .transform(d => graft.util.JobLabel(spark, "mergetable: validate+checkpoint batch")(
        graft.util.Cleanup.checkpoint(d)))
      .drop("__srcdup")
    val stats = obs.get // delivered by the checkpoint job
    val badOps = stats("bad_ops").asInstanceOf[scala.collection.Seq[String]]
    require(badOps.isEmpty,
      s"unknown op(s) ${badOps.mkString(", ")}: expected $KnownOps")
    require(stats("null_keys").asInstanceOf[Long] == 0L,
      s"null '$key' in merge source — MERGE keys must be non-null")
    Option(stats("max_dup")).map(_.asInstanceOf[Long]).foreach(maxDup =>
      require(maxDup <= 1L,
        s"duplicate keys in merge source (one '$key' appears $maxDup times)" +
          " — ANSI MERGE forbids multiple source rows per target row"))
    val nRows = stats("n_rows").asInstanceOf[Long]
    val changed = stats("buckets").asInstanceOf[scala.collection.Seq[Int]].toSet
    Some(PreparedBatch(prior, nb, key, widened, payload, ch, nRows, changed,
      prior.map(_.version + 1).getOrElse(0L)))
  }

  def mergeKeys(spark: SparkSession, dir: String, changes: DataFrame,
                keys: Seq[String], opCol: String = "op_flag",
                numBuckets: Int = 16, batchId: Long = -1L,
                updateWhen: Option[(String => Column, String => Column) => Column] = None,
                expectedParent: Option[Option[Long]] = None): Option[Long] = {
    val pb = prepareMerge(spark, dir, changes, keys, opCol, numBuckets,
      batchId, expectedParent).getOrElse(return None)
    val PreparedBatch(prior, nb, key, widened, payload, ch, nRows, changed,
      newV) = pb
    val schemaJson = widened.json
    // attempt-unique staging: concurrent writers racing for version newV
    // must never interleave files in one data dir — the CAS in commit()
    // decides whose stage becomes v<newV>
    val stage = Log.stageName(newV)

    // initial commit (or no changed bucket has any prior data): nothing to
    // match against, so skip the target read AND the full-outer join — the
    // batch's create/update rows all insert
    val wopts = prior.map(m => bloomOptions(m.pqBloomCols, m.pqBloomNdv))
      .getOrElse(Map.empty[String, String])
    val priorData = prior.filter(m => changed.exists(b =>
      m.buckets.contains(b) || m.deltas.contains(b)))
    if (changed.nonEmpty && priorData.isEmpty) {
      graft.util.JobLabel(spark, "mergetable: write stage (insert-only)")(
        DataLayout.writePartitionedSortedBy(
          ch.filter(col("__op") =!= "delete").drop("__op"),
          s"$dir/$stage", Seq(BucketCol), keys.map(col), wopts))
    } else if (changed.nonEmpty) {
      // align the target side to the widened schema: columns this batch
      // adds read as typed nulls from pre-evolution buckets
      val cur = widened.fields.foldLeft(
          readBuckets(spark, dir, priorData.get, Some(changed)))((df, f) =>
        if (df.columns.contains(f.name)) df
        else df.withColumn(f.name, lit(null).cast(f.dataType)))
      val tgt = cur.select(payload.map(c => col(c).as(s"__t_$c")) :+
        col(BucketCol).as("__t_bucket"): _*)
      // key parts are non-null (checked above), so plain equalities — no
      // null-safe operator needed; the tuple matches iff every part does
      val keyEq = keys.map(k => col(k) === col(s"__t_$k")).reduce(_ && _)
      val tgtHit = col(s"__t_${keys.head}").isNotNull
      val j = ch.join(tgt, keyEq, "full_outer")
      val matched = col("__op").isNotNull && tgtHit
      val condOk = coalesce(
        updateWhen.map(f => f(n => col(n), n => col(s"__t_$n")))
          .getOrElse(lit(true)),
        lit(false))
      // source wins: non-delete, and either unmatched (insert) or the
      // update condition holds; target survives: untouched by this batch,
      // or matched by a conditionally-rejected update. Matched deletes and
      // unmatched deletes produce nothing.
      val takeSrc = col("__op").isNotNull && col("__op") =!= "delete" &&
        (!tgtHit || condOk)
      val keepTgt = (col("__op").isNull && tgtHit) ||
        (matched && col("__op") =!= "delete" && !condOk)
      val out = j.filter(takeSrc || keepTgt).select(
        payload.map(c => when(takeSrc, col(c)).otherwise(col(s"__t_$c")).as(c)) :+
          when(takeSrc, col(BucketCol)).otherwise(col("__t_bucket")).as(BucketCol): _*)
      graft.util.JobLabel(spark, "mergetable: join+write stage")(
        DataLayout.writePartitionedSortedBy(out, s"$dir/$stage", Seq(BucketCol),
          keys.map(col), wopts))
    }
    // intern this commit's physical schema: new files are always written
    // under the CURRENT logical names and types, so the write schema is an
    // identity projection — reused if an identical one already exists
    val identityProj = widened.fieldNames.toSeq.map(n => n -> n).toMap
    val priorPhys = prior.map(_.phys).getOrElse(Map.empty[Int, PhysSchema])
    val sid = priorPhys.collectFirst {
      case (id, ps) if ps.schemaJson == schemaJson && ps.proj == identityProj => id
    }.getOrElse(priorPhys.keys.maxOption.map(_ + 1).getOrElse(0))
    // per-bucket min/max of the REWRITTEN buckets, read back from the
    // just-written stage (delta-proportional); untouched buckets keep
    // their recorded stats, all-deleted rewritten buckets lose theirs
    val bs =
      if (changed.isEmpty) BucketStats(Map.empty, Map.empty, Map.empty)
      else graft.util.JobLabel(spark, "mergetable: stage stats")(
        stageStats(spark, s"$dir/$stage", widened))
    val dcols = prior.map(_.dictCols).getOrElse(Nil)
    val nd =
      if (dcols.isEmpty || changed.isEmpty) Map.empty[Int, Map[String, Set[String]]]
      else graft.util.JobLabel(spark, "mergetable: stage dicts")(
        collectDicts(spark, s"$dir/$stage", widened, dcols,
          prior.map(_.dictMax).getOrElse(0)))
    val buckets = prior.map(_.buckets).getOrElse(Map.empty) ++
      changed.map(_ -> (newV, sid))
    commit(dir, Manifest(newV, batchId, key, nb, schemaJson,
        buckets,
        priorPhys + (sid -> PhysSchema(schemaJson, identityProj)),
        ts = commitTs(prior), op = "merge", rows = nRows,
        stats = prior.map(_.stats).getOrElse(Map.empty) -- changed ++ bs.stats,
        // rewritten buckets get fresh counts; a rewritten bucket whose
        // rows ALL deleted stays in the bucket map (compact drops it) and
        // counts 0 — its stage dir is empty, so the measured map has no entry
        bucketRows = (prior.map(_.bucketRows).getOrElse(Map.empty)
          ++ changed.map(_ -> 0L).toMap ++ bs.counts)
          .filter { case (b, _) => buckets.contains(b) },
        nullCounts = prior.map(_.nullCounts).getOrElse(Map.empty) -- changed
          ++ bs.nulls,
        // rewritten buckets were read THROUGH their deletion vectors, so
        // the rewrite materialized the tombstones — their vectors clear;
        // untouched buckets keep theirs
        dvs = prior.map(_.dvs).getOrElse(Map.empty) -- changed,
        dictCols = dcols, dictMax = prior.map(_.dictMax).getOrElse(0),
        dicts = prior.map(_.dicts).getOrElse(Map.empty) -- changed ++ nd,
        pqBloomCols = prior.map(_.pqBloomCols).getOrElse(Nil),
        pqBloomNdv = prior.map(_.pqBloomNdv).getOrElse(0L),
        // a rewritten bucket was read THROUGH its delta runs — they are
        // materialized into the new base; its run list clears
        deltas = prior.map(_.deltas).getOrElse(Map.empty) -- changed),
      if (changed.nonEmpty) Some(stage) else None)
    Some(newV)
  }

  /** MERGE-ON-READ upsert (r18): apply a change batch by APPENDING it as
    * per-bucket delta runs — no target bucket is read or rewritten. The
    * copy-on-write [[merge]] costs O(touched bucket bytes) per commit
    * (at 100 TB, rewriting whole multi-GB buckets to apply a kilobyte of
    * changes); this costs O(batch) — the write amplification moves to
    * read time, where [[readBuckets]] resolves newest-run-wins per key
    * with the small runs BROADCAST against the base (the deletion-vector
    * mechanic generalized from delete-only to full upsert), and is paid
    * off by the next [[compact]] / [[compactStale]] / COW merge of each
    * bucket, which materializes the runs and clears them — the standard
    * MOR contract (Hudi MOR, Delta DVs+CDF, Iceberg v2 delete files).
    *
    * Semantics are IDENTICAL to [[merge]] for explicit op batches:
    * create/update upsert by key, delete removes, at most one source row
    * per key (same ANSI check), same additive schema evolution, same
    * batchId replay discipline, same CAS commit protocol. The one
    * exception is `updateWhen` (WHEN MATCHED AND ...): evaluating a
    * condition against the TARGET row requires reading it, which is the
    * cost this path exists to avoid — callers needing it use [[merge]].
    *
    * Bookkeeping is honest, never stale: delta-carrying buckets drop
    * their min/max stats, null counts, and dictionaries (a run can move
    * any bound — missing stats prune nothing, which is correct, just not
    * fast until the next compaction re-derives them), and [[countRows]]
    * reports None (the net count needs resolution). Key-hash pruning
    * ([[readForKeys]], key-equality bucket pruning) still applies — a
    * key's bucket is invariant. Returns the committed version, or None
    * for an already-applied batchId. */
  def mergeSmall(spark: SparkSession, dir: String, changes: DataFrame,
                 key: String, opCol: String = "op_flag",
                 numBuckets: Int = 16, batchId: Long = -1L,
                 expectedParent: Option[Option[Long]] = None): Option[Long] =
    mergeSmallKeys(spark, dir, changes, Seq(key), opCol, numBuckets,
      batchId, expectedParent)

  /** [[mergeSmall]] over a COMPOSITE key — see [[mergeKeys]]. */
  def mergeSmallKeys(spark: SparkSession, dir: String, changes: DataFrame,
                     keys: Seq[String], opCol: String = "op_flag",
                     numBuckets: Int = 16, batchId: Long = -1L,
                     expectedParent: Option[Option[Long]] = None)
      : Option[Long] = {
    val pb = prepareMerge(spark, dir, changes, keys, opCol, numBuckets,
      batchId, expectedParent).getOrElse(return None)
    val PreparedBatch(prior, nb, key, widened, payload, ch, nRows, changed,
      newV) = pb
    val schemaJson = widened.json
    val stage = Log.stageName(newV)
    val wopts = prior.map(m => bloomOptions(m.pqBloomCols, m.pqBloomNdv))
      .getOrElse(Map.empty[String, String])
    // a batch against an EMPTY table (or into untouched buckets only) has
    // nothing to merge on read — write it as BASE data, not a run: the
    // result is byte-identical to merge()'s initial-commit path and the
    // bucket starts its life with stats/counts instead of without
    val priorData = prior.filter(m => changed.exists(b =>
      m.buckets.contains(b) || m.deltas.contains(b)))
    if (priorData.isEmpty)
      return mergeKeys(spark, dir, changes, keys, opCol, numBuckets,
        batchId, None, expectedParent)
    if (changed.nonEmpty) {
      graft.util.JobLabel(spark, "mergetable: write delta run")(
        DataLayout.writePartitionedSortedBy(
          ch.withColumnRenamed("__op", DeltaOpCol),
          s"$dir/$stage/_delta", Seq(BucketCol), keys.map(col), wopts))
    }
    val m = priorData.get
    // per-bucket run row counts (drives the read side's broadcast
    // decision and compactStale's materialization policy) — a delta-sized
    // job over the just-written stage
    val counts: Map[Int, Long] =
      if (changed.isEmpty) Map.empty
      else stageStats(spark, s"$dir/$stage/_delta", widened).counts
    val identityProj = widened.fieldNames.toSeq.map(n => n -> n).toMap
    val priorPhys = m.phys
    val sid = priorPhys.collectFirst {
      case (id, ps) if ps.schemaJson == schemaJson && ps.proj == identityProj => id
    }.getOrElse(priorPhys.keys.maxOption.map(_ + 1).getOrElse(0))
    val newDeltas = m.deltas ++ changed.map(b =>
      b -> (m.deltas.getOrElse(b, Seq.empty) :+
        ((newV, sid, counts.getOrElse(b, 0L)))))
    commit(dir, m.copy(version = newV, batchId = batchId,
        schemaJson = schemaJson,
        phys = priorPhys + (sid -> PhysSchema(schemaJson, identityProj)),
        ts = commitTs(prior), op = "merge-mor", rows = nRows,
        stats = m.stats -- changed,
        bucketRows = m.bucketRows -- changed,
        nullCounts = m.nullCounts -- changed,
        dicts = m.dicts -- changed,
        deltas = newDeltas),
      if (changed.nonEmpty) Some(stage) else None)
    Some(newV)
  }

  /** Create an EMPTY table: one metadata-only v0 commit recording the
    * schema, keys, and bucket count — the SQL `CREATE TABLE ... USING
    * graft` shape. Later merges validate their batches against this
    * schema exactly as against any committed one. No-op error if a table
    * already exists at `dir`. */
  def create(spark: SparkSession, dir: String, schema: StructType,
             keys: Seq[String], numBuckets: Int = 16): Long = {
    val key = joinKeys(keys)
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"key '$k' not in schema ${schema.fieldNames.mkString(", ")}"))
    Files.createDirectories(Paths.get(dir))
    // probe ONCE at the door: the commit CAS stands on fail-if-exists
    // hard links — a filesystem without them must fail table creation
    // loudly, not the first merge mid-write (VERDICT r16 task 4)
    CommitLog.requireHardLinks(Paths.get(dir), "CREATE TABLE")
    recover(dir)
    require(readManifest(dir).isEmpty, s"a MergeTable already exists at $dir")
    val identityProj = schema.fieldNames.toSeq.map(n => n -> n).toMap
    commit(dir, Manifest(0L, -1L, key, numBuckets, schema.json,
      Map.empty, Map(0 -> PhysSchema(schema.json, identityProj)),
      ts = commitTs(None), op = "create", rows = 0L), None)
    0L
  }

  // ---- metadata-only schema evolution: drop / rename / widen ---------------

  /** One evolution commit: same CAS + roll-forward discipline as a merge,
    * version advances, NO data moves (stage is empty). */
  private def alterCommit(dir: String, op: String,
                          f: Manifest => Manifest): Long = {
    recover(dir)
    val m = requireManifest(dir)
    val next = f(m).copy(version = m.version + 1,
      ts = commitTs(Some(m)), op = op, rows = 0L)
    commit(dir, next, None)
    next.version
  }

  /** Drop a column — metadata-only: the field leaves the logical schema
    * and every physical schema's projection, so no scan ever reads it
    * again; the bytes stay in the immutable files (readable via
    * [[readAt]] on pre-drop versions) until those versions expire.
    * Re-adding the same name later null-fills pre-readd rows — the old
    * projection entry is gone, so dropped values never resurrect. The key
    * cannot be dropped. Returns the committed version. */
  def alterDropColumn(dir: String, column: String): Long =
    alterCommit(dir, "alter-drop", { m =>
      require(!m.keys.contains(column),
        s"cannot drop the key column '$column'")
      require(m.schema.fieldNames.contains(column),
        s"no column '$column' in ${m.schema.fieldNames.mkString(", ")}")
      m.copy(
        schemaJson =
          StructType(m.schema.fields.filterNot(_.name == column)).json,
        phys = m.phys.view.mapValues(ps =>
          ps.copy(proj = ps.proj - column)).toMap,
        stats = m.stats.view.mapValues(_ - column).toMap,
        nullCounts = m.nullCounts.view.mapValues(_ - column).toMap,
        dictCols = m.dictCols.filterNot(_ == column),
        dicts = m.dicts.view.mapValues(_ - column).toMap,
        pqBloomCols = m.pqBloomCols.filterNot(_ == column))
    })

  /** Rename a column — metadata-only: the logical schema renames and every
    * physical schema's projection re-keys (the files keep their at-write
    * column name; reads alias it). Renaming the key updates the manifest
    * key — values are untouched, so bucket placement is unchanged.
    * Returns the committed version. */
  def alterRenameColumn(dir: String, from: String, to: String): Long =
    alterCommit(dir, "alter-rename", { m =>
      require(m.schema.fieldNames.contains(from),
        s"no column '$from' in ${m.schema.fieldNames.mkString(", ")}")
      require(!m.schema.fieldNames.contains(to),
        s"column '$to' already exists")
      require(!to.exists(c => c == ',' || c == '='),
        s"column name '$to' contains ',' or '=', which the manifest " +
          "schema-projection encoding reserves")
      require(!(m.pqBloomCols.contains(from) && to.contains("#")),
        s"cannot rename bloom-filter column '$from' to '$to': '#' is " +
          "reserved by the parquet per-column option encoding")
      m.copy(
        key = m.keys.map(k => if (k == from) to else k).mkString(","),
        schemaJson = StructType(m.schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f)).json,
        phys = m.phys.view.mapValues { ps =>
          ps.proj.get(from) match {
            case Some(p) => ps.copy(proj = ps.proj - from + (to -> p))
            case None => ps // schema id predates the column: stays null-filled
          }
        }.toMap,
        stats = m.stats.view.mapValues { st =>
          st.get(from) match {
            case Some(mm) => st - from + (to -> mm)
            case None => st
          }
        }.toMap,
        nullCounts = m.nullCounts.view.mapValues { nc =>
          nc.get(from) match {
            case Some(n) => nc - from + (to -> n)
            case None => nc
          }
        }.toMap,
        dictCols = m.dictCols.map(c => if (c == from) to else c),
        dicts = m.dicts.view.mapValues { ds =>
          ds.get(from) match {
            case Some(vs) => ds - from + (to -> vs)
            case None => ds
          }
        }.toMap,
        pqBloomCols = m.pqBloomCols.map(c => if (c == from) to else c))
    })

  /** Widen a column's type (int→long, float→double, decimal precision —
    * any loss-free upcast) — metadata-only: old files keep their at-write
    * type and up-cast in the read plan; new commits write the widened
    * type under a new schema id. The KEY is excluded: bucket placement is
    * `hash(key value at its type)`, and e.g. hash(1L) ≠ hash(1: Int) —
    * widening the key would send future merges to the wrong buckets.
    * Returns the committed version. */
  def alterWidenColumn(dir: String, column: String, to: DataType): Long =
    alterCommit(dir, "alter-widen", { m =>
      require(!m.keys.contains(column),
        s"cannot widen the key column '$column': bucket placement hashes " +
          "the key at its type; a widened key would re-hash away from " +
          "historical buckets")
      val f = m.schema.fields.find(_.name == column).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$column' in ${m.schema.fieldNames.mkString(", ")}"))
      require(org.apache.spark.sql.catalyst.expressions.Cast
          .canUpCast(f.dataType, to),
        s"${f.dataType.simpleString} -> ${to.simpleString} is not a " +
          "loss-free upcast; widening must preserve every stored value")
      // untouched buckets' recorded stats are renderings of the OLD-type
      // values. When the widen changes the ORDERING domain those bounds
      // are no longer bounds — widen int→string and a plain `col = "30"`
      // compares lexically against numeric-rendered lo/hi ("5" > "30"
      // lexically) and silently prunes matching rows — so the widened
      // column's stats are dropped table-wide (they re-derive on each
      // bucket's next rewrite). Widens that keep the domain (int→long,
      // decimal precision, date→timestamp) keep their stats: old
      // renderings parse exactly in the wider type.
      val reorders = to == org.apache.spark.sql.types.StringType ||
        (f.dataType == org.apache.spark.sql.types.FloatType &&
          to == org.apache.spark.sql.types.DoubleType)
      m.copy(
        schemaJson = StructType(m.schema.fields.map(x =>
          if (x.name == column) x.copy(dataType = to) else x)).json,
        stats = if (!reorders) m.stats
          else m.stats.view.mapValues(_ - column).toMap,
        // dictionaries match by EXACT string rendering, and a widen can
        // change the rendering (float 0.1 reads back as a longer double;
        // decimal scale pads) — drop the widened column's sets always;
        // they re-derive at the new type on each bucket's next rewrite
        dicts = m.dicts.view.mapValues(_ - column).toMap)
    })

  /** Designate the columns that record per-bucket VALUE DICTIONARIES
    * (r16 categorical skipping) — the equality-predicate complement of
    * min/max stats: for unordered/categorical domains (country, status,
    * tenant, source) a bucket's lexical range is wide but its value SET
    * is tiny, and `col = 'DE'` prunes exactly on set membership where
    * CA..US bounds keep the bucket. Metadata-only commit; each bucket
    * records its sets at its NEXT rewrite (an `OPTIMIZE` backfills the
    * whole table), and a (bucket, column) whose distinct count exceeds
    * `maxValues` records nothing — unknown never prunes, and the cap is
    * what keeps manifests small at any scale. Re-designating replaces the
    * column list and INVALIDATES previously recorded sets (config and
    * data must agree); pass Nil to disable. Returns the committed
    * version. */
  def alterSetDictColumns(dir: String, columns: Seq[String],
                          maxValues: Int = 64): Long =
    alterCommit(dir, "alter-dict", { m =>
      require(columns.isEmpty || maxValues >= 1,
        s"alterSetDictColumns: maxValues $maxValues must be >= 1")
      columns.foreach { c =>
        val f = m.schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"no column '$c' in ${m.schema.fieldNames.mkString(", ")}"))
        require(statsEligible(f),
          s"column '$c' (${f.dataType.simpleString}) is not " +
            "dictionary-eligible: atomic orderable types with " +
            "separator-free names only")
      }
      require(columns.distinct.size == columns.size,
        s"duplicate dictionary columns: ${columns.mkString(", ")}")
      m.copy(dictCols = columns,
        dictMax = if (columns.isEmpty) 0 else maxValues,
        dicts = Map.empty)
    })

  /** Designate the columns every data rewrite writes PARQUET BLOOM
    * FILTERS for (r16 file-level point-lookup skipping) — the
    * within-bucket complement of the manifest tiers: a high-cardinality
    * uncorrelated column (email, url, request id) defeats per-bucket
    * min/max (random values span every range), value dictionaries (over
    * the distinct cap), and CLUSTER BY (one sort order serves one
    * column), but the vectorized reader's pushed equality prunes whole
    * row groups on a written bloom. Metadata-only commit; files carry
    * blooms from their NEXT rewrite (an `OPTIMIZE` backfills the table),
    * `expectedNdv` sizes each filter (per row group — set it near the
    * expected distinct values per file). No read-side code changes at
    * all: the skipping is parquet-native, which is exactly why it
    * composes with every other tier. Pass Nil to disable. Returns the
    * committed version. */
  def alterSetParquetBloom(dir: String, columns: Seq[String],
                           expectedNdv: Long = 1000000L): Long =
    alterCommit(dir, "alter-bloom", { m =>
      require(columns.isEmpty || expectedNdv >= 1,
        s"alterSetParquetBloom: expectedNdv $expectedNdv must be >= 1")
      columns.foreach { c =>
        require(m.schema.fieldNames.contains(c),
          s"no column '$c' in ${m.schema.fieldNames.mkString(", ")}")
        require(!c.exists(ch => ch == ',' || ch == '#' || ch == '='),
          s"column name '$c' contains a character the parquet option " +
            "encoding reserves (',', '#', '=')")
      }
      require(columns.distinct.size == columns.size,
        s"duplicate bloom columns: ${columns.mkString(", ")}")
      m.copy(pqBloomCols = columns,
        pqBloomNdv = if (columns.isEmpty) 0L else expectedNdv)
    })

  /** `foreachBatch` adapter: idempotent streaming upsert sink. A retried
    * micro-batch (same batchId) is skipped via the manifest's recorded id
    * — the standard exactly-once recipe for non-transactional sinks. */
  def upsertBatch(dir: String, key: String, opCol: String = "op_flag",
                  numBuckets: Int = 16,
                  updateWhen: Option[(String => Column, String => Column) => Column] = None)
                 : (DataFrame, Long) => Unit =
    upsertBatchKeys(dir, Seq(key), opCol, numBuckets, updateWhen)

  /** [[upsertBatch]] over a COMPOSITE key — the exactly-once foreachBatch
    * recipe with tuple-hashed bucket placement ([[mergeKeys]]). */
  def upsertBatchKeys(dir: String, keys: Seq[String],
                      opCol: String = "op_flag", numBuckets: Int = 16,
                      updateWhen: Option[(String => Column, String => Column) => Column] = None)
                     : (DataFrame, Long) => Unit =
    (batch, id) => {
      mergeKeys(batch.sparkSession, dir, batch, keys, opCol, numBuckets, id,
        updateWhen)
      ()
    }

  /** Merge-on-read DELETE (r16 deletion vectors): rows matching
    * `predicate` are tombstoned BY KEY in per-bucket deletion-vector
    * files — no data bucket is rewritten. At 100 TB this is the
    * difference between a delete that writes kilobytes (the victim keys)
    * and one that rewrites every bucket the victims hash into (the
    * [[merge]]-with-delete-ops copy-on-write path, still available): the
    * rewrite cost is DEFERRED to the next [[compact]] or merge of each
    * bucket, which reads through the vector and clears it — the standard
    * DV contract every production table format converged on. Every read
    * path applies the vectors ([[readBuckets]] anti-joins the tombstone
    * keys — a broadcast; the vectors are delta-sized); time travel sees
    * each version's OWN vectors; CDC treats a vector change as a touched
    * bucket and emits the deletes. Consecutive soft deletes COMPOSE: the
    * new per-bucket vector file is written as old-vector ∪ new-victims,
    * so a bucket's whole vector is always one directory (reads never
    * stack anti-joins). Manifest stats stay honest: min/max are kept
    * (survivors ⊆ the recorded range — too-wide bounds prune less, never
    * wrong), live row counts decrement exactly (victims are computed from
    * the DV-applied read, so none is double-counted), and touched
    * buckets' NON-ZERO null counts are dropped (a stale count could equal
    * the reduced row count and wrongly prune `IS NOT NULL`; zero counts
    * stay — deleting rows cannot create nulls). Returns the committed
    * version, or None when nothing matched (no commit — deleting nothing
    * is a no-op, not history noise). */
  def softDelete(spark: SparkSession, dir: String,
                 predicate: Column): Option[Long] = {
    recover(dir)
    val m = requireManifest(dir)
    val kcols = m.keys.zipWithIndex
    // victims: LIVE rows matching the predicate — the pruned, DV-applied
    // read, reduced to key values + bucket, computed once (checkpointed:
    // the counts action and the vector write must agree)
    val victims = readBuckets(spark, dir, m, prunedBuckets(spark, m, predicate))
      .filter(predicate)
      .select(kcols.map { case (k, i) => col(k).as(s"__dv_k$i") } :+
        col(BucketCol): _*)
      .transform(graft.util.Cleanup.checkpoint(_))
    // bounded driver state: one (bucket, count) row per touched bucket
    val newCounts = victims.groupBy(col(BucketCol))
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (newCounts.isEmpty) return None
    val newV = m.version + 1
    val stage = Log.stageName(newV)
    // a DELTA-CARRYING bucket cannot take a deletion vector: readBuckets
    // applies vectors to the BASE before the runs stack on top, so a
    // vector'd key living in a run would silently resurrect. Its victims
    // become a delete-only DELTA RUN at newV instead — newer than every
    // existing run, so it kills the key wherever it lives. Both subtrees
    // ride ONE stage/commit. The invariant this preserves (a DV always
    // predates its bucket's first run) is what lets the read side apply
    // vectors base-only.
    val (morCounts, dvCounts) = newCounts.partition {
      case (b, _) => m.deltas.contains(b)
    }
    val dvS = StructType(kcols.map { case (k, i) =>
      org.apache.spark.sql.types.StructField(s"__dv_k$i",
        m.schema(k).dataType, nullable = false) })
    val withB = dvS.add(BucketCol, IntegerType, nullable = false)
    if (dvCounts.nonEmpty) {
      val dvVictims = victims.filter(
        col(BucketCol).isin(dvCounts.keySet.toSeq: _*))
      // fold the touched buckets' EXISTING tombstones into the new vector
      // (grouped by owning version — the readBuckets discipline);
      // untouched buckets' vectors are not read or rewritten
      val prior = dvCounts.keySet.toSeq.sorted
        .flatMap(b => m.dvs.get(b).map { case (v, _) => (v, b) })
        .groupBy(_._1).toSeq.sortBy(_._1).map { case (v, bs) =>
          spark.read.option("basePath", s"$dir/v$v/_dv").schema(withB)
            .parquet(bs.map { case (_, b) => s"$dir/v$v/_dv/$BucketCol=$b" }: _*)
        }
      val all = prior.foldLeft(dvVictims)(_.unionByName(_))
      DataLayout.writePartitionedSortedBy(all, s"$dir/$stage/_dv",
        Seq(BucketCol), kcols.map { case (_, i) => col(s"__dv_k$i") })
    }
    val identityProj = m.schema.fieldNames.toSeq.map(n => n -> n).toMap
    val sid = m.phys.collectFirst {
      case (id, ps) if ps.schemaJson == m.schemaJson && ps.proj == identityProj => id
    }.getOrElse(m.phys.keys.maxOption.map(_ + 1).getOrElse(0))
    if (morCounts.nonEmpty) {
      val tombstones = victims
        .filter(col(BucketCol).isin(morCounts.keySet.toSeq: _*))
        .select(m.schema.fields.toSeq.map { f =>
          kcols.find(_._1 == f.name)
            .map { case (_, i) => col(s"__dv_k$i").as(f.name) }
            .getOrElse(lit(null).cast(f.dataType).as(f.name))
        } ++ Seq(lit("delete").as(DeltaOpCol), col(BucketCol)): _*)
      DataLayout.writePartitionedSortedBy(tombstones, s"$dir/$stage/_delta",
        Seq(BucketCol), m.keys.map(col))
    }
    val newDeltas = m.deltas ++ morCounts.map { case (b, n) =>
      b -> (m.deltas.getOrElse(b, Seq.empty) :+ ((newV, sid, n)))
    }
    commit(dir, m.copy(version = newV,
        phys = if (morCounts.isEmpty) m.phys
          else m.phys + (sid -> PhysSchema(m.schemaJson, identityProj)),
        ts = commitTs(Some(m)), op = "delete", rows = newCounts.values.sum,
        bucketRows = m.bucketRows ++ dvCounts.flatMap { case (b, n) =>
          m.bucketRows.get(b).map(c => b -> (c - n)) },
        nullCounts = m.nullCounts.map { case (b, nc) =>
          b -> (if (dvCounts.contains(b)) nc.filter(_._2 == 0L) else nc)
        }.filter(_._2.nonEmpty),
        dvs = m.dvs ++ dvCounts.map { case (b, n) =>
          b -> (newV, m.dvs.get(b).map(_._2).getOrElse(0L) + n) },
        deltas = newDeltas),
      Some(stage))
    Some(newV)
  }

  /** Zero-copy CLONE (r16): `dstDir` becomes an INDEPENDENT MergeTable
    * whose data files are hard links to the versions the CURRENT src
    * manifest references — the shallow-clone every production format
    * offers for dev/test forks of big tables. Cost is per FILE (link
    * creation), never per byte: cloning a 100 TB table moves no data.
    * Only the referenced snapshot versions link (history does not
    * follow — the clone's history starts at its head, like a fork);
    * deletion-vector versions link too, so the clone sees exactly the
    * src's live rows. After the clone the two tables share nothing but
    * immutable inodes: merges write new version dirs on each side, and
    * either side's vacuum deletes only its OWN links (the inode lives
    * until its last link goes). Same-filesystem linking is attempted
    * first; a cross-device clone falls back to per-file copy. Fails if
    * `dstDir` already holds a table; a clone that crashes BEFORE its
    * history-entry claim leaves no manifest (readers see "no table") and
    * re-running relinks idempotently, while one that crashes BETWEEN the
    * claim and the `_latest` swap is rolled FORWARD by the re-run (the
    * claim is the last step after every link, so finishing the pointer
    * swap completes the original clone). Returns the cloned version
    * number (the src head's). */
  def cloneTable(spark: SparkSession, srcDir: String, dstDir: String): Long = {
    recover(srcDir)
    val m = requireManifest(srcDir)
    Files.createDirectories(Paths.get(dstDir))
    // the dst filesystem must support hard links AT ALL (its own commit
    // CAS needs them too); cross-DEVICE src→dst still degrades to
    // per-file copy below — that boundary failure (EXDEV) is orthogonal
    // to link support (VERDICT r16 task 4 / ADVICE r16 medium)
    CommitLog.requireHardLinks(Paths.get(dstDir), "CLONE")
    // A prior clone attempt that crashed between its history-entry CAS
    // and the `_latest` swap left `_manifest_v<head'>` with NO `_latest`:
    // the isEmpty gate below would pass but commit()'s CAS would then
    // conflict forever, and recover() can't heal it (it scans up from
    // `_latest`+1 = v0; the clone's only history entry is head'). Roll
    // that claim forward instead — every data link landed before the
    // claim (the claim is cloneTable's LAST step), so finishing the
    // pointer swap completes the ORIGINAL clone (of the src head as of
    // the first attempt), idempotently (ADVICE r16 low).
    if (readManifest(dstDir).isEmpty) {
      val pendingClone = Option(new java.io.File(dstDir).listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.matches("_manifest_v\\d+"))
        .sortBy(_.getName.stripPrefix("_manifest_v").toLong).lastOption
      pendingClone.foreach { f =>
        val pr = CommitLog.load(f.toPath)
        // only a CLONE claim rolls forward here — a dst holding some
        // UNRELATED crashed commit (a crashed CREATE that lost _latest)
        // must not be published and reported as a clone of srcDir with
        // wrong contents (ADVICE r17 low); schema must match src too
        require(pr.getProperty("op") == "clone",
          s"$dstDir holds a crashed non-clone commit " +
            s"(op=${pr.getProperty("op")}, ${f.getName}) — not a " +
            "resumable CLONE; repair or clear the directory first")
        require(pr.getProperty("schema") == m.schemaJson &&
            pr.getProperty("key") == m.key,
          s"$dstDir holds a crashed clone of a DIFFERENT table " +
            s"(schema/key mismatch with $srcDir) — clear it first")
        finishCommit(dstDir, pr)
        return pr.getProperty("version").toLong
      }
    }
    require(readManifest(dstDir).isEmpty,
      s"a MergeTable already exists at $dstDir — CLONE needs a fresh dir")
    // merge-on-read delta runs live in their own writers' v-dirs too
    val versions = (m.buckets.values.map(_._1) ++ m.dvs.values.map(_._1) ++
      m.deltas.values.flatten.map(_._1)).toSet + m.version
    def linkTree(src: java.io.File, dst: java.io.File): Unit =
      if (src.isDirectory) {
        dst.mkdirs()
        Option(src.listFiles()).getOrElse(Array.empty)
          .foreach(f => linkTree(f, new java.io.File(dst, f.getName)))
      } else CommitLog.linkOrCopy(dst.toPath, src.toPath)
    versions.toSeq.sorted.foreach { v =>
      val src = new java.io.File(srcDir, s"v$v")
      // a no-data head commit (e.g. a metadata-only alter) has no v-dir
      if (src.exists()) {
        require(src.isDirectory, s"clone source v$v is not a directory")
        linkTree(src, new java.io.File(dstDir, s"v$v"))
      }
    }
    // the clone's single history entry IS the src head (same version
    // number — the bucket map references vN dirs by number); commit last,
    // so a crash mid-link leaves no readable table
    commit(dstDir, m.copy(op = "clone", rows = 0L), None)
    m.version
  }

  /** Rewrite live buckets into one new version (the read-side cost of
    * accumulating versions is one pruned scan per distinct (version,
    * schema) group — this folds the rewritten buckets back to one group),
    * dropping all-deleted buckets from the manifest. Follow with
    * [[vacuum]] to reclaim the orphaned versions.
    *
    * `only` restricts the rewrite to a bucket SUBSET (r15): buckets
    * outside it are not read, not rewritten, and keep their manifest
    * entries — so maintenance cost follows the chosen subset, not the
    * table. The default rewrites everything (the `OPTIMIZE t` verb);
    * [[compactStale]] is the policy that picks a subset worth paying
    * for. Subset reads are indistinguishable from full-compaction reads
    * (the manifest group-scan machinery is the same either way —
    * MergeTableSpec pins equality).
    *
    * `clusterBy` (r16) sorts each bucket's rewrite by the given columns
    * instead of the key — the production story for data skipping on a
    * hash-bucketed table whose buckets all span the predicate column's
    * domain (readWhere's honest per-bucket-stats limit). Bucket placement
    * is untouched (it MUST stay hash(key)); what tightens is the PARQUET
    * row-group/file statistics inside each bucket, which the scan-side
    * pushed filter prunes on — so a selective predicate reads ~the
    * matching fraction of each bucket's bytes instead of all of them
    * (the `sql_cluster_skip` ScaleCheck probe measures exactly this).
    * The clustering is a physical property of the rewritten files; it
    * holds until later merges rewrite a bucket and is restored by the
    * next clustered OPTIMIZE — the standard OPTIMIZE-cadence contract. */
  def compact(spark: SparkSession, dir: String,
              only: Option[Set[Int]] = None,
              clusterBy: Option[Seq[String]] = None,
              zorderBy: Option[(String, String)] = None): Long = {
    recover(dir)
    val m = requireManifest(dir)
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "compact: CLUSTER BY and ZORDER BY are mutually exclusive")
    clusterBy.foreach(_.foreach(c => require(m.schema.fieldNames.contains(c),
      s"CLUSTER BY column '$c' is not in ${m.schema.fieldNames.mkString(", ")}")))
    zorderBy.foreach { case (a, b) => Seq(a, b).foreach { c =>
      val f = m.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"ZORDER BY column '$c' is not in ${m.schema.fieldNames.mkString(", ")}"))
      require(f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"ZORDER BY column '$c' must be numeric, is ${f.dataType.simpleString}")
    }}
    val newV = m.version + 1
    val stage = Log.stageName(newV)
    // delta-only buckets (created purely by merge-on-read runs, no base
    // yet) compact too: the rewrite materializes their runs into a base
    val chosen = (m.buckets.keySet ++ m.deltas.keySet)
      .filter(b => only.forall(_.contains(b)))
    if (chosen.nonEmpty) {
      val data = readBuckets(spark, dir, m, Some(chosen))
      val sortExprs: Seq[Column] = zorderBy match {
        case None => clusterBy.getOrElse(m.keys).map(col)
        case Some((a, b)) =>
          // bin each dimension into 16 cells over the CHOSEN data's
          // min/max (one tiny agg — 4 doubles to the driver) and sort by
          // the Morton z-value of the two cells: in-file locality on BOTH
          // columns at once, so a 2-D box predicate prunes parquet row
          // groups on both — `OPTIMIZE ZORDER BY`, the ⊕K9 curve applied
          // inside each hash bucket
          val r = data.agg(
            min(col(a).cast("double")), max(col(a).cast("double")),
            min(col(b).cast("double")), max(col(b).cast("double"))).head()
          def cell(c: String, lo: Double, hi: Double): Column = {
            val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
            least(greatest(((col(c).cast("double") - lit(lo)) / lit(span)
              * lit(16)).cast("int"), lit(0)), lit(15))
          }
          if (r.isNullAt(0) || r.isNullAt(2)) clusterBy.getOrElse(m.keys).map(col)
          else Seq(ZOrder.zvalue(
            cell(a, r.getDouble(0), r.getDouble(1)),
            cell(b, r.getDouble(2), r.getDouble(3))))
      }
      DataLayout.writePartitionedSortedBy(
        data, s"$dir/$stage", Seq(BucketCol), sortExprs,
        bloomOptions(m.pqBloomCols, m.pqBloomNdv))
    }
    val liveDirs = Option(new java.io.File(s"$dir/$stage").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(s"$BucketCol="))
      .map(_.getName.stripPrefix(s"$BucketCol=").toInt)
    // the rewrite lands under the current logical schema (identity
    // projection); untouched buckets keep their owning (version, schema)
    // entries, and schema ids no longer referenced by ANY bucket drop out
    // of THIS manifest (time travel keeps them via the older manifests)
    val identityProj = m.schema.fieldNames.toSeq.map(n => n -> n).toMap
    val sid = m.phys.collectFirst {
      case (id, ps) if ps.schemaJson == m.schemaJson && ps.proj == identityProj => id
    }.getOrElse(m.phys.keys.maxOption.map(_ + 1).getOrElse(0))
    val kept = m.buckets.filterNot { case (b, _) => chosen.contains(b) }
    val buckets = kept ++ liveDirs.map(_ -> (newV, sid))
    val keptDeltas = m.deltas -- chosen
    val referencedSids = buckets.values.map(_._2).toSet ++
      keptDeltas.values.flatten.map(_._2) + sid
    val bs =
      if (chosen.isEmpty) BucketStats(Map.empty, Map.empty, Map.empty)
      else stageStats(spark, s"$dir/$stage", m.schema)
    val nd =
      if (m.dictCols.isEmpty || chosen.isEmpty)
        Map.empty[Int, Map[String, Set[String]]]
      else collectDicts(spark, s"$dir/$stage", m.schema, m.dictCols, m.dictMax)
    commit(dir, m.copy(version = newV,
        buckets = buckets,
        phys = (m.phys + (sid -> PhysSchema(m.schemaJson, identityProj)))
          .filter { case (id, _) => referencedSids.contains(id) },
        ts = commitTs(Some(m)), op = "compact", rows = 0L,
        stats = m.stats -- chosen ++ bs.stats,
        bucketRows = (m.bucketRows -- chosen ++ bs.counts)
          .filter { case (b, _) => buckets.contains(b) },
        nullCounts = (m.nullCounts -- chosen ++ bs.nulls)
          .filter { case (b, _) => buckets.contains(b) },
        // the rewrite read through the chosen buckets' deletion vectors
        // AND delta runs — both materialized, both clear
        dvs = m.dvs -- chosen,
        dicts = (m.dicts -- chosen ++ nd)
          .filter { case (b, _) => buckets.contains(b) },
        deltas = keptDeltas),
      if (chosen.nonEmpty) Some(stage) else None)
    newV
  }

  /** Re-hash the table into `newBuckets` buckets — `OPTIMIZE t REBUCKET n`
    * (r18, VERDICT r17 task 2). The bucket count is fixed at CREATE and
    * sized to bucket-file bytes; a table that has grown 100× since needs
    * more buckets or every bucket is a multi-GB rewrite unit and the
    * readForKeys/bucketed-join parallelism is capped at the stale count.
    * One full resolved read (through deletion vectors and delta runs —
    * both materialize and clear) re-hashed by `pmod(hash(keys), n)` and
    * committed through the same CAS protocol as every other rewrite;
    * stats / row counts / null counts / dictionaries / parquet blooms are
    * re-derived for the new buckets. Readers keep their snapshot
    * (time travel reads old versions under their own manifests' bucket
    * count — key-hash pruning uses each manifest's OWN numBuckets).
    * Cost is one table rewrite, the same as a full [[compact]] — the
    * deliberate resize, not a maintenance cadence. */
  def rebucket(spark: SparkSession, dir: String, newBuckets: Int): Long = {
    recover(dir)
    val m = requireManifest(dir)
    require(newBuckets >= 1,
      s"REBUCKET $newBuckets: bucket count must be >= 1")
    val newV = m.version + 1
    val stage = Log.stageName(newV)
    val hasData = m.buckets.nonEmpty || m.deltas.nonEmpty
    if (hasData) {
      val data = readBuckets(spark, dir, m, None).drop(BucketCol)
        .withColumn(BucketCol,
          pmod(hash(m.keys.map(col): _*), lit(newBuckets)))
      DataLayout.writePartitionedSortedBy(data, s"$dir/$stage",
        Seq(BucketCol), m.keys.map(col),
        bloomOptions(m.pqBloomCols, m.pqBloomNdv))
    }
    val liveDirs = Option(new java.io.File(s"$dir/$stage").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(s"$BucketCol="))
      .map(_.getName.stripPrefix(s"$BucketCol=").toInt).toSeq
    val identityProj = m.schema.fieldNames.toSeq.map(n => n -> n).toMap
    val sid = m.phys.collectFirst {
      case (id, ps) if ps.schemaJson == m.schemaJson && ps.proj == identityProj => id
    }.getOrElse(m.phys.keys.maxOption.map(_ + 1).getOrElse(0))
    val bs =
      if (!hasData) BucketStats(Map.empty, Map.empty, Map.empty)
      else stageStats(spark, s"$dir/$stage", m.schema)
    val nd =
      if (m.dictCols.isEmpty || !hasData)
        Map.empty[Int, Map[String, Set[String]]]
      else collectDicts(spark, s"$dir/$stage", m.schema, m.dictCols, m.dictMax)
    commit(dir, m.copy(version = newV, numBuckets = newBuckets,
        buckets = liveDirs.map(_ -> ((newV, sid))).toMap,
        phys = Map(sid -> PhysSchema(m.schemaJson, identityProj)),
        ts = commitTs(Some(m)), op = "rebucket", rows = 0L,
        stats = bs.stats, bucketRows = bs.counts, nullCounts = bs.nulls,
        dvs = Map.empty, dicts = nd, deltas = Map.empty),
      if (hasData) Some(stage) else None)
    newV
  }

  /** Group-count-gated SUBSET compaction — the OPTIMIZE policy whose cost
    * stays bounded when the table does not need a full rewrite. A read
    * scans one bucket group per distinct (owning version, schema id)
    * pair; when the table has accumulated more than `maxGroups` such
    * groups, the buckets of the SMALLEST groups (fewest buckets) are
    * folded into one new version so at most `maxGroups` remain — the LSM
    * merge-small-runs policy: a steady merge cadence leaves many
    * one-or-two-bucket groups beside the big initial-load group, and
    * folding the little ones buys the group-count reduction at
    * delta-shaped cost while the big group is left in place. At or under
    * `maxGroups`, a no-op: don't rewrite 100 TB to tidy a table that is
    * already tidy. Returns the committed version, or None for the no-op.
    * (A full `compact()` remains the deliberate whole-table rewrite.) */
  def compactStale(spark: SparkSession, dir: String,
                   maxGroups: Int = 4, maxDeltaRuns: Int = 8): Option[Long] = {
    require(maxGroups >= 1, s"compactStale: maxGroups $maxGroups must be >= 1")
    require(maxDeltaRuns >= 1,
      s"compactStale: maxDeltaRuns $maxDeltaRuns must be >= 1")
    recover(dir)
    val m = requireManifest(dir)
    // merge-on-read materialization policy (r18): a bucket that has
    // accumulated maxDeltaRuns or more delta runs pays run-count × probe
    // cost on every read — fold it back to one base. Delta-shaped cost:
    // only the run-heavy buckets rewrite.
    val runHeavy = m.deltas.collect {
      case (b, runs) if runs.size >= maxDeltaRuns => b
    }.toSet
    val sizes = m.buckets.groupBy(_._2).view.mapValues(_.size).toMap
    val groupFolded =
      if (sizes.size <= maxGroups) Set.empty[Int]
      else {
        // the compacted output forms ONE new group, so keep the
        // (maxGroups - 1) largest as-is and fold everything else
        val keep = sizes.toSeq
          .sortBy { case ((v, sid), n) => (-n, -v, sid) }
          .take(maxGroups - 1).map(_._1).toSet
        m.buckets.collect { case (b, g) if !keep.contains(g) => b }.toSet
      }
    val folded = groupFolded ++ runHeavy
    if (folded.isEmpty) None else Some(compact(spark, dir, Some(folded)))
  }

  /** Distinct (owning version, physical schema) bucket groups in the
    * current manifest — the read-side fragmentation measure: one pruned
    * scan per group. [[compactStale]] bounds it. */
  def scanGroups(dir: String): Int = {
    val m = requireManifest(dir)
    // each distinct delta-run (version, schema) pair adds one scan too
    m.buckets.values.toSet.size +
      m.deltas.values.flatten.map { case (v, sid, _) => (v, sid) }.toSet.size
  }

  /** Table contents AS OF `version` — time travel via the immutable
    * per-version manifest. Same pruned-scan mechanics as [[read]]: cost is
    * the snapshot's live data, regardless of how much history followed. */
  def readAt(spark: SparkSession, dir: String, version: Long): DataFrame =
    readBuckets(spark, dir, manifestAt(dir, version), None).drop(BucketCol)

  /** Committed versions still readable (manifest history present),
    * ascending. A version whose commit is CLAIMED but not yet finished
    * (stage recorded, `v<n>` dir absent — a writer mid-commit) is
    * excluded: it is not yet a readable snapshot, and listing it would
    * invite a [[readAt]] on data that is still being renamed. It appears
    * once its data rename lands (its own writer's, or any later writer's
    * recover()). */
  def versions(dir: String): Seq[Long] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).toSeq
      .map(_.getName).filter(_.matches("_manifest_v\\d+"))
      .map(_.stripPrefix("_manifest_v").toLong).sorted
      .filter { v =>
        Files.exists(Paths.get(dir, s"v$v")) || {
          // a manifest deleted between the listing above and this read
          // (expireVersions, or a LostCommitException withdrawal) just
          // means the version is not listable — this is a read-only
          // listing, it must not throw on a concurrent writer's cleanup
          try CommitLog.load(Log.claimPath(dir, v))
            .getProperty("stage", "").isEmpty // no-data commit (e.g. replay)
          catch { case _: java.nio.file.NoSuchFileException => false }
        }
      }

  /** CDC between two committed versions: one row per key whose value
    * CHANGED (op ∈ insert/update/delete; insert/update rows carry the
    * `toVersion` values, delete rows the `fromVersion` values). Computed
    * by DIFFING the snapshots, not replaying change batches — a merge row
    * that rewrote a key to an identical value emits nothing. The two
    * manifests are compared FIRST and only buckets whose owning version
    * differs are read on either side, so at 100 TB the diff scans the
    * touched fraction of the table, not two full snapshots; inside those
    * buckets a null-safe full-outer join classifies each key. */
  def changesBetween(spark: SparkSession, dir: String, fromVersion: Long,
                     toVersion: Long, opCol: String = "op_flag"): DataFrame = {
    val m1 = manifestAt(dir, fromVersion)
    val m2 = manifestAt(dir, toVersion)
    val payload = m2.schema.fieldNames.toSeq
    // a bucket is touched when its owning (version, schema) changed OR its
    // deletion vector did — a soft delete moves no bucket but still
    // changes that bucket's visible rows (readBuckets applies each
    // manifest's own vectors, so the diff below sees the deletes)
    val touched = (m1.buckets.keySet ++ m2.buckets.keySet ++
        m1.dvs.keySet ++ m2.dvs.keySet ++
        m1.deltas.keySet ++ m2.deltas.keySet)
      .filter(b => m1.buckets.get(b) != m2.buckets.get(b) ||
        m1.dvs.get(b) != m2.dvs.get(b) ||
        // a merge-on-read run changes the bucket's visible rows without
        // moving it — readBuckets resolves each manifest's own runs, so
        // the diff sees the upserts/deletes
        m1.deltas.get(b) != m2.deltas.get(b))
    // align the older snapshot to the newer LOGICAL schema by reading its
    // buckets under the newer manifest's projections (which alter-rename/
    // widen keep updated for every interned schema id): a renamed column
    // compares value-to-value across the boundary, a widened one up-casts,
    // a column added after fromVersion null-fills, a dropped one is not
    // compared. Schema ids a compact pruned from m2 fall back to m1's own
    // projection (keyed by m1-era names — those columns then null-fill).
    val old = readBuckets(spark, dir,
        m1.copy(schemaJson = m2.schemaJson, phys = m1.phys ++ m2.phys),
        Some(touched))
      .select(payload.map(c => col(c).as(s"__o_$c")): _*)
    val neu = readBuckets(spark, dir, m2, Some(touched)).drop(BucketCol)
    val keyEq = m2.keys.map(k => col(k) === col(s"__o_$k")).reduce(_ && _)
    val j = neu.join(old, keyEq, "full_outer")
    val inserted = col(s"__o_${m2.keys.head}").isNull
    val deleted = col(m2.keys.head).isNull
    val changed = payload.map(c => !(col(c) <=> col(s"__o_$c"))).reduce(_ || _)
    j.filter(changed).select(
      when(inserted, lit("insert")).when(deleted, lit("delete"))
        .otherwise(lit("update")).as(opCol) +:
        payload.map(c => when(deleted, col(s"__o_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** Commit history over the RETAINED versions (ascending): version,
    * commit wall-clock, operation kind (create / merge / compact /
    * alter-*), and the merge batch's row count (0 for metadata-only
    * commits, -1 for pre-history manifests that recorded none) — the
    * `DESCRIBE HISTORY` surface that makes time travel and vacuum
    * retention usable without reading manifests by hand. Driver-side cost
    * is one small Properties read per retained version (bounded by
    * [[expireVersions]]' retention, never by table size). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val rows = versions(dir).flatMap { v =>
      try {
        val m = parseManifest(Log.claimPath(dir, v))
        Some(Row(m.version, new java.sql.Timestamp(m.ts),
          if (m.op.isEmpty) null else m.op, m.rows,
          m.key, m.numBuckets))
      } catch { case _: java.nio.file.NoSuchFileException => None }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("version",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("committed_at",
          org.apache.spark.sql.types.TimestampType, nullable = false),
        org.apache.spark.sql.types.StructField("operation",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("batch_rows",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("key",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("num_buckets",
          org.apache.spark.sql.types.IntegerType, nullable = false))))
  }

  /** Newest retained version whose commit wall-clock is <= `tsMillis` —
    * the `TIMESTAMP AS OF` resolution. Version order is authoritative for
    * ties (commit timestamps are clamped monotone non-decreasing, see
    * [[commitTs]]). Errors when `tsMillis` precedes the oldest retained
    * commit: "before the table existed" must fail loudly, not silently
    * read an empty snapshot.
    *
    * Manifests that recorded NO wall-clock (ts = 0, pre-history format)
    * are excluded from resolution: an un-stamped version cannot satisfy a
    * point-in-time read — otherwise a table whose retained history is all
    * un-stamped would resolve ANY instant since the epoch to its newest
    * version, silently reading the latest snapshot where the
    * before-first-commit case errors loudly. */
  def versionForTimestamp(dir: String, tsMillis: Long): Long = {
    val stamped0 = versions(dir).flatMap { v =>
      try Some(v -> parseManifest(Log.claimPath(dir, v)).ts)
      catch { case _: java.nio.file.NoSuchFileException => None }
    }
    require(stamped0.nonEmpty, s"no retained versions at $dir")
    val stamped = stamped0.filter(_._2 > 0L)
    require(stamped.nonEmpty,
      s"no retained version at $dir carries a commit timestamp (pre-" +
        "history manifests) — TIMESTAMP AS OF cannot resolve against " +
        "un-stamped history; use VERSION AS OF")
    val at = stamped.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"no version committed at or before $tsMillis at $dir " +
        s"(oldest retained commit: version ${stamped.head._1} at " +
        s"${stamped.head._2})")
    at.map(_._1).max
  }

  /** Table contents AS OF a wall-clock instant — [[readAt]] of
    * [[versionForTimestamp]]. */
  def readAtTimestamp(spark: SparkSession, dir: String,
                      tsMillis: Long): DataFrame =
    readAt(spark, dir, versionForTimestamp(dir, tsMillis))

  /** Drop manifest history older than the newest `keepLast` versions so
    * [[vacuum]] can reclaim the snapshot directories only they reference.
    * Returns the expired version numbers. */
  def expireVersions(dir: String, keepLast: Int = 1): Seq[Long] = {
    val vs = versions(dir)
    val expired = vs.dropRight(keepLast)
    expired.foreach(v => Files.deleteIfExists(Log.claimPath(dir, v)))
    expired
  }

  /** Delete version directories referenced by NO retained manifest
    * (superseded snapshots and failed merges). Time travel bounds what is
    * reclaimable: every version in [[versions]] keeps its referenced dirs
    * alive — [[expireVersions]] first, then vacuum. Returns deleted dirs.
    *
    * Stage-dir reclamation honours `stageGraceMs`: a `_stage_v*` dir is a
    * crash orphan ONLY once it has been idle past the grace window —
    * recover() above finishes CLAIMED stages, but an UNCLAIMED stage that
    * a live concurrent writer is still filling is indistinguishable from
    * an orphan by name alone. Deleting it out from under the writer lets
    * the writer still win its CAS and publish a manifest whose data is
    * gone (the [[LostCommitException]] shape). The mtime check makes that
    * race require a writer stalled longer than the grace period mid-write;
    * pass `stageGraceMs = 0` only when no writer can be live (the r11
    * single-operator cleanup shape).
    *
    * A version dir newer than the manifest vacuum started from is never
    * reclaimed: a writer may have claimed and published it after the
    * manifest scan below, and its manifest then went unseen. */
  def vacuum(dir: String, stageGraceMs: Long = 3600000L): Seq[String] = {
    recover(dir)
    val m = requireManifest(dir)
    // referenced comes from ALL _manifest_v* files parsed directly —
    // UNFILTERED, unlike versions(), whose reader-facing listing excludes
    // claimed-but-unfinished commits. A writer that claims v<N> between
    // this scan and the final listFiles pass below must not have the
    // committed dirs its manifest references (including the prior
    // versions its untouched buckets still point at) deleted out from
    // under it: any PUBLISHED manifest protects its versions, in-flight
    // or not. A manifest vanishing mid-scan (expireVersions, claim
    // withdrawal) is simply skipped.
    val referenced = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty).toSeq
      .map(_.getName).filter(_.matches("_manifest_v\\d+"))
      .flatMap { name =>
        try {
          val h = parseManifest(Paths.get(dir, name))
          // deletion-vector files live under their OWN commit's v-dir
          // (often a dir no bucket points at) — those versions are
          // referenced too, or vacuum would resurrect the deleted rows
          h.buckets.values.map(_._1).toSeq ++
            h.dvs.values.map(_._1) ++
            // merge-on-read delta runs live under their own commit's
            // v-dir too — their versions are referenced or vacuum would
            // silently drop the runs' upserts
            h.deltas.values.flatten.map(_._1) :+ h.version
        } catch { case _: java.nio.file.NoSuchFileException => Seq.empty }
      }
      .toSet ++ m.buckets.values.map(_._1) ++ m.dvs.values.map(_._1) ++
      m.deltas.values.flatten.map(_._1) + m.version
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).toSeq
      .filter { f =>
        f.isDirectory && f.getName.matches("v\\d+") && {
          val v = f.getName.stripPrefix("v").toLong
          v <= m.version && !referenced.contains(v)
        }
      }
      .map { f => CommitLog.deleteRecursively(f); f.getName } ++
      // crash-orphaned stages (a writer that died before its CAS claim);
      // the grace window protects a live writer's in-flight stage
      Log.sweepStages(dir, stageGraceMs)
  }
}
