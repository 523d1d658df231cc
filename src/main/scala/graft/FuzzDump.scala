package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-engine randomized differential fuzz lane (round-11 verdict task 1).
  *
  * [[FuzzDifferentialSpec]] checks Spark against a builder-written
  * collections interpreter — an independent model, but one that cannot catch
  * the bug class the oracle harness is most exposed to: a Spark DataFrame
  * query and a hand-authored DuckDB oracle SQL that are *both* wrong the
  * same way, or subtly different (collation, cast semantics, decimal
  * rounding, window-frame defaults, CONCAT-vs-|| null handling). This main
  * closes that hole by generating, per seed,
  *
  *   1. two random small tables (nulls on keys and values; ints, doubles,
  *      decimals, strings with case/space/unicode variation, timestamps),
  *      written to parquet so BOTH engines consume identical bits;
  *   2. one random query rendered twice from the same AST decision stream —
  *      once as a DataFrame plan (what the engine's users write) and once
  *      as ANSI SQL (what the oracle harness authors) — with every computed
  *      column aliased identically on both sides;
  *   3. the Spark result written to `caseNNNN/spark/` and the SQL + shape
  *      to `caseNNNN/case.json`.
  *
  * `tools/fuzz_check.py` then loads the same parquet into DuckDB, runs the
  * SQL, and diffs (columns sorted by name, rows as a sorted multiset,
  * numerics canonicalized to 1e-6). A mismatch prints the seed, the SQL and
  * both result sets.
  *
  * The query families deliberately cover the divergence traps the SQL
  * author must get right:
  *   - Spark `cast(double as int)` truncates toward zero; DuckDB CAST
  *     rounds half-even → the SQL must say CAST(TRUNC(d) AS INTEGER);
  *   - Spark `concat` is null-on-any-null; DuckDB CONCAT skips nulls → the
  *     SQL must use `||`;
  *   - decimal agg result types differ (sum DECIMAL(22,2) vs (38,2)) → both
  *     sides cast the output to a pinned DECIMAL/DOUBLE;
  *   - the ANSI default window frame for an ORDER BY agg is RANGE UNBOUNDED
  *     PRECEDING..CURRENT ROW with peer rows included — exercised with tied
  *     order keys on purpose.
  *
  * Usage: runMain graft.FuzzDump <outDir> [nCases=120] [baseSeed=1]
  */
object FuzzDump {

  // ---- random inputs ----------------------------------------------------

  private val lSchema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("k", IntegerType, nullable = true),
    StructField("v", IntegerType, nullable = true),
    StructField("d", DoubleType, nullable = true),
    StructField("dec", DecimalType(12, 2), nullable = true),
    StructField("s", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = true)))

  private val rSchema = StructType(Seq(
    StructField("rid", IntegerType, nullable = false),
    StructField("k", IntegerType, nullable = true),
    StructField("w", IntegerType, nullable = true),
    StructField("ws", StringType, nullable = true)))

  // deliberately collides on case, leading/trailing space, empty, unicode
  private val stringPool = Seq("alpha", "Alpha", "ALPHA", " alpha", "beta ",
    "beta", "", "gamma", "Γάμμα", "délta", "delta\t", "0", "00", null)

  /** Multiplies every generated table's row budget: the default tiny cases
    * (≤40 rows) probe null/tie/empty-group semantics; SPARK_GRAFT_FUZZ_ROWS
    * = 50 stretches the same generators to ~2000-row inputs so the SAME
    * random queries also cross multi-partition shuffle/window/AQE paths
    * (3-partition inputs, 8 shuffle partitions) instead of collapsing into
    * single-task plans. */
  private val rowScale: Int =
    sys.env.get("SPARK_GRAFT_FUZZ_ROWS").map(_.toInt).filter(_ >= 1).getOrElse(1)

  private def genL(rnd: scala.util.Random): Seq[Row] = {
    val n = 1 + rnd.nextInt(40 * rowScale)
    (0 until n).map { i =>
      val epoch = 1700000000000000L // 2023-11-14T22:13:20Z, micros
      Row(
        i,
        if (rnd.nextInt(100) < 15) null else Int.box(rnd.nextInt(6)),
        if (rnd.nextInt(100) < 15) null else Int.box(rnd.nextInt(21) - 10),
        if (rnd.nextInt(100) < 15) null
        else Double.box(math.round(rnd.nextDouble() * 2000 - 1000) / 8.0),
        if (rnd.nextInt(100) < 15) null
        else new java.math.BigDecimal(rnd.nextInt(200001) - 100000)
          .movePointLeft(2).setScale(2),
        stringPool(rnd.nextInt(stringPool.size)),
        if (rnd.nextInt(100) < 15) null
        else java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          epoch / 1000000 + rnd.nextInt(14) * 86400 + rnd.nextInt(86400))))
    }
  }

  private def genR(rnd: scala.util.Random): Seq[Row] = {
    val n = 1 + rnd.nextInt(40 * rowScale)
    (0 until n).map { i =>
      Row(
        i,
        if (rnd.nextInt(100) < 15) null else Int.box(rnd.nextInt(6)),
        if (rnd.nextInt(100) < 15) null else Int.box(rnd.nextInt(21) - 10),
        stringPool(rnd.nextInt(stringPool.size)))
    }
  }

  /** As-of right side: (k, rt, w) with UNIQUE (k, rt) — DuckDB's ASOF JOIN
    * leaves the pick among exact-duplicate timestamps unspecified, so the
    * generator removes the ambiguity both engines would tie-break
    * differently. Null k rows stay in (they must match NOTHING per SQL
    * semantics — the trap this family exists to probe). */
  private val aSchema = StructType(Seq(
    StructField("k", IntegerType, nullable = true),
    StructField("rt", TimestampType, nullable = false),
    StructField("w", IntegerType, nullable = false)))

  private def genA(rnd: scala.util.Random): Seq[Row] = {
    val epoch = 1700000000L
    val n = 1 + rnd.nextInt(30 * rowScale)
    (0 until n).map { i =>
      ( if (rnd.nextInt(100) < 15) null else Int.box(rnd.nextInt(6)),
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          epoch + rnd.nextInt(14) * 86400 + rnd.nextInt(24) * 3600)),
        Int.box(i))
    }.groupBy(r => (r._1, r._2)).map(_._2.head)
      .map(r => Row(r._1, r._2, r._3)).toSeq
  }

  // ---- one generated case: (DataFrame plan, equivalent ANSI SQL) --------

  private case class Gen(df: DataFrame, sql: String, family: String)

  /** Renders the SAME random decisions as a DataFrame plan over `l`/`r`/`a`
    * and as ANSI SQL over the same views. Column aliases match exactly. */
  /** Total family count — keep in sync with genQuery's match arms. */
  private val NumFamilies = 68

  /** SPARK_GRAFT_FUZZ_FAMILIES=63,64,65 restricts the family draw — a
    * dedicated sweep over a new or suspect family without waiting for the
    * uniform draw to land on it. Unset = uniform over all families.
    * Out-of-range ids fail at startup with the valid range, not as a
    * MatchError mid-sweep. */
  private val familyPick: Option[IndexedSeq[Int]] =
    sys.env.get("SPARK_GRAFT_FUZZ_FAMILIES")
      .map(_.split(",").toIndexedSeq.map(_.trim.toInt))
      .map { ids =>
        val bad = ids.filterNot(i => i >= 0 && i < NumFamilies)
        require(bad.isEmpty,
          s"SPARK_GRAFT_FUZZ_FAMILIES: unknown family id(s) " +
            s"${bad.mkString(",")} — valid range is 0..${NumFamilies - 1}")
        ids
      }

  /** The family is drawn from an INDEPENDENT RNG stream derived from the
    * case seed (r14): consuming the draw from the content stream meant
    * every family-count bump (63→66 in r13) re-keyed all recorded repro
    * seeds. With the split stream, adding families only remaps which
    * family a seed lands on — the case content for (seed, family) pairs
    * that keep their family is bit-identical, and future family
    * additions never shift the content stream at all. (Seeds recorded
    * before r14 are re-keyed ONCE by this split; their regressions are
    * pinned in specs, not in the lane.) */
  private def drawFamily(seed: Int): Int = {
    val famRnd = new scala.util.Random(seed * 0x9E3779B97F4A7C15L + 0x1234567)
    familyPick.map(p => p(famRnd.nextInt(p.size)))
      .getOrElse(famRnd.nextInt(NumFamilies))
  }

  private def genQuery(seed: Int, rnd: scala.util.Random, l: DataFrame,
                       r: DataFrame, a: DataFrame): Gen = {
    drawFamily(seed) match {
      case 0 => // join → projection (all six join types; null keys match nothing)
        val (how, sqlHow) = Seq(
          ("inner", "JOIN"), ("left", "LEFT JOIN"), ("right", "RIGHT JOIN"),
          ("full_outer", "FULL JOIN"), ("left_semi", "SEMI JOIN"),
          ("left_anti", "ANTI JOIN"))(rnd.nextInt(6))
        if (how == "left_semi" || how == "left_anti") Gen(
          l.join(r, l("k") === r("k"), how)
            .select(l("id").as("id"), l("k").as("lk"), l("v").as("v")),
          s"SELECT l.id AS id, l.k AS lk, l.v AS v FROM l $sqlHow r ON l.k = r.k",
          s"join_$how")
        else Gen(
          l.join(r, l("k") === r("k"), how)
            .select(l("id").as("id"), l("k").as("lk"), l("v").as("v"),
              r("rid").as("rid"), r("k").as("rk"), r("w").as("w")),
          s"SELECT l.id AS id, l.k AS lk, l.v AS v, r.rid AS rid, " +
            s"r.k AS rk, r.w AS w FROM l $sqlHow r ON l.k = r.k",
          s"join_$how")

      case 1 => // filter → join → grouped aggs (sum/min/max/avg/count, all-null groups)
        val c = rnd.nextInt(11) - 5
        val lf = l.filter(col("v") > c)
        Gen(
          lf.join(r, lf("k") === r("k"), "inner")
            .groupBy(lf("k").as("k"))
            .agg(count(lit(1)).as("n"), sum(lf("v")).as("sv"),
              min(r("w")).as("mw"), max(r("w")).as("xw"),
              avg(lf("d")).as("ad")),
          s"SELECT l.k AS k, COUNT(*) AS n, SUM(l.v) AS sv, MIN(r.w) AS mw, " +
            s"MAX(r.w) AS xw, AVG(l.d) AS ad " +
            s"FROM l JOIN r ON l.k = r.k WHERE l.v > $c GROUP BY l.k",
          "filter_join_agg")

      case 2 => // window ranking functions (nulls-first ASC is Spark's default)
        Gen(
          l.select(col("id"),
            row_number().over(Window.partitionBy(col("k"))
              .orderBy(col("v").asc_nulls_first, col("id"))).as("rn"),
            rank().over(Window.partitionBy(col("k"))
              .orderBy(col("v").asc_nulls_first)).as("rk"),
            dense_rank().over(Window.partitionBy(col("k"))
              .orderBy(col("v").asc_nulls_first)).as("drk")),
          "SELECT id, " +
            "ROW_NUMBER() OVER (PARTITION BY k ORDER BY v ASC NULLS FIRST, id) AS rn, " +
            "RANK() OVER (PARTITION BY k ORDER BY v ASC NULLS FIRST) AS rk, " +
            "DENSE_RANK() OVER (PARTITION BY k ORDER BY v ASC NULLS FIRST) AS drk " +
            "FROM l",
          "window_rank")

      case 3 => // set ops, DISTINCT semantics (nulls equal for set purposes)
        val op = rnd.nextInt(3)
        val (df, sql) = op match {
          case 0 => (l.select(col("k"), col("v")).except(
            r.select(col("k"), col("w").as("v"))),
            "SELECT k, v FROM l EXCEPT SELECT k, w AS v FROM r")
          case 1 => (l.select(col("k"), col("v")).intersect(
            r.select(col("k"), col("w").as("v"))),
            "SELECT k, v FROM l INTERSECT SELECT k, w AS v FROM r")
          case 2 => (l.select(col("k"), col("v")).union(
            r.select(col("k"), col("w").as("v"))).distinct(),
            "SELECT k, v FROM l UNION SELECT k, w AS v FROM r")
        }
        Gen(df, sql, s"setop_$op")

      case 4 => // ROLLUP with a string grouping column
        Gen(
          l.rollup(col("k"), col("s"))
            .agg(count(lit(1)).as("n"), sum(col("v")).as("sv")),
          "SELECT k, s, COUNT(*) AS n, SUM(v) AS sv FROM l GROUP BY ROLLUP (k, s)",
          "rollup")

      case 5 => // DEFAULT window frame: ORDER BY agg = RANGE ..CURRENT ROW, peers included.
        // Ordering by v (ties on purpose) exposes an engine that implements
        // ROWS where ANSI says RANGE-with-peers.
        Gen(
          l.select(col("id"),
            sum(col("v")).over(Window.partitionBy(col("k"))
              .orderBy(col("v").asc_nulls_first)).as("csum"),
            sum(col("v")).over(Window.partitionBy(col("k"))
              .orderBy(col("v").asc_nulls_first, col("id"))
              .rowsBetween(-2, 0)).as("ssum")),
          "SELECT id, " +
            "SUM(v) OVER (PARTITION BY k ORDER BY v ASC NULLS FIRST) AS csum, " +
            "SUM(v) OVER (PARTITION BY k ORDER BY v ASC NULLS FIRST, id " +
            "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ssum " +
            "FROM l",
          "window_frame_default")

      case 6 => // lag/lead with defaults; default fires only on missing row
        Gen(
          l.select(col("id"),
            lag(col("v"), 1).over(Window.partitionBy(col("k"))
              .orderBy(col("id"))).as("lg"),
            lead(col("v"), 2, -999).over(Window.partitionBy(col("k"))
              .orderBy(col("id"))).as("ld")),
          "SELECT id, " +
            "LAG(v, 1) OVER (PARTITION BY k ORDER BY id) AS lg, " +
            "LEAD(v, 2, -999) OVER (PARTITION BY k ORDER BY id) AS ld " +
            "FROM l",
          "lag_lead")

      case 7 => // decimal arithmetic + rounding: pin output types on BOTH sides.
        // Two traps this lane caught on its first runs (seeds 7/18/79/95/
        // 102/109): (a) the exact sum of dec*(1-dec*0.001) has 7 decimal
        // digits, so casting straight to DECIMAL(38,6) leaves the 7th-digit
        // tie to the ENGINE'S cast rule — Spark rounds HALF_UP, DuckDB
        // HALF_EVEN — make tie-breaking explicit with ROUND, which is
        // half-away-from-zero in BOTH engines; (b) DuckDB decimal DIVISION
        // always returns DOUBLE (typeof(dec/1000) = DOUBLE), silently
        // degrading the whole expression to float — author `* 0.001`
        // (decimal × decimal stays exact decimal in both engines), never
        // `/ 1000`.
        Gen(
          l.groupBy(col("k"))
            .agg(
              sum(col("dec")).cast(DecimalType(38, 2)).as("sdec"),
              avg(col("dec")).cast(DoubleType).as("adec"),
              round(sum(col("dec") * (lit(java.math.BigDecimal.ONE) -
                  col("dec") * lit(new java.math.BigDecimal("0.001")))), 6)
                .cast(DecimalType(38, 6)).as("rev"),
              round(sum(col("d")), 2).as("rd")),
          "SELECT k, CAST(SUM(dec) AS DECIMAL(38,2)) AS sdec, " +
            "CAST(AVG(dec) AS DOUBLE) AS adec, " +
            "CAST(ROUND(SUM(dec * (1 - dec * 0.001)), 6) AS DECIMAL(38,6)) AS rev, " +
            "ROUND(SUM(d), 2) AS rd " +
            "FROM l GROUP BY k",
          "decimal_agg")

      case 8 => // cast + string traps: Spark double→int TRUNCATES (SQL must trunc);
        // Spark concat is null-on-null (SQL must use ||, not CONCAT)
        Gen(
          l.select(col("id"),
            col("d").cast(IntegerType).as("di"),
            col("v").cast(StringType).as("vs"),
            concat(lower(trim(col("s"))), lit("_"), col("s")).as("cs"),
            substring(col("s"), 2, 3).as("ss"),
            col("s").like("%a%").as("lk"),
            length(col("s")).as("ln")),
          "SELECT id, CAST(TRUNC(d) AS INTEGER) AS di, CAST(v AS VARCHAR) AS vs, " +
            "LOWER(TRIM(s)) || '_' || s AS cs, " +
            "SUBSTRING(s, 2, 3) AS ss, s LIKE '%a%' AS lk, LENGTH(s) AS ln " +
            "FROM l",
          "cast_string")

      case 9 => // collation-sensitive: binary ORDER BY a string + LIMIT with total tiebreak
        val n = 1 + rnd.nextInt(10)
        Gen(
          l.select(col("id"), col("s"), col("ts"),
            date_trunc("day", col("ts")).as("day"))
            .orderBy(col("s").asc_nulls_first, col("id"))
            .limit(n),
          s"SELECT id, s, ts, DATE_TRUNC('day', ts) AS day FROM l " +
            s"ORDER BY s ASC NULLS FIRST, id LIMIT $n",
          "order_collation_limit")

      case 10 =>
        // NOT IN's three-valued trap: one null in the subquery empties the
        // result, a null probe key never qualifies. The DataFrame-side
        // translation is an anti join whose condition ALSO matches on
        // either side being null — the naive left_anti on equality is
        // wrong, which is exactly what this family exists to catch.
        if (rnd.nextBoolean()) Gen(
          l.join(r.select(col("k").as("__rk")),
              col("k") === col("__rk") || col("k").isNull || col("__rk").isNull,
              "left_anti")
            .select(col("id"), col("k"), col("v")),
          "SELECT id, k, v FROM l WHERE k NOT IN (SELECT k FROM r)",
          "not_in_subquery")
        else Gen(
          l.join(r.select(col("k").as("__rk")), col("k") === col("__rk"),
              "left_semi")
            .select(col("id"), col("k"), col("v")),
          "SELECT id, k, v FROM l WHERE k IN (SELECT k FROM r)",
          "in_subquery")

      case 11 => // correlated EXISTS / NOT EXISTS with a non-equi correlate
        if (rnd.nextBoolean()) Gen(
          l.join(r, l("k") === r("k") && r("w") > l("v"), "left_semi")
            .select(l("id"), l("k"), l("v")),
          "SELECT id, k, v FROM l WHERE EXISTS (" +
            "SELECT 1 FROM r WHERE r.k = l.k AND r.w > l.v)",
          "exists_correlated")
        else Gen(
          l.join(r, l("k") === r("k") && r("w") > l("v"), "left_anti")
            .select(l("id"), l("k"), l("v")),
          "SELECT id, k, v FROM l WHERE NOT EXISTS (" +
            "SELECT 1 FROM r WHERE r.k = l.k AND r.w > l.v)",
          "not_exists_correlated")

      case 12 => // CUBE + grouping level disambiguation: Spark grouping_id
        // (bit-packed, first col = MSB) ≡ GROUPING(k)*2 + GROUPING(s) in
        // ANSI/DuckDB — the null-vs-rolled-up tell the plain ROLLUP family
        // cannot make
        Gen(
          l.cube(col("k"), col("s"))
            .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
              grouping_id().as("gid")),
          "SELECT k, s, COUNT(*) AS n, SUM(v) AS sv, " +
            "GROUPING(k)*2 + GROUPING(s) AS gid FROM l GROUP BY CUBE (k, s)",
          "cube_grouping_id")

      case 13 => // CASE / three-valued logic / least-greatest null handling
        // (both engines: LEAST/GREATEST ignore NULLs, null only on all-null)
        Gen(
          l.select(col("id"),
            when(col("v") > 0, "pos").when(col("v") < 0, "neg")
              .otherwise("zero_or_null").as("sign"),
            least(col("v"), col("k")).as("lo"),
            greatest(col("v"), col("k")).as("hi"),
            nullif(col("k"), col("v")).as("nif"),
            (col("v") > 0 || col("k") > 2).as("tv_or"),
            (col("v") > 0 && col("k") > 2).as("tv_and")),
          "SELECT id, CASE WHEN v > 0 THEN 'pos' WHEN v < 0 THEN 'neg' " +
            "ELSE 'zero_or_null' END AS sign, " +
            "LEAST(v, k) AS lo, GREATEST(v, k) AS hi, NULLIF(k, v) AS nif, " +
            "(v > 0 OR k > 2) AS tv_or, (v > 0 AND k > 2) AS tv_and FROM l",
          "case_three_valued")

      case 14 => // date/time conventions: dayofweek is 1=Sunday..7 in Spark
        // but dow() is 0=Sunday..6 in DuckDB — the SQL must add 1; hour/
        // day extraction and interval shifts are ANSI-aligned
        Gen(
          l.filter(col("ts").isNotNull).groupBy(
              date_trunc("hour", col("ts")).as("hr"),
              dayofweek(col("ts")).as("dow1"))
            .agg(count(lit(1)).as("n"),
              max(col("ts") + expr("INTERVAL 90 minutes")).as("shifted")),
          "SELECT DATE_TRUNC('hour', ts) AS hr, date_part('dow', ts) + 1 AS dow1, " +
            "COUNT(*) AS n, MAX(ts + INTERVAL 90 MINUTE) AS shifted " +
            "FROM l WHERE ts IS NOT NULL GROUP BY 1, 2",
          "datetime_conventions")

      case 15 => // ordered string aggregation: Spark has no string_agg with
        // ORDER BY — sort-then-join over collect_list (which DROPS nulls,
        // matching string_agg's null skipping); empty groups must yield
        // NULL on both sides, hence the size guard
        Gen(
          l.groupBy(col("k"))
            .agg(when(size(sort_array(collect_list(col("s")))) > 0,
              array_join(sort_array(collect_list(col("s"))), "|"))
              .as("cat"),
              count(col("s")).as("ns")),
          "SELECT k, STRING_AGG(s, '|' ORDER BY s) AS cat, COUNT(s) AS ns " +
            "FROM l GROUP BY k",
          "string_agg_ordered")

      case 16 => // the engine's OWN as-of operator vs DuckDB's native
        // ASOF JOIN: latest right row with rt <= ts per key. This is the
        // lane's first family over a custom operator rather than
        // SQL-expressible relational algebra — null keys and null left
        // timestamps must match NOTHING (SQL comparison semantics).
        Gen(
          graft.ops.Relational.asofJoin(
            l.filter(col("ts").isNotNull)
              .select(col("id"), col("k"), col("ts")),
            a.select(col("k"), col("rt"), col("w")),
            "k", "ts", "rt", Seq("w")),
          "SELECT l.id AS id, l.k AS k, l.ts AS ts, a.w AS w " +
            "FROM (SELECT id, k, ts FROM l WHERE ts IS NOT NULL) l " +
            "ASOF LEFT JOIN a ON l.k = a.k AND l.ts >= a.rt",
          "asof_join")

      case 17 => // the engine's sessionize operator vs a window emulation:
        // gap-start flags + running session counter + per-session rollup.
        // Null user keys group together in BOTH renderings (window
        // partitions treat null as one group) — consistent by design.
        val gap = Seq(1800L, 3600L, 7200L)(rnd.nextInt(3))
        Gen(
          graft.ops.Relational.sessionize(
            l.filter(col("ts").isNotNull), "k", "ts", "id", gap),
          s"""WITH e AS (SELECT k, id, epoch_us(ts) AS us, ts FROM l WHERE ts IS NOT NULL),
             |st AS (SELECT k, id, us,
             |  CASE WHEN lag(us) OVER w IS NULL
             |         OR us - lag(us) OVER w > ${gap * 1000000L} THEN 1 ELSE 0 END AS s0
             |  FROM e WINDOW w AS (PARTITION BY k ORDER BY ts, id)),
             |s2 AS (SELECT k, us, SUM(s0) OVER (PARTITION BY k ORDER BY us, id
             |  ROWS UNBOUNDED PRECEDING) AS sess FROM st)
             |SELECT k, sess, MIN(us) AS start_us, MAX(us) AS end_us,
             |  COUNT(*) AS n_events, MAX(us) - MIN(us) AS dur_us
             |FROM s2 GROUP BY k, sess""".stripMargin,
          "sessionize")

      case 18 => // the engine's SCD2 history build vs a window emulation:
        // change-row filter (IS DISTINCT FROM with a first-row guard via
        // the lagged tiebreak), then valid_from/valid_to over the FILTERED
        // change set — the lead must be re-evaluated post-filter.
        Gen(
          graft.ops.Relational.scd2FromLog(
            l.filter(col("ts").isNotNull).select("id", "k", "s", "ts"),
            "k", "s", "ts", "id"),
          """WITH e AS (SELECT k, id, s, ts FROM l WHERE ts IS NOT NULL),
            |x AS (SELECT k, id, s, ts, lag(s) OVER w AS prev,
            |  lag(id) OVER w AS prev_tb
            |  FROM e WINDOW w AS (PARTITION BY k ORDER BY ts ASC, id ASC)),
            |f AS (SELECT k, id, s, ts FROM x
            |  WHERE prev_tb IS NULL OR (s IS DISTINCT FROM prev))
            |SELECT k, id, s, valid_from, valid_to,
            |  (valid_to IS NULL) AS is_current
            |FROM (SELECT k, id, s, ts AS valid_from,
            |  lead(ts) OVER (PARTITION BY k ORDER BY ts, id) AS valid_to
            |  FROM f)""".stripMargin,
          "scd2_history")

      case 19 => // the engine's funnel operator vs chained conditional
        // window-min CTEs: each t_i = min(ts WHERE type=s_i AND ts>t_{i-1})
        // over the user partition. Steps drawn from the collation-trap
        // pool (case variants, trailing/leading space, unicode) — binary
        // IN/equality in both engines. Null users form one window
        // partition on both sides; null-ts events never win a min.
        val pool = Seq("alpha", "Alpha", "beta", "beta ", " alpha", "gamma",
          "délta")
        val nSteps = 2 + rnd.nextInt(2)
        val steps = rnd.shuffle(pool).take(nSteps)
        val stepList = steps.map(s => s"'$s'").mkString(", ")
        val ctes = new StringBuilder(
          s"WITH e AS (SELECT k, s AS typ, ts FROM l WHERE s IN ($stepList))")
        var prev = "e"
        steps.zipWithIndex.foreach { case (st, i) =>
          val cond =
            if (i == 0) s"typ = '$st'" else s"typ = '$st' AND ts > t$i"
          ctes.append(s", w${i + 1} AS (SELECT *, " +
            s"min(CASE WHEN $cond THEN ts END) OVER (PARTITION BY k) " +
            s"AS t${i + 1} FROM $prev)")
          prev = s"w${i + 1}"
        }
        val proj = (1 to nSteps).map(i => s"min(t$i) AS t$i").mkString(", ")
        Gen(
          graft.ops.Relational.funnel(l, "k", "s", "ts", steps),
          ctes.toString +
            s" SELECT k, $proj FROM $prev WHERE t1 IS NOT NULL GROUP BY k",
          "funnel")

      case 20 => // the engine's retention-cohort matrix vs a two-agg + join
        // emulation; ISO Monday-anchored date_trunc('week') in both
        // engines, week_n re-derived from epoch microseconds.
        Gen(
          graft.ops.Relational.retentionCohorts(
            l.filter(col("ts").isNotNull), "k", "ts"),
          """WITH e AS (SELECT k, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
            |  FROM l WHERE ts IS NOT NULL),
            |f AS (SELECT k, min(wk) AS cohort_week FROM e GROUP BY k),
            |a2 AS (SELECT DISTINCT k, wk AS act_week FROM e)
            |SELECT cohort_week, act_week, count(DISTINCT k) AS n_users,
            |  CAST(FLOOR((epoch_us(act_week) - epoch_us(cohort_week))
            |    / 604800000000.0) AS BIGINT) AS week_n
            |FROM a2 JOIN f USING (k)
            |GROUP BY cohort_week, act_week""".stripMargin,
          "retention")

      case 21 => // the engine's per-group equi-width histogram vs the same
        // bucket arithmetic in SQL: bounds agg, null-safe group join-back
        // (the null-key stratum is a group, not droppable), bin =
        // least(floor((v-mn)/(mx-mn)*bins), bins-1) with the mx=mn -> 0
        // constant-group rule, lo_edge floor-truncated at 1e-6. All-null
        // groups emit one null-bin row on both sides.
        val bins = Seq(3, 4, 5, 7)(rnd.nextInt(4))
        val (vc, vSql) =
          Seq(("v", "CAST(v AS DOUBLE)"), ("d", "d"))(rnd.nextInt(2))
        Gen(
          graft.ops.Relational.histogram(l, "k", vc, bins),
          s"""WITH b AS (SELECT k, min($vSql) AS mn, max($vSql) AS mx
             |  FROM l GROUP BY k),
             |j AS (SELECT l.k AS k, $vSql AS vv, b.mn, b.mx
             |  FROM l JOIN b ON (l.k IS NOT DISTINCT FROM b.k)),
             |c AS (SELECT k, mn, mx,
             |  CASE WHEN mx = mn THEN 0
             |       ELSE LEAST(CAST(FLOOR((vv - mn) / (mx - mn) * $bins)
             |                       AS BIGINT), $bins - 1)
             |  END AS bin FROM j)
             |SELECT k, bin,
             |  FLOOR((mn + bin * (mx - mn) / $bins) * 1e6) / 1e6 AS lo_edge,
             |  count(*) AS n
             |FROM c GROUP BY k, bin, mn, mx""".stripMargin,
          "histogram")

      case 22 => // MAD outlier profile vs the quantile_cont emulation (the
        // q118 authoring pattern) over random null-heavy groups: all-null
        // groups carry NULL med/mad through to n_outliers=0 on both sides;
        // percentile/quantile_cont share the (n-1)p linear interpolation,
        // pinned by round(...,4) before reuse on BOTH engines.
        val kMad = Seq(1.0, 2.0, 3.0)(rnd.nextInt(3))
        val (mc, mSql) = Seq(("v", "v"), ("d", "d"))(rnd.nextInt(2))
        Gen(
          graft.ops.Relational.madOutliers(l, "k", mc, kMad),
          s"""WITH m AS (SELECT k, round(quantile_cont($mSql, 0.5), 4) AS med,
             |    count(*) AS n
             |  FROM l GROUP BY k),
             |md AS (SELECT e.k, m.med, m.n,
             |    round(quantile_cont(abs(e.$mSql - m.med), 0.5), 4) AS mad
             |  FROM l e JOIN m ON (m.k IS NOT DISTINCT FROM e.k)
             |  GROUP BY e.k, m.med, m.n)
             |SELECT e.k, md.n, md.med, md.mad,
             |  CAST(sum(CASE WHEN abs(e.$mSql - md.med) > $kMad * md.mad
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM l e JOIN md ON (md.k IS NOT DISTINCT FROM e.k)
             |GROUP BY e.k, md.n, md.med, md.mad""".stripMargin,
          "mad_outliers")

      case 23 => // winsorized clipped mean vs the q111 authoring pattern:
        // exact percentile bounds rounded to 4 decimals BEFORE clipping,
        // DECIMAL(18,6) exact sum, n counts null-value rows too (the
        // count(*)-vs-clip-ignores-null cranny this family exists for).
        // The percentile pairs are DYADIC (k/2^m) on purpose: the inputs
        // are dyadic too (v integer; d = integer/8), so every
        // interpolation intermediate — pos=(n-1)p, the frac weights, both
        // products, the sum — is EXACT in binary in both engines, making
        // the quantile bit-identical regardless of each engine's formula
        // arrangement, and round(·,4)'s exact-tie rule (away from zero)
        // agrees too. A non-dyadic p (0.05) makes the quantile land one
        // ulp either side of a true x.xxxx5 half-boundary (the dyadic
        // data grid produces such ties CONSTANTLY), where Spark's
        // BigDecimal round and DuckDB's fp round diverge — seed 9022
        // caught exactly that: quantile_cont=-53.481249999999996,
        // engines rounded to -53.4812 vs -53.4813.
        val (pLo, pHi) = Seq((0.25, 0.75), (0.125, 0.875), (0.0625, 0.9375))(rnd.nextInt(3))
        val (wc, wSql) = Seq(("v", "v"), ("d", "d"))(rnd.nextInt(2))
        Gen(
          graft.ops.Relational.winsorizedStats(l, "k", wc, pLo, pHi),
          s"""WITH b AS (SELECT k,
             |    round(quantile_cont($wSql, $pLo), 4) AS lo,
             |    round(quantile_cont($wSql, $pHi), 4) AS hi,
             |    count(*) AS n
             |  FROM l GROUP BY k)
             |SELECT e.k, b.n, b.lo, b.hi,
             |  floor(CAST(sum(CAST(least(greatest(e.$wSql, b.lo), b.hi)
             |      AS DECIMAL(18,6))) AS DOUBLE) / b.n * 1e6) / 1e6
             |    AS clipped_mean
             |FROM l e JOIN b ON (b.k IS NOT DISTINCT FROM e.k)
             |GROUP BY e.k, b.n, b.lo, b.hi""".stripMargin,
          "winsorized")

      case 24 => // gap-filled bucket counts vs a generate_series grid: the
        // grid is (distinct keys incl. NULL) × (bucket sequence); the
        // count join-back is NULL-SAFE on the key so the null-key
        // stratum's real counts land on its grid rows. All-null-ts input
        // → NULL bounds → empty series → empty result on both sides.
        val step = Seq(3600, 7200, 86400)(rnd.nextInt(3))
        Gen(
          graft.ops.Relational.gapFillCounts(l, "k", "ts", step),
          s"""WITH b2 AS (SELECT k, CAST(to_timestamp(FLOOR(epoch(ts) / $step)
             |    * $step) AS TIMESTAMP) AS bucket FROM l),
             |c AS (SELECT k, bucket, count(*) AS n FROM b2
             |  WHERE bucket IS NOT NULL GROUP BY k, bucket),
             |bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM b2),
             |grid AS (SELECT unnest(generate_series(lo, hi,
             |    INTERVAL ($step) SECOND)) AS bucket FROM bounds),
             |keys AS (SELECT DISTINCT k FROM l),
             |g AS (SELECT keys.k, grid.bucket FROM grid CROSS JOIN keys)
             |SELECT g.k, g.bucket, COALESCE(c.n, 0) AS n
             |FROM g LEFT JOIN c
             |  ON (g.k IS NOT DISTINCT FROM c.k AND g.bucket = c.bucket)""".stripMargin,
          "gapfill")

      case 25 => // the bounded-heap top_k_by aggregate vs a row_number
        // emulation: identical (ord DESC, payload ASC) keep order, null
        // payload/ord rows skipped by the heap and the WHERE alike, empty
        // groups emit one all-null row via posexplode_outer / LEFT JOIN.
        val kTop = 1 + rnd.nextInt(4)
        Gen(
          l.groupBy(col("k"))
            .agg(expr(s"top_k_by(cast(id as bigint), cast(v as double), $kTop)")
              .as("tk"))
            .select(col("k"), posexplode_outer(col("tk")))
            .select(col("k"), col("pos"),
              col("col.payload").as("payload"), col("col.ord").as("ord")),
          s"""WITH f AS (SELECT k, CAST(id AS BIGINT) AS payload,
             |    CAST(v AS DOUBLE) AS ord FROM l WHERE v IS NOT NULL),
             |r AS (SELECT k, payload, ord, row_number() OVER
             |    (PARTITION BY k ORDER BY ord DESC, payload ASC) AS rn
             |  FROM f),
             |kk AS (SELECT DISTINCT k FROM l)
             |SELECT kk.k, r2.rn - 1 AS pos, r2.payload, r2.ord
             |FROM kk LEFT JOIN (SELECT * FROM r WHERE rn <= $kTop) r2
             |  ON (kk.k IS NOT DISTINCT FROM r2.k)""".stripMargin,
          "topk_by")

      case 26 => // exact-OLS trend + one-step forecast vs the same integer
        // power sums re-derived in SQL: x = truncated (epoch - group min)/
        // step, y = value; n counts null rows while every sum skips them
        // (the count(*)-vs-sum cranny), all-null-x/-y groups carry NULL
        // slope/forecast through CASE on both sides, constant-x groups hit
        // the denom=0 -> slope 0 rule, outputs floor-truncated at 1e-6.
        val step = Seq(3600, 43200, 86400)(rnd.nextInt(3))
        Gen(
          graft.ops.Relational.trendForecast(l, "k", "ts", "v", step),
          s"""WITH s AS (SELECT k,
             |    CAST(FLOOR((epoch(ts) - min(epoch(ts))
             |      OVER (PARTITION BY k)) / $step) AS BIGINT) AS x,
             |    CAST(v AS BIGINT) AS y FROM l),
             |a AS (SELECT k, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |    sum(x*x) AS sxx, sum(x*y) AS sxy, max(x) AS xmax
             |  FROM s GROUP BY k),
             |b AS (SELECT *,
             |    CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx AS denom
             |  FROM a),
             |c AS (SELECT k, n, xmax, sx, sy,
             |    CASE WHEN denom = 0 THEN 0.0
             |         ELSE (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
             |              / denom END AS sl
             |  FROM b),
             |d2 AS (SELECT k, n, xmax, sl,
             |    (CAST(sy AS DOUBLE) - sl * CAST(sx AS DOUBLE)) / n AS ic
             |  FROM c)
             |SELECT k, n, FLOOR(sl*1e6)/1e6 AS slope,
             |  FLOOR(ic*1e6)/1e6 AS intercept,
             |  FLOOR((ic + sl*(CAST(xmax AS DOUBLE)+1.0))*1e6)/1e6
             |    AS forecast_next
             |FROM d2""".stripMargin,
          "trend_forecast")

      case 27 => // the flagship merge-detection plan (J3, main.py's core)
        // vs a SQL full-outer emulation on random null-heavy inputs: keys
        // lower-cased on both sides, the target deduped keep-smallest-id
        // per lowered key (ALL null-key targets collapse to ONE delete
        // row — they are one window partition), null source keys classify
        // as create (never delete), markers not key-nullness decide sides.
        Gen(
          graft.ops.Relational.mergePlan(l, r, "s", "ws", "rid"),
          """WITH src AS (SELECT id, k, v, d, dec, s, ts, lower(s) AS jk,
            |    TRUE AS is_src FROM l),
            |t0 AS (SELECT rid, lower(ws) AS jk, row_number() OVER
            |    (PARTITION BY lower(ws) ORDER BY rid) AS rn FROM r),
            |tgt AS (SELECT jk, rid, TRUE AS is_tgt FROM t0 WHERE rn = 1)
            |SELECT src.id, src.k, src.v, src.d, src.dec, src.s, src.ts,
            |  CASE WHEN src.is_src IS NULL THEN 'delete'
            |       WHEN tgt.is_tgt IS NULL THEN 'create'
            |       ELSE 'update' END AS op_flag,
            |  tgt.rid AS target_id
            |FROM src FULL JOIN tgt ON src.jk = tgt.jk""".stripMargin,
          "merge_plan")

      case 29 => // DISTINCT aggregates: COUNT/SUM(DISTINCT) skip nulls and
        // dedup BEFORE aggregation in both engines; the binary-collation
        // string pool makes 'alpha'/'Alpha' distinct on purpose; the plain
        // COUNT(*)/AVG alongside catch an implementation that dedups the
        // whole group instead of per-aggregate
        Gen(
          l.groupBy(col("k"))
            .agg(countDistinct(col("v")).as("ndv"),
              sum_distinct(col("v")).as("sdv"),
              countDistinct(col("s")).as("nds"),
              count(lit(1)).as("n"),
              avg(col("v")).as("av")),
          "SELECT k, COUNT(DISTINCT v) AS ndv, SUM(DISTINCT v) AS sdv, " +
            "COUNT(DISTINCT s) AS nds, COUNT(*) AS n, AVG(v) AS av " +
            "FROM l GROUP BY k",
          "distinct_aggs")

      case 30 => // max_by/min_by vs arg_max/arg_min: the ord expression is
        // UNIQUE per row (v*1000 + unique id) so neither engine's
        // unspecified tie-break can fire; null v -> null ord rows are
        // skipped by the argmax in both engines; all-null-ord groups
        // return NULL
        Gen(
          l.select(col("k"), col("id"),
              (col("v").cast(LongType) * 1000 + col("id")).as("ord"))
            .groupBy(col("k"))
            .agg(max_by(col("id"), col("ord")).as("best_id"),
              min_by(col("id"), col("ord")).as("worst_id"),
              max(col("ord")).as("mord")),
          "SELECT k, arg_max(id, ord) AS best_id, arg_min(id, ord) AS worst_id, " +
            "MAX(ord) AS mord FROM (SELECT k, id, CAST(v AS BIGINT) * 1000 + id " +
            "AS ord FROM l) GROUP BY k",
          "argmax")

      case 31 => // pivot with a PINNED value list vs FILTERed aggregates:
        // Spark names single-agg pivot columns by the bare value; binary
        // equality on s (no trim/case folding) on both sides; a pivot cell
        // with no matching rows is NULL, exactly like SUM FILTER over an
        // empty set
        Gen(
          l.groupBy(col("k")).pivot("s", Seq("alpha", "beta", "gamma"))
            .agg(sum(col("v"))),
          "SELECT k, SUM(v) FILTER (WHERE s = 'alpha') AS alpha, " +
            "SUM(v) FILTER (WHERE s = 'beta') AS beta, " +
            "SUM(v) FILTER (WHERE s = 'gamma') AS gamma FROM l GROUP BY k",
          "pivot_filter")

      case 32 => // array higher-order functions: filter -> transform ->
        // fold vs list_filter -> list_transform -> list_sum. Spark's
        // aggregate with a 0 seed returns 0 on an all-null (emptied) list
        // while DuckDB's list_sum returns NULL -> the SQL must COALESCE.
        // Same trap on the string leg (caught live, seeds 9127/9195):
        // Spark's array_join on an EMPTY array returns '' but DuckDB's
        // array_to_string([]) returns NULL -> COALESCE(·, '') there too.
        // The string leg sorts post-filter so neither engine's null-in-list
        // ordering convention is ever exercised.
        Gen(
          l.select(col("id"),
            aggregate(
              transform(
                filter(array(col("v"), col("k"), col("v") + col("k")),
                  x => x.isNotNull),
                x => x * 2),
              lit(0), (acc, x) => acc + x).as("hsum"),
            array_join(
              sort_array(filter(array(col("s"), lower(col("s"))),
                x => x.isNotNull)), ",").as("sj")),
          "SELECT id, COALESCE(list_sum(list_transform(list_filter(" +
            "[v, k, v + k], x -> x IS NOT NULL), x -> x * 2)), 0) AS hsum, " +
            "COALESCE(array_to_string(list_sort(list_filter([s, lower(s)], " +
            "x -> x IS NOT NULL)), ','), '') AS sj FROM l",
          "array_hof")

      case 33 => // NTILE / PERCENT_RANK / CUME_DIST: ntile's ANSI
        // remainder rule (first n%b buckets get the extra row) needs a
        // TOTAL order (id tiebreak); percent_rank/cume_dist are exercised
        // WITH ties on purpose — (rank-1)/(n-1) and peers-inclusive
        // fraction are ANSI-pinned, single-row partitions hit the n=1 -> 0
        // edge
        val nt = 2 + rnd.nextInt(4)
        Gen(
          l.select(col("id"),
            ntile(nt).over(Window.partitionBy(col("k"))
              .orderBy(col("v").asc_nulls_first, col("id"))).as("nt"),
            percent_rank().over(Window.partitionBy(col("k"))
              .orderBy(col("v").asc_nulls_first)).as("pr"),
            cume_dist().over(Window.partitionBy(col("k"))
              .orderBy(col("v").asc_nulls_first)).as("cd")),
          s"SELECT id, NTILE($nt) OVER (PARTITION BY k ORDER BY v ASC NULLS FIRST, id) AS nt, " +
            "PERCENT_RANK() OVER (PARTITION BY k ORDER BY v ASC NULLS FIRST) AS pr, " +
            "CUME_DIST() OVER (PARTITION BY k ORDER BY v ASC NULLS FIRST) AS cd " +
            "FROM l",
          "window_dist")

      case 34 => // integer division/modulo sign conventions: Spark DIV is
        // truncation toward zero — the SQL pins the same with TRUNC over
        // double division rather than trusting DuckDB's `//` (which
        // FLOORS); both engines' % takes the dividend's sign; pmod is
        // authored as the double-% identity; divisor k+7 is never zero
        // (Spark yields NULL on /0 where DuckDB raises), nulls propagate
        Gen(
          l.select(col("id"), col("v"),
            expr("v DIV (k + 7)").as("q"),
            (col("v") % (col("k") + 7)).as("m"),
            pmod(col("v"), col("k") + 7).as("pm"),
            (col("v") / (col("k") + 7)).as("fd")),
          "SELECT id, v, CAST(TRUNC(CAST(v AS DOUBLE) / (k + 7)) AS BIGINT) AS q, " +
            "v % (k + 7) AS m, ((v % (k + 7)) + (k + 7)) % (k + 7) AS pm, " +
            "CAST(v AS DOUBLE) / (k + 7) AS fd FROM l",
          "int_arith")

      case 35 => // FIRST_VALUE/LAST_VALUE with IGNORE NULLS over the full
        // partition frame, plus a nulls-respecting NTH_VALUE: the frame is
        // pinned to UNBOUNDED..UNBOUNDED on both sides because last_value
        // under the DEFAULT frame is the famous current-row footgun this
        // family would otherwise measure instead of the null skipping
        Gen(
          l.select(col("id"),
            first(col("v"), ignoreNulls = true)
              .over(Window.partitionBy(col("k")).orderBy(col("id"))
                .rowsBetween(Window.unboundedPreceding,
                  Window.unboundedFollowing)).as("fv"),
            last(col("v"), ignoreNulls = true)
              .over(Window.partitionBy(col("k")).orderBy(col("id"))
                .rowsBetween(Window.unboundedPreceding,
                  Window.unboundedFollowing)).as("lv"),
            nth_value(col("v"), 2)
              .over(Window.partitionBy(col("k")).orderBy(col("id"))
                .rowsBetween(Window.unboundedPreceding,
                  Window.unboundedFollowing)).as("nv")),
          "SELECT id, FIRST_VALUE(v IGNORE NULLS) OVER w AS fv, " +
            "LAST_VALUE(v IGNORE NULLS) OVER w AS lv, " +
            "NTH_VALUE(v, 2) OVER w AS nv FROM l WINDOW w AS " +
            "(PARTITION BY k ORDER BY id " +
            "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)",
          "first_last_ignore_nulls")

      case 36 => // explicit GROUPING SETS ((k), (s), ()) — the asymmetric
        // level list neither ROLLUP nor CUBE can express; grouping_id
        // disambiguates a real NULL group key from a rolled-up one, same
        // bit-packing identity as the cube family
        Gen(
          l.groupingSets(Seq(Seq(col("k")), Seq(col("s")), Seq.empty),
              col("k"), col("s"))
            .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
              grouping_id().as("gid")),
          "SELECT k, s, COUNT(*) AS n, SUM(v) AS sv, " +
            "GROUPING(k)*2 + GROUPING(s) AS gid FROM l " +
            "GROUP BY GROUPING SETS ((k), (s), ())",
          "grouping_sets")

      case 37 => // string position/pad conventions over the unicode pool:
        // both engines count CODEPOINTS (probed: length('Γάμμα')=5 in
        // both), instr ≡ strpos (1-based, 0 when absent), lpad TRUNCATES
        // when the target is shorter, reverse/translate are
        // codepoint-wise. The one divergence is substring's start=0:
        // Spark treats 0 like 1 (Hive rule) while DuckDB consumes a
        // position before the first char ('abcdef',0,3 → 'ab') — the SQL
        // must author max(pos,1) for non-negative pos.
        val pos = Seq(0, 1, 2, -1)(rnd.nextInt(4))
        val sqlPos = if (pos == 0) 1 else pos
        Gen(
          l.select(col("id"),
            expr(s"substring(s, $pos, 3)").as("sub"),
            instr(col("s"), "a").as("ix"),
            lpad(col("s"), 7, "*").as("lp"),
            rpad(col("s"), 3, "xy").as("rp"),
            translate(col("s"), "al", "@1").as("tr"),
            reverse(col("s")).as("rev")),
          s"SELECT id, substring(s, $sqlPos, 3) AS sub, strpos(s, 'a') AS ix, " +
            "lpad(s, 7, '*') AS lp, rpad(s, 3, 'xy') AS rp, " +
            "translate(s, 'al', '@1') AS tr, reverse(s) AS rev FROM l",
          "string_pos")

      case 38 => // regex + LIKE/ILIKE: Java regex vs RE2 agree on the
        // simple-class subset authored here; the authoring traps are (a)
        // Spark regexp_replace is GLOBAL by default — DuckDB needs the
        // explicit 'g' flag, and (b) both return '' (not NULL) for a
        // non-matching regexp_extract but NULL for NULL input. rlike ≡
        // regexp_matches (partial match, both), LIKE is binary-collation
        // in both, ILIKE case-folds in both.
        Gen(
          l.select(col("id"),
            regexp_extract(col("s"), "([a-z]+)", 1).as("rx"),
            regexp_replace(col("s"), "[aeiou]", "#").as("rr"),
            col("s").like("%a%").as("lk"),
            col("s").ilike("%A%").as("ilk"),
            col("s").rlike("^[A-Z]").as("rl")),
          "SELECT id, regexp_extract(s, '([a-z]+)', 1) AS rx, " +
            "regexp_replace(s, '[aeiou]', '#', 'g') AS rr, " +
            "s LIKE '%a%' AS lk, s ILIKE '%A%' AS ilk, " +
            "regexp_matches(s, '^[A-Z]') AS rl FROM l",
          "regexp_like")

      case 39 => // split + concat_ws: Spark split takes a REGEX but a
        // plain char is the literal subset string_split matches; BOTH
        // keep interior AND trailing empty fields ('' → [''], 'aa' by
        // 'a' → ['','','']) and concat_ws SKIPS nulls (all-null → '').
        // Arrays are compared via array_join/len so the checker never
        // sees engine-specific list renderings.
        Gen(
          l.select(col("id"),
            concat_ws("|", col("s"), col("s"), lit("z")).as("cw"),
            array_join(split(coalesce(col("s"), lit("")), "a"), "/").as("sp"),
            size(split(coalesce(col("s"), lit("")), "a")).as("nsp")),
          "SELECT id, concat_ws('|', s, s, 'z') AS cw, " +
            "array_to_string(string_split(COALESCE(s, ''), 'a'), '/') AS sp, " +
            "len(string_split(COALESCE(s, ''), 'a')) AS nsp FROM l",
          "split_concat")

      case 40 => // month arithmetic: add_months clamps into the target
        // month (Nov 30 + 3 → Feb 29/28) in BOTH engines, but DuckDB's
        // DATE + INTERVAL MONTH returns a TIMESTAMP — the SQL must cast
        // back to DATE; date_add/datediff('day') and last_day line up
        // directly. The +dayShift spread pushes base dates through a
        // month end so the clamp rule actually fires.
        val m = 1 + rnd.nextInt(3)
        val dayShift = rnd.nextInt(17)
        Gen(
          l.select(col("id"),
            date_add(col("ts").cast("date"), dayShift).as("base"),
            add_months(date_add(col("ts").cast("date"), dayShift), m).as("am"),
            last_day(date_add(col("ts").cast("date"), dayShift)).as("ld"),
            datediff(date_add(col("ts").cast("date"), dayShift),
              lit("2023-11-01").cast("date")).as("dd")),
          s"""SELECT id, CAST(ts AS DATE) + $dayShift AS base,
             |  CAST(CAST(ts AS DATE) + $dayShift + INTERVAL $m MONTH AS DATE) AS am,
             |  last_day(CAST(ts AS DATE) + $dayShift) AS ld,
             |  datediff('day', DATE '2023-11-01', CAST(ts AS DATE) + $dayShift) AS dd
             |FROM l""".stripMargin,
          "month_arith")

      case 41 => // RANGE frame with a NUMERIC offset: the frame is
        // value-distance, not row-distance (tied v values are peers and
        // always co-framed), and the null-ordering stratum is its own
        // peer group whose frame is all nulls — COUNT(*) counts the null
        // peers while SUM over them is NULL, in both engines. DuckDB
        // defaults ASC to NULLS LAST, so NULLS FIRST is authored
        // explicitly to match Spark.
        val span = 1 + rnd.nextInt(5)
        Gen(
          l.select(col("id"), col("k"), col("v"),
            sum(col("v")).over(Window.partitionBy(col("k"))
              .orderBy(col("v").asc_nulls_first)
              .rangeBetween(-span, 0)).as("rsum"),
            count(lit(1)).over(Window.partitionBy(col("k"))
              .orderBy(col("v").asc_nulls_first)
              .rangeBetween(-span, 0)).as("rcnt")),
          s"SELECT id, k, v, SUM(v) OVER w AS rsum, COUNT(*) OVER w AS rcnt " +
            "FROM l WINDOW w AS (PARTITION BY k ORDER BY v ASC NULLS FIRST " +
            s"RANGE BETWEEN $span PRECEDING AND CURRENT ROW)",
          "range_frame")

      case 42 => // the A34 canonical dedup map vs its SQL re-derivation:
        // lower → strip non-[a-z\s] (RE2 and Java agree on the ASCII
        // class; unicode chars strip in both) → collapse \s runs → trim →
        // md5 over UTF-8 (identical bytes in both engines). The pool's
        // case/space variants collapse into real multi-doc clusters so
        // survivor/n_copies/is_survivor window math is exercised, and
        // DuckDB regexp_replace needs the 'g' flag both times.
        Gen(
          graft.dedup.Dedup.canonicalDedupMap(l, "id", col("s")),
          """WITH c AS (SELECT id,
            |  md5(trim(regexp_replace(regexp_replace(lower(COALESCE(s, '')),
            |    '[^a-z\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp FROM l)
            |SELECT id, fp, MIN(id) OVER (PARTITION BY fp) AS survivor,
            |  COUNT(*) OVER (PARTITION BY fp) AS n_copies,
            |  id = MIN(id) OVER (PARTITION BY fp) AS is_survivor
            |FROM c""".stripMargin,
          "canonical_dedup")

      case 43 => // the A30 PMI collocation operator vs a lead()-free
        // bigram re-derivation: docs are synthesized as
        // concat_ws(' ', s, 'x', v) so the tiny-vocabulary pool yields
        // REPEATED bigrams past the min-count gate (and concat_ws's
        // null-skipping is part of what's diffed). All counts are exact
        // integers; pmi = floor(ln(ratio)*1e6)/1e6 where the ratio is a
        // small rational — ln lands on a 1e-6 granule only at ratio=1,
        // which is exactly 0.0 in both engines.
        val txt = concat_ws(" ", col("s"), lit("x"), col("v").cast("string"))
        Gen(
          graft.text.TextAnalysis.pmiCollocations(l.select(txt.as("t")),
            col("t"), minCount = 2L),
          """WITH docs AS (SELECT list_filter(string_split(
            |    concat_ws(' ', s, 'x', CAST(v AS VARCHAR)), ' '),
            |    x -> x <> '') AS ws FROM l),
            |pairs AS (SELECT list_extract(ws, i) AS w1,
            |    list_extract(ws, i + 1) AS w2
            |  FROM docs CROSS JOIN UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
            |  WHERE len(ws) >= 2),
            |uni AS (SELECT unnest(ws) AS w FROM docs),
            |cb AS (SELECT w1, w2, COUNT(*) AS n_pair FROM pairs GROUP BY w1, w2),
            |cu AS (SELECT w, COUNT(*) AS cu FROM uni GROUP BY w),
            |nb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nb FROM pairs),
            |nu AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nu FROM uni)
            |SELECT cb.w1, cb.w2, cb.n_pair,
            |  CAST(floor(ln(cb.n_pair * nu.nu * nu.nu
            |      / (nb.nb * c1.cu * c2.cu)) * 1e6) AS DOUBLE) / 1e6 AS pmi
            |FROM cb
            |JOIN cu c1 ON (c1.w = cb.w1) JOIN cu c2 ON (c2.w = cb.w2)
            |CROSS JOIN nb CROSS JOIN nu
            |WHERE cb.n_pair >= 2""".stripMargin,
          "pmi")

      case 44 => // the A31 temperature-scaled mixture weights vs the same
        // long-math discipline in SQL: token counts stay exact BIGINTs,
        // √share is IEEE-correctly-rounded in both engines (the
        // sqrt-not-pow rule), and the normalizer is the operator's own
        // partition-order-independent form — each √share floor-truncated
        // to 12 decimals and summed as BIGINTs. The constant 'x' token
        // keeps every doc ≥1 token so the zero-total NaN-cast minefield
        // (Spark CAST(NaN AS LONG)=0, DuckDB raises) never opens.
        val mtxt = concat_ws(" ", col("s"), lit("x"), col("v").cast("string"))
        Gen(
          graft.text.TextAnalysis.mixtureWeights(
            l.select(col("k"), mtxt.as("t")), "k", col("t")),
          """WITH per AS (SELECT k, COUNT(*) AS n_docs,
            |    SUM(len(list_filter(string_split(
            |      concat_ws(' ', s, 'x', CAST(v AS VARCHAR)), ' '),
            |      x -> x <> ''))) AS n_tokens
            |  FROM l GROUP BY k),
            |tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot FROM per),
            |sq AS (SELECT k, n_docs, n_tokens,
            |    CAST(n_tokens AS DOUBLE) / tot.tot AS share,
            |    sqrt(CAST(n_tokens AS DOUBLE) / tot.tot) AS sqs
            |  FROM per CROSS JOIN tot),
            |z AS (SELECT SUM(CAST(floor(sqs * 1e12) AS BIGINT)) AS zi FROM sq)
            |SELECT k, n_docs, n_tokens,
            |  CAST(floor(share * 1e6) AS DOUBLE) / 1e6 AS token_share,
            |  CAST(floor(sqs / (CAST(zi AS DOUBLE) / 1e12) * 1e6) AS DOUBLE) / 1e6
            |    AS mix_weight
            |FROM sq CROSS JOIN z""".stripMargin,
          "mixture_weights")

      case 45 => // the q26 quality-feature heuristics vs their SQL
        // re-derivation over synthesized text: stopwords are injected
        // per-row via pmod-indexed literals (null v/k make concat_ws drop
        // the token — part of what's diffed), lengths are codepoints in
        // both engines, and every ratio is floor-truncated at 1e-6 (the
        // module's round-tie discipline).
        // try_element_at, NOT element_at: Spark 4.1's element_at with a
        // RUNTIME-null index returns the array's LAST element (the
        // constant-folded path and the docs both say NULL — caught live
        // by this lane, seeds 12187/12203); try_element_at is the
        // spec-conformant form and matches DuckDB's list_extract(·, NULL).
        val stops = Seq("the", "a", "of", "and", "to", "in")
        val stopArr = array(stops.map(lit): _*)
        val qtxt = concat_ws(" ", col("s"),
          try_element_at(stopArr, pmod(col("v"), lit(6)) + 1),
          lower(col("s")),
          try_element_at(stopArr, pmod(col("k"), lit(6)) + 1))
        val stopList = stops.map(w => s"'$w'").mkString("[", ", ", "]")
        Gen(
          graft.text.TextAnalysis.qualityFeatures(
              l.select(col("id"), qtxt.as("t")), col("t"))
            .select(col("id"), col("n_words"), col("n_chars_m"),
              col("stop_ratio"), col("mean_word_len"), col("quality")),
          s"""WITH t AS (SELECT id, concat_ws(' ', s,
             |    list_extract($stopList, ((v % 6) + 6) % 6 + 1), lower(s),
             |    list_extract($stopList, ((k % 6) + 6) % 6 + 1)) AS text FROM l),
             |w AS (SELECT id, text,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM t),
             |f AS (SELECT id, CAST(len(ws) AS BIGINT) AS n_words,
             |    CAST(length(text) AS BIGINT) AS n_chars_m,
             |    CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','to','in'))) AS BIGINT) AS n_stop,
             |    CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) AS char_sum
             |  FROM w)
             |SELECT id, n_words, n_chars_m,
             |  floor((CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE) / n_words ELSE 0.0 END) * 1e6) / 1e6 AS stop_ratio,
             |  floor((CASE WHEN n_words > 0 THEN char_sum / n_words ELSE 0.0 END) * 1e6) / 1e6 AS mean_word_len,
             |  floor((0.5 * least(n_words / 20.0, 1.0)
             |    + 0.3 * (CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE) / n_words ELSE 0.0 END)
             |    + 0.2 * least((CASE WHEN n_words > 0 THEN char_sum / n_words ELSE 0.0 END) / 8.0, 1.0)) * 1e6) / 1e6 AS quality
             |FROM f""".stripMargin,
          "quality_features")

      case 46 => // the q25 marker-lexicon language ID vs a CASE ladder:
        // per-language scores are exact marker-hit counts, the pick is
        // argmax with ties broken by language-name order (the operator's
        // foldRight over sorted names ≡ CASE de→en→es→fr→zh) and "und"
        // when every score is zero. Marker words are injected per-row via
        // pmod-indexed literals so real cross-language ties occur.
        val mk = Seq("the", "of", "and", "data", "valor", "gruppe",
          "wert", "table", "hash", "join")
        val mkArr = array(mk.map(lit): _*)
        // try_element_at for the same runtime-null-index reason as the
        // quality family (seeds 12125/12136/12141/12174/12177/12206)
        val ltxt = concat_ws(" ", col("s"),
          try_element_at(mkArr, pmod(col("v"), lit(10)) + 1),
          try_element_at(mkArr, pmod(col("v") + col("k"), lit(10)) + 1))
        val mkList = mk.map(w => s"'$w'").mkString("[", ", ", "]")
        def scoreSql(markers: Seq[String]): String =
          s"CAST(len(list_filter(ws, x -> x IN (${markers.map(w => s"'$w'").mkString(", ")}))) AS BIGINT)"
        val bylang = graft.text.TextAnalysis.langMarkers.toMap
        Gen(
          l.select(col("id"), ltxt.as("t"))
            .select(col("id"),
              graft.text.TextAnalysis.langScore(col("t"), bylang("de")).as("s_de"),
              graft.text.TextAnalysis.langScore(col("t"), bylang("en")).as("s_en"),
              graft.text.TextAnalysis.langScore(col("t"), bylang("es")).as("s_es"),
              graft.text.TextAnalysis.langScore(col("t"), bylang("fr")).as("s_fr"),
              graft.text.TextAnalysis.langScore(col("t"), bylang("zh")).as("s_zh"),
              graft.text.TextAnalysis.langId(col("t")).as("lang")),
          s"""WITH t AS (SELECT id, concat_ws(' ', s,
             |    list_extract($mkList, ((v % 10) + 10) % 10 + 1),
             |    list_extract($mkList, (((v + k) % 10) + 10) % 10 + 1)) AS text FROM l),
             |w AS (SELECT id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM t),
             |sc AS (SELECT id,
             |    ${scoreSql(bylang("de"))} AS s_de, ${scoreSql(bylang("en"))} AS s_en,
             |    ${scoreSql(bylang("es"))} AS s_es, ${scoreSql(bylang("fr"))} AS s_fr,
             |    ${scoreSql(bylang("zh"))} AS s_zh
             |  FROM w)
             |SELECT id, s_de, s_en, s_es, s_fr, s_zh,
             |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
             |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
             |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
             |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
             |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
             |       ELSE 'zh' END AS lang
             |FROM sc""".stripMargin,
          "langid")

      case 47 => // the A51 entropy profile vs the q164 oracle pattern on
        // synthesized text: char/token Shannon entropies with the
        // module's decimal-staged sum (each p·ln p rounded to 6 decimals
        // and summed as DECIMAL(28,6) so the aggregate is
        // merge-order-independent), inner-join semantics dropping docs
        // whose text empties out — on BOTH sides.
        val etxt = concat_ws(" ", col("s"), lower(col("s")),
          col("v").cast("string"))
        Gen(
          graft.text.TextAnalysis.entropyProfile(
            l.select(col("id"), etxt.as("t")), "id", col("t"), 2.0),
          """WITH t AS (SELECT id, concat_ws(' ', s, lower(s),
            |    CAST(v AS VARCHAR)) AS text FROM l),
            |w AS (SELECT id, text,
            |    list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM t),
            |ch AS (SELECT id, c, count(*) AS cnt
            |  FROM (SELECT id, unnest(string_split(text, '')) AS c FROM t)
            |  WHERE c <> ' ' AND c <> '' GROUP BY 1, 2),
            |cht AS (SELECT id, sum(cnt) AS n FROM ch GROUP BY id),
            |che AS (SELECT ch.id, max(cht.n) AS n_chars,
            |    floor(-CAST(sum(CAST(round(
            |      (CAST(cnt AS DOUBLE) / CAST(cht.n AS DOUBLE))
            |        * ln(CAST(cnt AS DOUBLE) / CAST(cht.n AS DOUBLE)), 6)
            |      AS DECIMAL(28,6))) AS DOUBLE) * 1e6) / 1e6 AS h_chars
            |  FROM ch JOIN cht ON cht.id = ch.id GROUP BY ch.id),
            |tk AS (SELECT id, tkn, count(*) AS cnt
            |  FROM (SELECT id, unnest(ws) AS tkn FROM w) GROUP BY 1, 2),
            |tkt AS (SELECT id, sum(cnt) AS n FROM tk GROUP BY id),
            |tke AS (SELECT tk.id, max(tkt.n) AS n_words,
            |    floor(-CAST(sum(CAST(round(
            |      (CAST(cnt AS DOUBLE) / CAST(tkt.n AS DOUBLE))
            |        * ln(CAST(cnt AS DOUBLE) / CAST(tkt.n AS DOUBLE)), 6)
            |      AS DECIMAL(28,6))) AS DOUBLE) * 1e6) / 1e6 AS h_words
            |  FROM tk JOIN tkt ON tkt.id = tk.id GROUP BY tk.id)
            |SELECT che.id, CAST(che.n_chars AS BIGINT) AS n_chars_nospace,
            |  che.h_chars, CAST(tke.n_words AS BIGINT) AS n_tokens, tke.h_words,
            |  che.h_chars < 2.0 AS low_entropy
            |FROM che JOIN tke ON tke.id = che.id""".stripMargin,
          "entropy_profile")

      case 48 => // the q69 PII redaction vs the same RE2-safe patterns in
        // DuckDB: emails then phone-runs replaced by typed placeholders,
        // counts via regexp_count ≡ len(regexp_extract_all). Spark
        // regexp_replace is global by default — the SQL needs 'g' on both
        // rewrites. The synthesized text plants one real email and one
        // real phone per row around the pool word; concat_ws's null-skip
        // means a null s just shortens the text instead of nulling it,
        // so the regex legs always see a real string.
        val ptxt = concat_ws(" ", col("s"),
          concat(lit("u"), col("id"), lit("@ex.com")),
          lower(col("s")), lit("+1-555-0123"))
        val em = graft.text.TextAnalysis.EmailRe
        val ph = graft.text.TextAnalysis.PhoneRe
        Gen(
          l.select(col("id"), ptxt.as("pii"))
            .select(col("id"),
              graft.text.TextAnalysis.redactPii(col("pii")).as("red"),
              regexp_count(col("pii"), lit(em)).cast("long").as("n_email"),
              regexp_count(col("pii"), lit(ph)).cast("long").as("n_phone")),
          s"""WITH p AS (SELECT id, concat_ws(' ', s, 'u' || id || '@ex.com',
             |    lower(s), '+1-555-0123') AS pii FROM l)
             |SELECT id,
             |  regexp_replace(regexp_replace(pii, '$em', '<EMAIL>', 'g'),
             |    '$ph', '<PHONE>', 'g') AS red,
             |  CAST(len(regexp_extract_all(pii, '$em')) AS BIGINT) AS n_email,
             |  CAST(len(regexp_extract_all(pii, '$ph')) AS BIGINT) AS n_phone
             |FROM p""".stripMargin,
          "pii_redact")

      case 49 => // the A22 RAG chunking operator with RANDOMIZED
        // chunk/stride geometry vs the q112 oracle pattern: posexplode
        // ordinals ≡ (start-1)/stride (starts are exactly 1+k·stride),
        // Spark's slice ≡ DuckDB's inclusive list range, the tail chunk's
        // n_tokens = least(chunk, len-start+1), and a doc whose text
        // empties out yields NO chunks on either side.
        val ct = 2 + rnd.nextInt(3)
        val st = 2 + rnd.nextInt(3)
        val ctxt = concat_ws(" ", col("s"), lower(col("s")),
          col("v").cast("string"), upper(col("s")),
          col("k").cast("string"), lit("x"))
        Gen(
          graft.text.TextAnalysis.chunkForEmbedding(
            l.select(col("id"), ctxt.as("t")), "id", col("t"), ct, st),
          s"""WITH t AS (SELECT id, concat_ws(' ', s, lower(s),
             |    CAST(v AS VARCHAR), upper(s), CAST(k AS VARCHAR), 'x') AS text FROM l),
             |w AS (SELECT id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM t),
             |st AS (SELECT id, ws,
             |    unnest(generate_series(1, len(ws), $st)) AS start_tok
             |  FROM w WHERE len(ws) >= 1)
             |SELECT id, CAST((start_tok - 1) / $st AS BIGINT) AS chunk_id,
             |  CAST(start_tok AS BIGINT) AS start_tok,
             |  CAST(least($ct, len(ws) - start_tok + 1) AS BIGINT) AS n_tokens,
             |  array_to_string(ws[start_tok:start_tok + ${ct - 1}], ' ') AS chunk_text
             |FROM st""".stripMargin,
          "chunking")

      case 50 => // the content fingerprint + shared normalizer vs their
        // SQL forms: fingerprint trims FIRST then collapses (a trailing
        // tab becomes a trailing space that survives into the md5), while
        // normalized() collapses first — the op-order difference is part
        // of what's pinned. trim is ASCII-space-only in BOTH engines;
        // null s → NULL fp but '' norm (the coalesce asymmetry).
        Gen(
          l.select(col("id"),
            graft.text.TextAnalysis.fingerprint(col("s")).as("fp"),
            graft.text.TextAnalysis.normalized(col("s")).as("norm")),
          """SELECT id,
            |  md5(regexp_replace(lower(trim(s)), '\s+', ' ', 'g')) AS fp,
            |  lower(trim(regexp_replace(COALESCE(s, ''), '\s+', ' ', 'g'))) AS norm
            |FROM l""".stripMargin,
          "fingerprint")

      case 51 => // the NATIVE repetition-ratio kernel (a custom codegen'd
        // Expression, not built-ins) vs the q46 oracle pattern: distinct
        // 3-grams over a deliberately periodic word sequence (s repeated
        // 6×) so duplicate grams actually occur; <3 words or null text →
        // 1.0; ratios are small-integer rationals whose 6-decimal
        // rounding can never land on a tie.
        val rtxt = concat_ws(" ", col("s"), col("s"), col("s"),
          lower(col("s")), col("s"), col("s"), col("s"))
        Gen(
          l.select(col("id"),
            graft.text.TextAnalysis.repetitionRatio(rtxt, 3).as("distinct_ratio")),
          """WITH t AS (SELECT id, concat_ws(' ', s, s, s, lower(s), s, s, s) AS text FROM l),
            |w AS (SELECT id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM t),
            |g AS (SELECT id, CASE WHEN len(ws) >= 3
            |    THEN list_transform(generate_series(1, len(ws) - 2),
            |         i -> array_to_string(ws[i:i+2], ' '))
            |    ELSE [] END AS grams FROM w)
            |SELECT id, CASE WHEN len(grams) > 0
            |  THEN round(CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
            |  ELSE 1.0 END AS distinct_ratio FROM g""".stripMargin,
          "repetition")

      case 52 => // the q27 token-count trio vs SQL: whitespace words, the
        // chars/4 BPE estimate floored at the word count, and the match
        // count of the GPT-2-style pretokenizer regex (ASCII classes +
        // leftmost-first alternation — identical in Java and RE2; the
        // planted "it's" exercises the contraction branch, the unicode
        // pool words fall through to the [^\sA-Za-z0-9]+ run branch).
        val ttxt = concat_ws(" ", col("s"), col("v").cast("string"),
          lower(col("s")), lit("it's"))
        val bre = graft.text.TextAnalysis.BpeRe.replace("'", "''")
        Gen(
          graft.text.TextAnalysis.tokenCounts(
              l.select(col("id"), ttxt.as("t")), col("t"))
            .select(col("id"), col("n_tokens_ws"), col("n_tokens_bpe"),
              col("n_tokens_re")),
          s"""WITH t AS (SELECT id, concat_ws(' ', s, CAST(v AS VARCHAR),
             |    lower(s), 'it''s') AS text FROM l),
             |w AS (SELECT id, text,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM t)
             |SELECT id, CAST(len(ws) AS BIGINT) AS n_tokens_ws,
             |  greatest(CAST(len(ws) AS BIGINT),
             |    CAST(ceil(length(text) / 4.0) AS BIGINT)) AS n_tokens_bpe,
             |  CAST(len(regexp_extract_all(text, '$bre')) AS BIGINT) AS n_tokens_re
             |FROM w""".stripMargin,
          "token_counts")

      case 53 => // the A16-family EWMA smoother vs its integer lag-chain
        // re-derivation: coef_j = 3^j·4^(L-1-j) exact integers, norm =
        // 4^L − 3^L, only the final division is a double (floor-trunc
        // 6dp). Randomized lookback; a null v ANYWHERE in the chain nulls
        // the whole weighted sum and drops the row — in both engines.
        val lb = 2 + rnd.nextInt(3)
        val ecoefs = (0 until lb).map(j =>
          BigInt(3).pow(j).toLong * BigInt(4).pow(lb - 1 - j).toLong)
        val enorm = ecoefs.sum
        val echain = (s"v * ${ecoefs.head}" +:
          (1 until lb).map(j => s"lag(v, $j) OVER w * ${ecoefs(j)}"))
          .mkString(" + ")
        Gen(
          graft.ops.Relational.ewmaSmooth(
            l.select(col("k"), col("id"), col("v")), "k", "id", "v", lb),
          s"""WITH wnd AS (SELECT k, id, v, $echain AS wsum
             |  FROM l WINDOW w AS (PARTITION BY k ORDER BY id))
             |SELECT k, id, v,
             |  floor(CAST(wsum AS DOUBLE) / $enorm.0 * 1e6) / 1e6 AS ewma
             |FROM wnd WHERE wsum IS NOT NULL""".stripMargin,
          "ewma")

      case 54 => // the A16 rolling z-score anomaly gate vs the q103
        // oracle pattern, with RANDOM lookback/z and nullable values the
        // gap-filled production series never has: count() skips nulls in
        // both engines, so a null inside the frame keeps cnt < L and the
        // row stays unflagged warmup; a null v at the probe row nulls
        // is_anomaly itself (Spark's && ≡ the SQL CASE's null
        // propagation); zero-variance history flags ANY deviation.
        val zlb = 2 + rnd.nextInt(3)
        val zz = Seq(2.0, 3.0)(rnd.nextInt(2))
        val zmean = "CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE)"
        val zvar = s"(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE)) / CAST(cnt AS DOUBLE)"
        val zdev = s"(CAST(v AS DOUBLE) - $zmean)"
        Gen(
          graft.ops.Relational.rollingAnomalies(
            l.select(col("k"), col("id"), col("v")), "k", "id", "v", zlb, zz),
          s"""WITH wnd AS (SELECT k, id, v,
             |    count(v) OVER w AS cnt, sum(v) OVER w AS s1,
             |    sum(v * v) OVER w AS s2
             |  FROM l WINDOW w AS (PARTITION BY k ORDER BY id
             |    ROWS BETWEEN $zlb PRECEDING AND 1 PRECEDING))
             |SELECT k, id, v,
             |  CASE WHEN cnt = $zlb THEN floor(($zmean) * 1e6) / 1e6 END AS mean_prev,
             |  CASE WHEN cnt = $zlb THEN
             |    CASE WHEN $zvar > 0 THEN $zdev * $zdev > ${zz * zz} * ($zvar)
             |         ELSE $zdev <> 0 END
             |  ELSE FALSE END AS is_anomaly
             |FROM wnd""".stripMargin,
          "rolling_zscore")

      case 55 => // the A18 Efraimidis-Spirakis weighted sample vs its SQL
        // re-derivation: u from md5(seed|id) (conv ≡ the '0x'-cast hex
        // idiom), key = ln(u)/w floor-trunc 1e-9, global top-k via ORDER
        // BY DESC + id tiebreak + LIMIT. Null and non-positive weights
        // are EXCLUDED in both engines (the operator's documented rule —
        // ±Inf through floor/cast is the one non-portable path). Random
        // k and seed per case.
        val wk = 3 + rnd.nextInt(8)
        val wseed = s"fz${rnd.nextInt(1000)}"
        Gen(
          graft.ops.Relational.weightedSample(
            l.select(col("id"), col("v")), col("id"), col("v"), wk, wseed),
          s"""WITH keyed AS (SELECT id, v,
             |    floor(ln((CAST(('0x' || substring(md5('$wseed|' || CAST(id AS VARCHAR)), 1, 8)) AS BIGINT) + 1.0)
             |        / 4294967296.0) / CAST(v AS DOUBLE) * 1e9) / 1e9 AS samp_key
             |  FROM l WHERE CAST(v AS DOUBLE) > 0)
             |SELECT id, v, samp_key FROM keyed
             |ORDER BY samp_key DESC, id LIMIT $wk""".stripMargin,
          "weighted_sample")

      case 56 => // the A33 deterministic split assignment vs SQL: bucket
        // = md5-hex-head(seed|id) % 100, thresholds carve train/val/test.
        // Random thresholds and seed; the property under test is that the
        // SAME row lands in the SAME split in both engines — the
        // stability contract eval-set hygiene rests on.
        val tp = 50 + rnd.nextInt(40)
        val vp = 1 + rnd.nextInt(99 - tp)
        val sseed = s"sp${rnd.nextInt(1000)}"
        Gen(
          graft.ops.Relational.splitAssign(
            l.select(col("id"), col("s")), col("id"), sseed, tp, vp),
          s"""WITH b AS (SELECT id, s,
             |    CAST(('0x' || substring(md5('$sseed|' || CAST(id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
             |  FROM l)
             |SELECT id, s, bucket,
             |  CASE WHEN bucket < $tp THEN 'train'
             |       WHEN bucket < ${tp + vp} THEN 'val' ELSE 'test' END AS split
             |FROM b""".stripMargin,
          "split_assign")

      case 57 => // the A43 gram-dominance NATIVE kernel (single-pass
        // codegen'd fold) vs the q147 SQL re-derivation: word-bigram
        // counts, the top gram under the cnt DESC / gram DESC tie-break,
        // top_frac against the space-joined total chars, dup_frac over
        // gram occurrences — deliberately periodic text so dup grams and
        // ties both occur; docs under 2 words take the NULL-top/0.0 path.
        val gtxt = concat_ws(" ", col("s"), col("s"), lower(col("s")),
          col("s"), col("v").cast("string"), col("s"))
        Gen(
          graft.text.TextAnalysis.topGramDominance(
            l.select(col("id"), gtxt.as("t")), "id", col("t"), 2),
          """WITH t AS (SELECT id, concat_ws(' ', s, s, lower(s), s,
            |    CAST(v AS VARCHAR), s) AS text FROM l),
            |w AS (SELECT id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM t),
            |g AS (SELECT id, array_to_string(ws[i:i+1], ' ') AS gram
            |  FROM (SELECT id, ws,
            |    unnest(generate_series(1, greatest(len(ws)-1, 0))) AS i FROM w)),
            |c AS (SELECT id, gram, count(*) AS cnt FROM g GROUP BY id, gram),
            |top AS (SELECT id, gram, cnt FROM (
            |  SELECT id, gram, cnt, row_number() OVER (PARTITION BY id
            |    ORDER BY cnt DESC, gram DESC) AS rn FROM c) WHERE rn = 1),
            |agg AS (SELECT id, sum(cnt) AS n_grams,
            |    sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_occ
            |  FROM c GROUP BY id),
            |tot AS (SELECT id, length(array_to_string(ws, ' ')) AS total_chars FROM w)
            |SELECT t.id, top.gram AS top_gram,
            |  coalesce(top.cnt, 0) AS top_cnt,
            |  CASE WHEN t.total_chars > 0 AND top.gram IS NOT NULL
            |    THEN round(top.cnt * length(top.gram) / CAST(t.total_chars AS DOUBLE), 6)
            |    ELSE 0.0 END AS top_frac,
            |  CASE WHEN coalesce(a.n_grams, 0) > 0
            |    THEN round(a.dup_occ / CAST(a.n_grams AS DOUBLE), 6)
            |    ELSE 0.0 END AS dup_frac
            |FROM tot t
            |LEFT JOIN top ON top.id = t.id
            |LEFT JOIN agg a ON a.id = t.id""".stripMargin,
          "gram_dominance")

      case 58 => // the chargram-Jaccard NATIVE kernel (one O(|a|+|b|)
        // codegen'd pass) on consecutive-id pairs vs the q75 verify-stage
        // SQL: distinct char-3-grams of the normalized texts,
        // inter/union with the union=0 → 0.0 rule; short texts (< 3
        // chars) have empty gram sets. Unions stay ≤ ~30 so the 6-decimal
        // round can never land on a tie (first power-of-2 denominator
        // with a 7-digit expansion is 128).
        val jtxt = concat_ws(" ", col("s"), lower(col("s")),
          col("v").cast("string"))
        Gen(
          graft.dedup.Dedup.charGramJaccard(
            l.select(col("id").as("a"))
              .join(l.select(col("id").as("b")), col("b") === col("a") + 1),
            l.select(col("id"), jtxt.as("t")), "id", col("t"), n = 3),
          """WITH t AS (SELECT id, concat_ws(' ', s, lower(s),
            |    CAST(v AS VARCHAR)) AS text FROM l),
            |nrm AS (SELECT id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt FROM t),
            |p AS (SELECT x.id AS a, y.id AS b FROM l x JOIN l y ON y.id = x.id + 1),
            |cg AS (SELECT DISTINCT id, substring(nt, i, 3) AS g
            |  FROM (SELECT id, nt,
            |    unnest(generate_series(1, greatest(length(nt) - 2, 0))) AS i FROM nrm)),
            |szs AS (SELECT id, count(*) AS sz FROM cg GROUP BY id),
            |itr AS (SELECT p.a, p.b, count(*) AS inter FROM p
            |  JOIN cg ga ON ga.id = p.a
            |  JOIN cg gb ON gb.id = p.b AND gb.g = ga.g
            |  GROUP BY p.a, p.b)
            |SELECT p.a, p.b,
            |  CASE WHEN coalesce(sa.sz, 0) + coalesce(sb.sz, 0) - coalesce(itr.inter, 0) = 0 THEN 0.0
            |    ELSE round(CAST(coalesce(itr.inter, 0) AS DOUBLE)
            |      / CAST(coalesce(sa.sz, 0) + coalesce(sb.sz, 0) - coalesce(itr.inter, 0) AS DOUBLE), 6)
            |  END AS jaccard
            |FROM p
            |LEFT JOIN itr ON itr.a = p.a AND itr.b = p.b
            |LEFT JOIN szs sa ON sa.id = p.a
            |LEFT JOIN szs sb ON sb.id = p.b""".stripMargin,
          "chargram_kernel")

      case 59 => // the winnowing-fingerprint NATIVE kernel (Rabin-Karp
        // rolling char-8-gram hash + monotonic-deque window-4 min, one
        // fused O(n) pass) vs the q56 pure-SQL re-derivation
        // (list_reduce polynomial hash + list_min window slices).
        // Synthesized texts straddle the 8-char boundary so the
        // empty-fingerprint path fires; try_element_at (not element_at)
        // reads the head/tail because empty arrays would throw under
        // ANSI — and a null INDEX is the upstream codegen bug anyway.
        val wtxt2 = concat_ws(" ", col("s"), lower(col("s")),
          col("v").cast("string"), upper(col("s")))
        Gen(
          l.select(col("id"),
              graft.text.TextAnalysis.winnowFingerprints(wtxt2).as("fps"))
            .select(col("id"),
              size(col("fps")).cast("long").as("n_fps"),
              try_element_at(col("fps"), lit(1)).as("min_fp"),
              try_element_at(col("fps"), lit(-1)).as("max_fp"),
              aggregate(col("fps"), lit(0L), (a, x) => a + x).as("fp_sum")),
          """WITH d AS (
            |  SELECT id,
            |    lower(trim(regexp_replace(concat_ws(' ', s, lower(s),
            |      CAST(v AS VARCHAR), upper(s)), '\s+', ' ', 'g'))) AS t
            |  FROM l
            |), grams AS (
            |  SELECT id,
            |    CASE WHEN length(t) >= 8 THEN
            |      list_transform(range(1, length(t) - 8 + 2),
            |        p -> list_reduce(
            |               list_transform(range(p, p + 8),
            |                 j -> CAST(unicode(substring(t, CAST(j AS INTEGER), 1)) AS BIGINT)),
            |               (a, b) -> (a * 131 + b) % 1000000007))
            |    ELSE CAST([] AS BIGINT[]) END AS gs
            |  FROM d
            |), fset AS (
            |  SELECT id,
            |    CASE WHEN len(gs) = 0 THEN CAST([] AS BIGINT[])
            |    ELSE list_sort(list_distinct(
            |      list_transform(range(1, greatest(len(gs) - 4 + 1, 1) + 1),
            |        i -> list_min(list_slice(gs, i, least(i + 4 - 1, len(gs)))))))
            |    END AS fps
            |  FROM grams
            |)
            |SELECT id, len(fps) AS n_fps, fps[1] AS min_fp,
            |  fps[len(fps)] AS max_fp,
            |  CAST(coalesce(list_sum(fps), 0) AS BIGINT) AS fp_sum
            |FROM fset""".stripMargin,
          "winnow_kernel")

      case 60 => // the simhash16 NATIVE kernel (one md5 per word, 16-bit
        // hex-high-bit majority) vs the q68 SQL re-derivation: per-word
        // md5s, each of the 16 leading hex digits votes +1/-1 on its
        // high bit, ties and EMPTY docs go to '0' (list_sum of an empty
        // list is NULL in DuckDB → NULL > 0 is false → '0', matching the
        // kernel's all-zero signature for wordless text).
        val shtxt = concat_ws(" ", col("s"), lower(col("s")),
          col("v").cast("string"))
        val shBits = (1 to 16).map { i =>
          s"""CASE WHEN list_sum(list_transform(hws, h -> CASE WHEN substring(h, $i, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END"""
        }.mkString("(", " || ", ")")
        Gen(
          l.select(col("id"),
            graft.dedup.Dedup.simhash16(shtxt).as("sh")),
          s"""WITH t AS (SELECT id, concat_ws(' ', s, lower(s),
             |    CAST(v AS VARCHAR)) AS text FROM l),
             |w AS (SELECT id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM t),
             |hw AS (SELECT id, list_transform(ws, x -> md5(x)) AS hws FROM w)
             |SELECT id, $shBits AS sh FROM hw""".stripMargin,
          "simhash_kernel")

      case 61 => // the Aho-Corasick canary NATIVE kernel (one text
        // traversal for all patterns) vs the q135 replace-delta SQL:
        // n_hits = (len - len(replace))/len(pattern) counts
        // LEFT-TO-RIGHT NON-OVERLAPPING matches, first_pos = 1-based
        // codepoint strpos. The pattern set includes single/double-char
        // digit runs ('0' vs '00' over '00'-bearing texts probes the
        // non-overlap rule), a unicode pattern, and pool words repeated
        // in the synthesized text for real multi-hit rows.
        val canaries = Seq("alpha", "beta", "0", "00", "am", "délta")
        val ctext = concat_ws(" ", col("s"), col("s"), lower(col("s")),
          col("v").cast("string"), col("s"), lit("x"))
        val canList = canaries.map(c => s"'$c'").mkString("[", ", ", "]")
        Gen(
          graft.text.TextAnalysis.canaryScanAC(
            l.select(col("id"), ctext.as("t")), "id", col("t"), canaries),
          s"""WITH t AS (SELECT id, concat_ws(' ', s, s, lower(s),
             |    CAST(v AS VARCHAR), s, 'x') AS text FROM l),
             |c AS (SELECT unnest($canList) AS canary)
             |SELECT id, canary,
             |  CAST((length(text) - length(replace(text, canary, '')))
             |    / length(canary) AS BIGINT) AS n_hits,
             |  CAST(strpos(text, canary) AS BIGINT) AS first_pos
             |FROM t, c
             |WHERE contains(text, canary)""".stripMargin,
          "canary_kernel")

      case 62 => // RAW element_at with a runtime-nullable computed index —
        // the EXACT shape that diverged from DuckDB in round 11 (seeds
        // 12125-12206 pattern: codegen returned the LAST element for a
        // null index; families 45/46 had to author around it with
        // try_element_at). The ElementAtNullIndexGuard resolution rule
        // (injected via spark.sql.extensions in this session) now rewrites
        // it to the null-correct form, so the once-forbidden form is
        // directly diffable against DuckDB's list_extract(·, NULL) = NULL.
        // A downstream grouped count over one marker column makes the
        // guarded NULL flow through an exchange, not just a projection.
        val nMk = 4 + rnd.nextInt(5) // 4..8 markers
        val mk = (1 to nMk).map(i => s"mk$i")
        val mkArr = array(mk.map(lit): _*)
        val mkList = mk.map(w => s"'$w'").mkString("[", ", ", "]")
        Gen(
          l.select(col("id"),
              element_at(mkArr, pmod(col("v"), lit(nMk)) + 1).as("m1"),
              element_at(mkArr, pmod(col("v") + col("k"), lit(nMk)) + 1).as("m2"))
            .groupBy(col("m1"))
            .agg(count(lit(1)).as("n"), count(col("m2")).as("n_m2"),
              min(col("id")).as("min_id")),
          s"""WITH t AS (SELECT id,
             |    list_extract($mkList, ((v % $nMk) + $nMk) % $nMk + 1) AS m1,
             |    list_extract($mkList, (((v + k) % $nMk) + $nMk) % $nMk + 1) AS m2
             |  FROM l)
             |SELECT m1, count(*) AS n, count(m2) AS n_m2, min(id) AS min_id
             |FROM t GROUP BY m1""".stripMargin,
          "element_at_guard")

      case 63 => // STREAMING tumbling-window aggregation (the fuzz lane's
        // streaming dimension, r11 verdict task 7 / r12 task 5): the SAME
        // random query runs as a multi-micro-batch AvailableNow stream
        // over the case's parquet (maxFilesPerTrigger=1 → 3 genuine
        // batches, incremental state merge across them) and as batch SQL
        // in DuckDB. Complete output mode: the final trigger's full result
        // is the batch answer — no watermark-finalization dependence, so
        // the diff is exact. Window start renders via epoch arithmetic on
        // BOTH sides (DuckDB's time_bucket origin is NOT the epoch).
        val w = 1 + rnd.nextInt(360) // minutes
        val wUs = w.toLong * 60 * 1000000
        val byK = rnd.nextBoolean()
        val lPath = l.inputFiles.head.replaceAll("/[^/]*$", "")
        val streamed = graft.streaming.EventStreams.spoolRun(
          l.sparkSession, lPath, outputMode = "complete",
          maxFilesPerTrigger = Some(1)) { src =>
          val keys = window(col("ts"), s"$w minutes") +:
            (if (byK) Seq(col("k")) else Nil)
          src.groupBy(keys: _*)
            .agg(count(lit(1)).as("n"),
              sum(col("dec")).cast("double").as("total"))
            .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
                .as("win_start") +:
              (if (byK) Seq(col("k")) else Nil) :+
              col("n") :+ col("total"): _*)
        }
        Gen(
          streamed,
          s"""SELECT strftime(make_timestamp((epoch_us(ts) // $wUs) * $wUs),
             |    '%Y-%m-%d %H:%M:%S') AS win_start,
             |  ${if (byK) "k, " else ""}count(*) AS n,
             |  CAST(sum(dec) AS DOUBLE) AS total
             |FROM l WHERE ts IS NOT NULL
             |GROUP BY win_start${if (byK) ", k" else ""}""".stripMargin,
          "stream_tumbling")

      case 64 => // STREAMING session windows (gap-merged per key) vs the
        // batch gaps-and-islands rendering: sessions must merge
        // identically across micro-batch boundaries (the state-store merge
        // path) as in one batch pass. Break strictly at diff > gap: an
        // event landing EXACTLY at the previous session's end (prev_ts +
        // gap) still MERGES — Spark coalesces sessions when nextStart <=
        // prevEnd, boundary inclusive. (The first rendering broke at >=
        // and the large-row sweep caught the 1-row split on an exact-gap
        // pair — seed 15037, the kind of boundary the fuzz lane exists
        // for.)
        val g = 1 + rnd.nextInt(300) // minutes
        val lPath = l.inputFiles.head.replaceAll("/[^/]*$", "")
        val streamed = graft.streaming.EventStreams.spoolRun(
          l.sparkSession, lPath, outputMode = "complete",
          maxFilesPerTrigger = Some(1)) { src =>
          src.groupBy(session_window(col("ts"), s"$g minutes"), col("k"))
            .agg(count(lit(1)).as("n"),
              sum(col("dec")).cast("double").as("total"))
            .select(
              date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
                .as("sess_start"),
              date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss")
                .as("sess_end"),
              col("k"), col("n"), col("total"))
        }
        Gen(
          streamed,
          s"""WITH o AS (SELECT k, ts, dec FROM l WHERE ts IS NOT NULL),
             |m AS (SELECT k, ts, dec,
             |    CASE WHEN lag(ts) OVER (PARTITION BY k ORDER BY ts) IS NULL
             |           OR ts - lag(ts) OVER (PARTITION BY k ORDER BY ts)
             |                > INTERVAL '$g minutes'
             |         THEN 1 ELSE 0 END AS brk
             |  FROM o),
             |grp AS (SELECT k, ts, dec,
             |    sum(brk) OVER (PARTITION BY k ORDER BY ts
             |      ROWS UNBOUNDED PRECEDING) AS gid
             |  FROM m)
             |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
             |  strftime(max(ts) + INTERVAL '$g minutes',
             |    '%Y-%m-%d %H:%M:%S') AS sess_end,
             |  k, count(*) AS n, CAST(sum(dec) AS DOUBLE) AS total
             |FROM grp GROUP BY k, gid""".stripMargin,
          "stream_session")

      case 65 => // STREAMING dropDuplicates (append mode, no watermark):
        // each distinct tuple emits exactly once across micro-batches,
        // whichever batch saw it first — as a SET that is exactly batch
        // DISTINCT, which is what the sorted-multiset diff compares.
        val lPath = l.inputFiles.head.replaceAll("/[^/]*$", "")
        val streamed = graft.streaming.EventStreams.spoolRun(
          l.sparkSession, lPath, outputMode = "append",
          maxFilesPerTrigger = Some(1)) { src =>
          src.select(col("k"), col("v"), col("s")).dropDuplicates()
        }
        Gen(
          streamed,
          "SELECT DISTINCT k, v, s FROM l",
          "stream_dedup")

      case 66 => // MergeTable LIFECYCLE → READ-ROUTE differential (r17,
        // VERDICT r16 task 6): a random merge/soft-delete/designation
        // sequence builds a table from l, a MODEL of each committed
        // version is rendered as SQL over the l view, and a random READ
        // ROUTE — readWhere at head, readWhereAt at a historical version,
        // SQL `VERSION AS OF ... WHERE`, or a key-equality point lookup —
        // must match the model exactly. Updates write ABSOLUTE values
        // (v := 10*id + c) so the model composes order-free; soft-delete
        // victims are the engine's own current rows, mirrored as
        // WHERE NOT coalesce(pred, FALSE). Dict/bloom/cluster
        // designations and compaction are drawn too — they must never
        // change ANSWERS, only pruning (wrong-pruning = silent wrong
        // rows, the r16 ADVICE bug class).
        val s = l.sparkSession
        import graft.layout.MergeTable
        val dir = graft.util.Cleanup.registerTempDir(
          java.nio.file.Files.createTempDirectory("fz_mt")).toString + "/t"
        val payload = Seq("id", "k", "v", "d", "dec", "s")
        MergeTable.merge(s, dir,
          l.select(payload.map(col): _*).withColumn("op_flag", lit("create")),
          "id", numBuckets = 4)
        // (version, model SQL over view l) for every committed version
        var states = Vector(
          MergeTable.currentVersion(dir).get ->
            "SELECT id, k, v, d, dec, s FROM l")
        def record(sql: String): Unit =
          states = states :+ (MergeTable.currentVersion(dir).get -> sql)
        if (rnd.nextBoolean()) {
          MergeTable.alterSetDictColumns(dir, Seq("s"))
          record(states.last._2) // metadata-only: same visible state
        }
        if (rnd.nextBoolean()) {
          MergeTable.alterSetParquetBloom(dir, Seq("v"))
          record(states.last._2)
        }
        (0 until 1 + rnd.nextInt(2)).foreach { _ =>
          val m = 2 + rnd.nextInt(2) // id % m = 0 always matches id 0
          val c = rnd.nextInt(7)
          MergeTable.merge(s, dir,
            l.filter(col("id") % m === 0)
              .select(col("id"), col("k"),
                (lit(10) * col("id") + lit(c)).as("v"),
                col("d"), col("dec"), col("s"))
              .withColumn("op_flag", lit("update")), "id")
          record(s"SELECT id, k, CASE WHEN id % $m = 0 THEN 10 * id + $c " +
            s"ELSE v END AS v, d, dec, s FROM (${states.last._2})")
        }
        if (rnd.nextBoolean()) {
          val (delPred, delSql) = rnd.nextInt(3) match {
            case 0 =>
              val c = rnd.nextInt(6); (col("k") === c, s"k = $c")
            case 1 => (col("s") === "alpha", "s = 'alpha'")
            case 2 =>
              val c = rnd.nextInt(200); (col("v") > c, s"v > $c")
          }
          if (MergeTable.softDelete(s, dir, delPred).isDefined)
            record(s"SELECT * FROM (${states.last._2}) " +
              s"WHERE NOT coalesce($delSql, FALSE)")
        }
        if (rnd.nextBoolean()) {
          MergeTable.compact(s, dir,
            clusterBy = if (rnd.nextBoolean()) Some(Seq("v")) else None)
          record(states.last._2)
        }
        val (readPred, readSql) = rnd.nextInt(6) match {
          case 0 => val c = rnd.nextInt(6); (col("k") === c, s"k = $c")
          case 1 => val c = rnd.nextInt(200) - 100; (col("v") > c, s"v > $c")
          case 2 => (col("s") === "alpha", "s = 'alpha'")
          case 3 => (col("s").like("al%"), "s LIKE 'al%'")
          case 4 => val c1 = rnd.nextInt(6); val c2 = rnd.nextInt(6)
            (col("k").isin(c1, c2), s"k IN ($c1, $c2)")
          case 5 => (col("v").isNotNull, "v IS NOT NULL")
        }
        rnd.nextInt(4) match {
          case 0 => // head read through the stats/dict/bloom/key pruners
            Gen(MergeTable.readWhere(s, dir, readPred)
              .select(payload.map(col): _*),
              s"SELECT id, k, v, d, dec, s FROM (${states.last._2}) " +
                s"WHERE $readSql",
              "mt_read_head")
          case 1 => // pruned TIME TRAVEL: historical version's OWN stats
            val (vj, sqlJ) = states(rnd.nextInt(states.size))
            Gen(MergeTable.readWhereAt(s, dir, vj, readPred)
              .select(payload.map(col): _*),
              s"SELECT id, k, v, d, dec, s FROM ($sqlJ) WHERE $readSql",
              "mt_read_at")
          case 2 => // the SQL door: VERSION AS OF ... WHERE
            val (vj, sqlJ) = states(rnd.nextInt(states.size))
            val tn = s"fz_mt_$seed"
            graft.plans.MergeTableSql.register(tn, dir, numBuckets = 4)
            val df = s.sql(s"SELECT id, k, v, d, dec, s FROM $tn " +
              s"VERSION AS OF $vj WHERE $readSql")
            graft.plans.MergeTableSql.unregister(tn)
            Gen(df,
              s"SELECT id, k, v, d, dec, s FROM ($sqlJ) WHERE $readSql",
              "mt_read_sql_asof")
          case 3 => // KEY-equality point lookup (the r16 bucket pruner)
            val c = rnd.nextInt(40 * rowScale)
            Gen(MergeTable.readWhere(s, dir, col("id") === c)
              .select(payload.map(col): _*),
              s"SELECT id, k, v, d, dec, s FROM (${states.last._2}) " +
                s"WHERE id = $c",
              "mt_read_point")
        }

      case 67 => // CLONE-then-DIVERGE differential (r17): fork the table,
        // mutate BOTH sides differently, read BOTH with a discriminator —
        // independence (no leak either way) is part of the diffed answer,
        // under every config dimension the lane runs (codegen-off,
        // AQE-off, shuffle-partitions).
        val s = l.sparkSession
        import graft.layout.MergeTable
        val root = graft.util.Cleanup.registerTempDir(
          java.nio.file.Files.createTempDirectory("fz_cl")).toString
        val src = s"$root/src"; val dst = s"$root/dst"
        val payload = Seq("id", "k", "v", "d", "dec", "s")
        MergeTable.merge(s, src,
          l.select(payload.map(col): _*).withColumn("op_flag", lit("create")),
          "id", numBuckets = 4)
        val c0 = rnd.nextInt(7)
        MergeTable.merge(s, src,
          l.filter(col("id") % 2 === 0)
            .select(col("id"), col("k"),
              (lit(10) * col("id") + lit(c0)).as("v"),
              col("d"), col("dec"), col("s"))
            .withColumn("op_flag", lit("update")), "id")
        val atClone = "SELECT id, k, CASE WHEN id % 2 = 0 THEN " +
          s"10 * id + $c0 ELSE v END AS v, d, dec, s FROM l"
        MergeTable.cloneTable(s, src, dst)
        // diverge: the clone soft-deletes id % 3 = 0 (always non-empty:
        // id 0 exists), the source updates id % 3 = 0 — neither may leak
        MergeTable.softDelete(s, dst, col("id") % 3 === 0)
        val c1 = rnd.nextInt(7)
        MergeTable.merge(s, src,
          l.filter(col("id") % 3 === 0)
            .select(col("id"), col("k"),
              (lit(100) * col("id") + lit(c1)).as("v"),
              col("d"), col("dec"), col("s"))
            .withColumn("op_flag", lit("update")), "id")
        val srcFinal = "SELECT id, k, CASE WHEN id % 3 = 0 THEN " +
          s"100 * id + $c1 ELSE CASE WHEN id % 2 = 0 THEN 10 * id + $c0 " +
          "ELSE v END END AS v, d, dec, s FROM l"
        val dstFinal = s"SELECT * FROM ($atClone) WHERE NOT id % 3 = 0"
        val out = MergeTable.read(s, src).select(payload.map(col): _*)
          .withColumn("side", lit("src"))
          .unionByName(MergeTable.read(s, dst).select(payload.map(col): _*)
            .withColumn("side", lit("clone")))
        Gen(out,
          s"SELECT *, 'src' AS side FROM ($srcFinal) UNION ALL " +
            s"SELECT *, 'clone' AS side FROM ($dstFinal)",
          "mt_clone_diverge")

      case 28 => // the salted skew join vs a PLAIN inner join: the
        // hot/cold decomposition (broadcast hot set, salt×explode the hot
        // slice, anti-join the cold slice, unionByName) must be
        // result-invariant — dup keys multiply, null keys drop, no row
        // lost or doubled at the hot/cold boundary.
        val hotThresh = 1L + rnd.nextInt(4)
        Gen(
          graft.ops.Relational.saltedJoin(l, r, "k", 3, hotThresh),
          """SELECT l.k AS k, l.id, l.v, l.d, l.dec, l.s, l.ts,
            |  r.rid, r.w, r.ws
            |FROM l JOIN r USING (k)""".stripMargin,
          "salted_join")
    }
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_fuzz")
    val nCases = args.lift(1).map(_.toInt).getOrElse(120)
    val baseSeed = args.lift(2).map(_.toInt).getOrElse(1)
    // config-differential knobs: the SAME seeds must produce the SAME
    // results under any engine configuration — a config-dependent
    // divergence (AQE on/off, 1 vs N shuffle partitions) is the scariest
    // wrong-results class, so the lane can re-run under any combination
    val spark = graft.util.SessionTuning.session(
      sys.env.getOrElse("SPARK_GRAFT_FUZZ_CPUS", "8").toInt,
      sys.env.getOrElse("SPARK_GRAFT_FUZZ_SHUFFLE", "8").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // codegen-differential knob: SPARK_GRAFT_FUZZ_CODEGEN=off runs the
    // SAME seeds fully interpreted (no whole-stage codegen, expression
    // factory pinned to NO_CODEGEN). Both modes must match DuckDB, so
    // they transitively must match each other — the lane dimension that
    // catches wrong-results codegen/interpreted divergences like the
    // Spark 4.1.2 element_at(array, null-index) bug this lane found.
    val interpreted = sys.env.get("SPARK_GRAFT_FUZZ_CODEGEN").contains("off")
    Seq(
      "spark.sql.adaptive.enabled" -> sys.env.getOrElse("SPARK_GRAFT_FUZZ_AQE", "true"),
      "spark.sql.codegen.wholeStage" -> (!interpreted).toString,
      "spark.sql.codegen.factoryMode" -> (if (interpreted) "NO_CODEGEN" else "FALLBACK"),
      // write int64 micros, not INT96: identical bits for both readers
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"
    ).foreach { case (k, v) =>
      require(spark.conf.isModifiable(k), s"$k cannot be set on a live session")
      spark.conf.set(k, v)
    }
    val root = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(root)
    var written = 0
    (baseSeed until baseSeed + nCases).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val caseDir = s"$outDir/case%04d".format(seed)
      val lRows = genL(rnd)
      val rRows = genR(rnd)
      spark.createDataFrame(
        spark.sparkContext.parallelize(lRows, 3), lSchema)
        .write.mode("overwrite").parquet(s"$caseDir/l.parquet")
      spark.createDataFrame(
        spark.sparkContext.parallelize(rRows, 3), rSchema)
        .write.mode("overwrite").parquet(s"$caseDir/r.parquet")
      spark.createDataFrame(
        spark.sparkContext.parallelize(genA(rnd), 2), aSchema)
        .write.mode("overwrite").parquet(s"$caseDir/a.parquet")
      // both engines read the parquet back — identical input bits
      val l = spark.read.parquet(s"$caseDir/l.parquet")
      val r = spark.read.parquet(s"$caseDir/r.parquet")
      val a = spark.read.parquet(s"$caseDir/a.parquet")
      val g = genQuery(seed, rnd, l, r, a)
      g.df.coalesce(1).write.mode("overwrite").parquet(s"$caseDir/spark")
      val json =
        s"""{"seed": $seed, "family": "${g.family}",
           | "sql": ${com.fasterxml.jackson.databind.json.JsonMapper.builder()
             .build().writeValueAsString(g.sql)}}""".stripMargin
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$caseDir/case.json"), json.getBytes("UTF-8"))
      written += 1
      if (written % 20 == 0) println(s"[fuzzdump] $written/$nCases cases written")
    }
    println(s"[fuzzdump] DONE: $written cases under $outDir")
    spark.stop()
  }
}
