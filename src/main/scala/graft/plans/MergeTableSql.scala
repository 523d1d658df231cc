package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedFieldName, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{AlterColumns, Assignment, DeleteAction, DeleteFromTable, DropColumns, InsertAction, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, RenameColumn, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StringType}

import graft.layout.MergeTable

/** ANSI `MERGE INTO` and `VERSION AS OF` through the SQL front door — the
  * ⊕K7 Scala API (`MergeTable.merge`/`readAt`/`read`) reachable from
  * verbatim SQL text, completing what F10 proves for SELECT.
  *
  * Spark's parser already produces [[MergeIntoTable]] and
  * [[RelationTimeTravel]] nodes; what Spark lacks (absent a DSv2 catalog
  * with row-level-operation support) is anything to EXECUTE them against.
  * [[MergeTableSql.register]] binds a table name to a MergeTable
  * directory, and [[MergeTableSqlResolution]] (injected by
  * [[graft.GraftExtensions]]) resolves the SQL shapes against it:
  *
  *  - `MERGE INTO t USING s ON t.k1 = s.k1 [AND t.k2 = s.k2 ...] WHEN
  *    MATCHED [AND c] THEN UPDATE SET * | SET a = e, ... | DELETE, WHEN
  *    NOT MATCHED [AND c] THEN INSERT * | (cols) VALUES (...), WHEN NOT
  *    MATCHED BY SOURCE [AND c] THEN DELETE | UPDATE SET ...` →
  *    [[GraftMergeCommand]], which classifies each row against the
  *    current snapshot (first applicable clause per ANSI order;
  *    conditions may reference BOTH sides) and dispatches one op-flagged
  *    batch to [[MergeTable.mergeKeys]]. The ON condition is a
  *    conjunction of target-key = source-key equalities — one per table
  *    key column, composite keys included. The classification read is
  *    pruned to the buckets the source key TUPLES hash into (the same
  *    buckets the merge rewrites) unless a NOT MATCHED BY SOURCE clause
  *    forces a full scan — at 100 TB the MERGE stays delta-proportional.
  *    Serializability: the snapshot version read at classification is
  *    passed as `expectedParent`, so a concurrent commit between
  *    classify and merge CAS-conflicts instead of applying a stale
  *    classification.
  *  - `SELECT ... FROM t VERSION AS OF n` → [[MergeTable.readAt]];
  *    `... FROM t TIMESTAMP AS OF '<ts>'` → [[MergeTable
  *    .readAtTimestamp]] (newest version committed at-or-before the
  *    instant, from the write-once per-version manifest timestamps).
  *  - `SELECT ... FROM t` → [[MergeTable.read]] (current snapshot).
  *  - `DELETE FROM t [WHERE c]` / `UPDATE t SET a = e, ... [WHERE c]` →
  *    [[GraftDmlCommand]] (snapshot-classified op batch, same fence).
  *  - `INSERT INTO t [(cols)] SELECT ...` → [[GraftInsertCommand]]
  *    (insert-only batch — existing keys upsert last-write-wins, the
  *    MergeTable `create`-op semantics); `INSERT OVERWRITE t SELECT ...`
  *    additionally deletes every target key the source does not carry.
  *  - `ALTER TABLE t DROP COLUMN [IF EXISTS] c | RENAME COLUMN a TO b |
  *    ALTER COLUMN c TYPE dt` → [[GraftAlterCommand]] (the metadata-only
  *    evolution commits; names resolve case-insensitively to the
  *    manifest's canonical case, matching Spark's default resolution).
  *  - `DESCRIBE [TABLE] t` → the current logical schema as rows.
  *
  * [[GraftSqlParser]] (also injected) adds the verbs Spark's grammar
  * lacks: `CREATE TABLE t (cols) USING graft LOCATION dir TBLPROPERTIES
  * ('graft.key'='k1[,k2]')` (converted at parse time — no analyzer
  * ordering hazard), `OPTIMIZE t`, `VACUUM t [RETAIN n VERSIONS]`, and
  * `DESCRIBE HISTORY t` — a pure-SQL session can create, load, maintain,
  * and audit a table without touching the Scala API.
  *
  * `MERGE WITH SCHEMA EVOLUTION` carries new source columns into the
  * table via MergeTable's add-column evolution; plain MERGE restricts the
  * payload to the target schema, per the usual MERGE dialect rules. */
object MergeTableSql {

  private val registry = new ConcurrentHashMap[String, (String, Int)]()

  /** Session conf naming the PERSISTENT catalog directory. Unset (the
    * default), name→directory bindings are process-local and die with the
    * JVM — the pre-r15 behavior. Set, [[register]] additionally persists
    * each binding as one atomic file under the directory and [[lookup]]
    * falls back to it, so a NEW session (same conf) resolves previously
    * CREATE'd tables by name with no re-CREATE — the restart gap VERDICT
    * r14 §missing-3 names. One file per table (`tbl_<name>.properties`,
    * tmp-write + ATOMIC_MOVE) means concurrent registrations of DIFFERENT
    * names never contend and re-registration of one name is last-write-
    * wins — exactly the in-memory semantics, no read-modify-write race. */
  val CatalogConf = "spark.graft.catalog"

  private def catalogDir: Option[String] =
    try Option(org.apache.spark.sql.internal.SQLConf.get
        .getConfString(CatalogConf, "")).filter(_.nonEmpty)
    catch { case _: Throwable => None }

  /** Catalog file for `name` (already lowercased). Registered names are
    * SQL identifiers (the parser only produces `[A-Za-z_][A-Za-z0-9_]*`
    * single parts), so the name is filesystem-safe as-is; anything else
    * is rejected rather than escaped. */
  private def catalogFile(root: String, name: String): java.nio.file.Path = {
    require(name.matches("[a-z_][a-z0-9_]*"),
      s"graft catalog: table name '$name' is not a plain SQL identifier")
    java.nio.file.Paths.get(root, s"tbl_$name.properties")
  }

  /** Bind `name` (single-part, case-insensitive) to a MergeTable
    * directory for SQL resolution. `numBuckets` applies only if a MERGE
    * CREATES the table.
    *
    * The in-memory registry is PROCESS-GLOBAL and unscoped: every session
    * built in this JVM resolves the name to the same directory, and
    * re-registering a name repoints all of them (deliberately — a
    * long-lived multi-tenant JVM should [[unregister]] when a binding's
    * owner is done, as the engine's own queries do). With [[CatalogConf]]
    * set, the binding also persists across JVMs. */
  def register(name: String, dir: String, numBuckets: Int = 16): Unit = {
    val key = name.toLowerCase(java.util.Locale.ROOT)
    registry.put(key, (dir, numBuckets))
    catalogDir.foreach { root =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      val pr = new java.util.Properties()
      pr.setProperty("dir", dir)
      pr.setProperty("buckets", numBuckets.toString)
      val tmp = java.nio.file.Files.createTempFile(
        java.nio.file.Paths.get(root), "_reg_tmp_", "")
      val out = java.nio.file.Files.newOutputStream(tmp)
      try pr.store(out, "graft SQL catalog entry") finally out.close()
      java.nio.file.Files.move(tmp, catalogFile(root, key),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    ()
  }

  /** Remove the binding — from this JVM, and from the persistent catalog
    * when one is configured (the name stops resolving for FUTURE sessions
    * too; the table's own directory is untouched). */
  def unregister(name: String): Unit = {
    val key = name.toLowerCase(java.util.Locale.ROOT)
    registry.remove(key)
    catalogDir.foreach(root =>
      java.nio.file.Files.deleteIfExists(catalogFile(root, key)))
    ()
  }

  /** Test-only: drop every in-memory binding WITHOUT touching the
    * persistent catalog — simulates a fresh JVM for restart tests. */
  private[plans] def clearInMemory(): Unit = { registry.clear(); () }

  private[plans] def isEmpty: Boolean = registry.isEmpty && catalogDir.isEmpty

  // ---- SQL table-valued functions (injected by GraftExtensions) ----------

  private def litString(e: Expression, what: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(
        s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got ${other.sql}")
  }

  private def litLong(e: Expression, what: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got ${other.sql}")
  }

  /** Evaluate a literal (string / DATE / TIMESTAMP) to epoch millis under
    * the session timezone — the `TIMESTAMP AS OF` evaluation, shared by
    * the time-travel resolution rule and the timestamp argument forms of
    * the [[changesPlan]]/[[historyPlan]] TVFs. */
  private[plans] def evalTimestampMillis(e: Expression): Long = {
    val cast = org.apache.spark.sql.catalyst.expressions.Cast(e,
      org.apache.spark.sql.types.TimestampType,
      Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
    require(cast.resolved && cast.foldable,
      s"graft TIMESTAMP AS OF needs a literal timestamp, got ${e.sql}")
    val micros = cast.eval(null)
    require(micros != null,
      s"graft TIMESTAMP AS OF: ${e.sql} does not cast to a timestamp")
    Math.floorDiv(micros.asInstanceOf[Long], 1000L)
  }

  /** A TVF boundary argument: an integer literal is a VERSION; a string /
    * DATE / TIMESTAMP literal is a wall-clock instant, resolved through
    * [[MergeTable.versionForTimestamp]] (newest stamped version
    * at-or-before — the `TIMESTAMP AS OF` rule, r15). */
  private def litVersionOrTimestamp(dir: String, e: Expression,
                                    what: String): Long = e match {
    // match on the literal's TYPE, not its runtime class: a TIMESTAMP
    // literal is Literal(micros: Long, TimestampType) — a bare Long match
    // would read its micros as a version number
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int,
        org.apache.spark.sql.types.IntegerType) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long,
        org.apache.spark.sql.types.LongType) => v
    case other if other.foldable =>
      MergeTable.versionForTimestamp(dir, evalTimestampMillis(other))
    case other => throw new IllegalArgumentException(
      s"$what must be an integer version or a timestamp literal, " +
        s"got ${other.sql}")
  }

  private def dirFor(name: String): String =
    lookup(Seq(name)).map(_._1).getOrElse(throw new IllegalArgumentException(
      s"'$name' is not a registered graft MergeTable"))

  /** `SELECT * FROM graft_changes('t', fromV, toV)` — CDC between two
    * committed versions through pure SQL ([[MergeTable.changesBetween]]:
    * manifest-diff pruned to buckets whose owning version changed). Each
    * boundary may be an integer VERSION or a timestamp literal
    * (`graft_changes('t', TIMESTAMP '...', TIMESTAMP '...')` — resolved
    * to the newest stamped version at-or-before the instant), so a change
    * window can be named by wall-clock without reading history first. */
  def changesPlan(args: Seq[Expression]): LogicalPlan = {
    val dir = dirFor(litString(args(0), "graft_changes: table_name"))
    MergeTable.changesBetween(SparkSession.active, dir,
      litVersionOrTimestamp(dir, args(1), "graft_changes: from"),
      litVersionOrTimestamp(dir, args(2), "graft_changes: to"))
      .queryExecution.logical
  }

  /** `SELECT * FROM graft_history('t')` — the commit-history rows, same
    * surface as `DESCRIBE HISTORY t` but composable in a query. The
    * 3-argument form `graft_history('t', from_ts, to_ts)` restricts to
    * commits whose wall-clock falls in [from_ts, to_ts] (timestamp
    * literals; either boundary may also be an integer version) — the
    * audit window query behind "what changed last night". */
  /** `SELECT * FROM graft_rows('t')` — per-bucket live row counts as a
    * relation, answered from the MANIFEST when complete (zero data I/O —
    * `SELECT sum(rows) FROM graft_rows('t')` is the O(1) `count(*)` a
    * 100 TB table wants; [[MergeTable.countRows]] is the Scala form). */
  def rowsPlan(args: Seq[Expression]): LogicalPlan = {
    val dir = dirFor(litString(args.head, "graft_rows: table_name"))
    MergeTable.bucketRowCounts(SparkSession.active, dir)
      .queryExecution.logical
  }

  /** `SELECT * FROM graft_stats('t')` — the manifest's per-bucket column
    * statistics (min/max/null count/row count) as a relation: the
    * operational "would this predicate skip?" diagnostic, answered from
    * the manifest alone (no data I/O). min/max are the recorded string
    * renderings; a column with no recorded bounds (all-null) rows with
    * NULL min/max but a real null count. */
  def statsPlan(args: Seq[Expression]): LogicalPlan = {
    val dir = dirFor(litString(args.head, "graft_stats: table_name"))
    MergeTable.bucketStatsTable(SparkSession.active, dir)
      .queryExecution.logical
  }

  def historyPlan(args: Seq[Expression]): LogicalPlan = {
    val dir = dirFor(litString(args.head, "graft_history: table_name"))
    val h = MergeTable.history(SparkSession.active, dir)
    val windowed =
      if (args.size == 1) h
      else {
        import org.apache.spark.sql.functions.{col, lit, timestamp_millis}
        // a version boundary filters the version column; a timestamp
        // boundary filters the commit wall-clock DIRECTLY (unlike
        // graft_changes, the window must not shift to the newest version
        // at-or-before — "commits between 2am and 3am" means exactly that)
        def bound(e: Expression, what: String,
                  onV: Long => org.apache.spark.sql.Column,
                  onTs: Long => org.apache.spark.sql.Column) = e match {
          // type-matched like litVersionOrTimestamp: a TIMESTAMP literal
          // is Literal(micros: Long, TimestampType), not a version
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int,
              org.apache.spark.sql.types.IntegerType) => onV(v.toLong)
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Long,
              org.apache.spark.sql.types.LongType) => onV(v)
          case other => onTs(evalTimestampMillis(other))
        }
        h.filter(
          bound(args(1), "from", v => col("version") >= lit(v),
            ms => col("committed_at") >= timestamp_millis(lit(ms))) &&
          bound(args(2), "to", v => col("version") <= lit(v),
            ms => col("committed_at") <= timestamp_millis(lit(ms))))
      }
    windowed.queryExecution.logical
  }

  private[plans] def lookup(nameParts: Seq[String]): Option[(String, Int)] =
    nameParts match {
      case Seq(one) =>
        val key = one.toLowerCase(java.util.Locale.ROOT)
        Option(registry.get(key)).orElse(catalogDir
          .filter(_ => key.matches("[a-z_][a-z0-9_]*")) // else not ours
          .flatMap { root =>
            // read-through on every miss, no caching: a PEER session (or
            // JVM) may register or repoint the name at any time, and one
            // driver-side Properties read per unresolved single-part name
            // is parse-time cost only
            val p = catalogFile(root, key)
            if (!java.nio.file.Files.exists(p)) None
            else {
              val pr = new java.util.Properties()
              val in = java.nio.file.Files.newInputStream(p)
              try pr.load(in) finally in.close()
              Some((pr.getProperty("dir"),
                pr.getProperty("buckets", "16").toInt))
            }
          })
      case _ => None
    }
}

/** Resolution rule: rewrites MERGE INTO / VERSION AS OF / plain reads of
  * [[MergeTableSql]]-registered names. Names that an earlier built-in
  * rule already resolved (temp views, catalog tables) never reach this
  * rule unresolved, so registration shadows nothing. */
object MergeTableSqlResolution extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (MergeTableSql.isEmpty) return plan
    plan.resolveOperatorsDown {
      case m: MergeIntoTable =>
        val (alias, nameParts) = stripAlias(m.targetTable)
        MergeTableSql.lookup(nameParts) match {
          case Some((dir, nb)) =>
            GraftMergeCommand(dir, nb, alias.getOrElse(nameParts.last),
              new MergeSqlSpec(m.sourceTable, m.mergeCondition,
                m.matchedActions, m.notMatchedActions,
                m.notMatchedBySourceActions, m.withSchemaEvolution))
          case None => m
        }
      // time travel UNDER a WHERE: the same pruned-scan route as the
      // current-snapshot Filter case below, driven by the HISTORICAL
      // version's own manifest stats (readPrunedAt) — `SELECT ... FROM t
      // VERSION AS OF n WHERE pred` skips stats-proven-empty buckets too
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond,
          RelationTimeTravel(u: UnresolvedRelation, ts, version))
          if MergeTableSql.lookup(u.multipartIdentifier).isDefined =>
        val (dir, _) = MergeTableSql.lookup(u.multipartIdentifier).get
        val v = resolveTravelVersion(dir, ts, version)
        val hint = unqualify(cond, Seq(u.multipartIdentifier.last))
        org.apache.spark.sql.catalyst.plans.logical.Filter(cond,
          SubqueryAlias(u.multipartIdentifier.last,
            MergeTable.readPrunedAt(SparkSession.active, dir, v,
              Bridge.columnOf(hint)).queryExecution.logical))
      case RelationTimeTravel(u: UnresolvedRelation, ts, version)
          if MergeTableSql.lookup(u.multipartIdentifier).isDefined =>
        val (dir, _) = MergeTableSql.lookup(u.multipartIdentifier).get
        val snapshot = MergeTable.readAt(SparkSession.active, dir,
          resolveTravelVersion(dir, ts, version))
        SubqueryAlias(u.multipartIdentifier.last,
          snapshot.queryExecution.logical)
      // INSERT INTO / INSERT OVERWRITE a registered MergeTable: the query
      // stays unresolved inside the opaque spec (the MergeSqlSpec
      // discipline) and resolves in run() against the live snapshot
      case i: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement
          if stripAlias(i.table)._2.nonEmpty &&
            MergeTableSql.lookup(stripAlias(i.table)._2).isDefined =>
        val (_, nameParts) = stripAlias(i.table)
        val (dir, nb) = MergeTableSql.lookup(nameParts).get
        require(i.partitionSpec.isEmpty,
          "graft INSERT: PARTITION clauses do not apply (layout is " +
            "hash-bucketed by key)")
        GraftInsertCommand(dir, nb,
          new InsertSpec(i.query, i.userSpecifiedCols, i.overwrite, i.byName))
      // SELECT ... FROM t [AS a] WHERE pred — the relation routes through
      // readPruned with the WHERE as the pruning hint, so manifest-stats
      // data skipping (the Scala readWhere path, q188) reaches pure SQL:
      // buckets whose recorded min/max prove the predicate empty are never
      // listed. The analyzer's own Filter stays ON TOP and answers the
      // predicate exactly once (stats only prune, never answer).
      // References qualified by this relation's name/alias are unqualified
      // for the driver-side mini-analysis; a hint it cannot analyze
      // (subqueries, unknown columns) simply prunes nothing.
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, child)
          if stripAlias(child)._2.nonEmpty &&
            MergeTableSql.lookup(stripAlias(child)._2).isDefined =>
        val (alias, nameParts) = stripAlias(child)
        val (dir, _) = MergeTableSql.lookup(nameParts).get
        val hint = unqualify(cond, nameParts.last +: alias.toSeq)
        org.apache.spark.sql.catalyst.plans.logical.Filter(cond,
          SubqueryAlias(alias.getOrElse(nameParts.last),
            MergeTable.readPruned(SparkSession.active, dir,
              Bridge.columnOf(hint)).queryExecution.logical))
      case u: UnresolvedRelation
          if MergeTableSql.lookup(u.multipartIdentifier).isDefined =>
        val (dir, _) = MergeTableSql.lookup(u.multipartIdentifier).get
        SubqueryAlias(u.multipartIdentifier.last,
          MergeTable.read(SparkSession.active, dir).queryExecution.logical)
      // DELETE FROM t WHERE cond / UPDATE t SET ... [WHERE cond] — the
      // remaining DML verbs, classified against the current snapshot and
      // committed as one op batch through the same expectedParent fence
      case DeleteFromTable(tgt, cond) if stripAlias(tgt)._2.nonEmpty &&
          MergeTableSql.lookup(stripAlias(tgt)._2).isDefined =>
        val (alias, nameParts) = stripAlias(tgt)
        val (dir, nb) = MergeTableSql.lookup(nameParts).get
        GraftDmlCommand(dir, nb, alias.getOrElse(nameParts.last),
          new DmlSpec(isDelete = true, Nil, Option(cond)))
      case UpdateTable(tgt, assignments, cond) if stripAlias(tgt)._2.nonEmpty &&
          MergeTableSql.lookup(stripAlias(tgt)._2).isDefined =>
        val (alias, nameParts) = stripAlias(tgt)
        val (dir, nb) = MergeTableSql.lookup(nameParts).get
        GraftDmlCommand(dir, nb, alias.getOrElse(nameParts.last),
          new DmlSpec(isDelete = false, assignments, cond))
      // DESCRIBE [TABLE] t → the current logical schema as rows, with the
      // table's key and version in the comment column
      case d: org.apache.spark.sql.catalyst.plans.logical.DescribeRelation =>
        (d.relation match {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
              if MergeTableSql.lookup(u.multipartIdentifier).isDefined =>
            val (dir, _) = MergeTableSql.lookup(u.multipartIdentifier).get
            val m = MergeTable.read(SparkSession.active, dir).schema
            val keys = MergeTable.tableKeys(dir)
            val ver = MergeTable.currentVersion(dir).getOrElse(-1L)
            val rows = m.fields.toSeq.map { f =>
              org.apache.spark.sql.catalyst.InternalRow(
                org.apache.spark.unsafe.types.UTF8String.fromString(f.name),
                org.apache.spark.unsafe.types.UTF8String.fromString(
                  f.dataType.simpleString),
                org.apache.spark.unsafe.types.UTF8String.fromString(
                  (if (keys.contains(f.name)) "key; " else "") +
                    s"graft MergeTable v$ver"))
            }
            Some(org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
              d.output, rows))
          case _ => None
        }).getOrElse(d)
      // ALTER TABLE ... DROP/RENAME/ALTER COLUMN → the metadata-only
      // evolution commits. Field names must be top-level (the hash-bucketed
      // payload is flat); nested paths fail loud below.
      case DropColumns(u: UnresolvedTable, cols, ifExists)
          if MergeTableSql.lookup(u.multipartIdentifier).isDefined =>
        val (dir, _) = MergeTableSql.lookup(u.multipartIdentifier).get
        GraftAlterCommand(dir, cols.map(fieldName).map(c =>
          ("drop", c, "", None)), ifExists)
      case RenameColumn(u: UnresolvedTable, col, newName)
          if MergeTableSql.lookup(u.multipartIdentifier).isDefined =>
        val (dir, _) = MergeTableSql.lookup(u.multipartIdentifier).get
        GraftAlterCommand(dir,
          Seq(("rename", fieldName(col), newName, None)), ifExists = false)
      case AlterColumns(u: UnresolvedTable, specs)
          if MergeTableSql.lookup(u.multipartIdentifier).isDefined =>
        val (dir, _) = MergeTableSql.lookup(u.multipartIdentifier).get
        val ops = specs.map { sp =>
          val to = sp.newDataType.getOrElse(
            throw new UnsupportedOperationException(
              "graft ALTER COLUMN supports TYPE changes only (loss-free " +
                "widening); comments/positions/defaults are not table state " +
                "MergeTable keeps"))
          require(sp.newNullability.isEmpty && sp.newComment.isEmpty &&
            sp.newPosition.isEmpty && sp.newDefaultExpression.isEmpty &&
            !sp.dropDefault,
            "graft ALTER COLUMN supports TYPE changes only")
          ("widen", fieldName(sp.column), "", Some(to))
        }
        GraftAlterCommand(dir, ops, ifExists = false)
    }
  }

  private def fieldName(f: org.apache.spark.sql.catalyst.analysis.FieldName): String =
    f match {
      case UnresolvedFieldName(Seq(one)) => one
      case other => throw new UnsupportedOperationException(
        s"graft ALTER TABLE: nested field ${other.name.mkString(".")} — " +
          "MergeTable payloads are flat")
    }

  /** `TIMESTAMP AS OF` evaluation — shared with the TVF timestamp
    * argument forms ([[MergeTableSql.evalTimestampMillis]]). */
  private def evalTimestampMillis(e: Expression): Long =
    MergeTableSql.evalTimestampMillis(e)

  private def stripAlias(p: LogicalPlan): (Option[String], Seq[String]) =
    p match {
      case SubqueryAlias(id, child) =>
        (Some(id.name), stripAlias(child)._2)
      case u: UnresolvedRelation => (None, u.multipartIdentifier)
      case _ => (None, Nil)
    }

  /** Strip this relation's name/alias qualifier off attribute references
    * so the driver-side pruning mini-analysis (which sees only the bare
    * table schema) can resolve them. */
  private[plans] def unqualify(cond: Expression, names: Seq[String]): Expression = {
    val lower = names.map(_.toLowerCase)
    cond.transform {
      case a: UnresolvedAttribute if a.nameParts.length == 2 &&
          lower.contains(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(Seq(a.nameParts.last))
    }
  }

  /** VERSION AS OF n / TIMESTAMP AS OF ts → the concrete version. */
  private def resolveTravelVersion(dir: String, ts: Option[Expression],
                                   version: Option[String]): Long =
    (ts, version) match {
      case (None, Some(v)) => v.toLong
      case (Some(e), None) =>
        MergeTable.versionForTimestamp(dir, evalTimestampMillis(e))
      case _ => throw new IllegalArgumentException(
        "time travel needs VERSION AS OF n or TIMESTAMP AS OF ts")
    }
}

/** Opaque holder for the MERGE pieces — deliberately NOT a Product of
  * Expressions/plans, so the analyzer neither resolves nor checks them
  * (they resolve inside [[GraftMergeCommand.run]] against the live
  * snapshot). */
final class MergeSqlSpec(val source: LogicalPlan, val condition: Expression,
                         val matched: Seq[MergeAction],
                         val notMatched: Seq[MergeAction],
                         val notMatchedBySource: Seq[MergeAction],
                         val withSchemaEvolution: Boolean) {
  override def toString: String =
    s"MergeSqlSpec(matched=${matched.size}, notMatched=${notMatched.size}, " +
      s"notMatchedBySource=${notMatchedBySource.size})"
}

/** Opaque holder for a DELETE/UPDATE statement's unresolved pieces (the
  * [[MergeSqlSpec]] discipline: not a Product of expressions, so the
  * analyzer leaves them for [[GraftDmlCommand.run]]). */
final class DmlSpec(val isDelete: Boolean, val assignments: Seq[Assignment],
                    val condition: Option[Expression]) {
  override def toString: String =
    if (isDelete) "DmlSpec(DELETE)" else s"DmlSpec(UPDATE ${assignments.size})"
}

/** The eager command `DELETE FROM t WHERE ...` / `UPDATE t SET ... WHERE
  * ...` executes: classify the current snapshot rows under the WHERE
  * condition, emit one op batch (delete, or update with assignments
  * applied — unassigned columns keep their values), and commit through
  * [[MergeTable.merge]] under the same expectedParent serializability
  * fence as SQL MERGE. Only the buckets holding matching keys are
  * rewritten. Output: the committed version (-1 = empty no-op). */
case class GraftDmlCommand(dir: String, numBuckets: Int,
                           targetAlias: String, spec: DmlSpec)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  private val OpCol = "__graft_dml_op"

  override def run(spark: SparkSession): Seq[Row] = {
    val snapVer = MergeTable.currentVersion(dir)
    require(snapVer.isDefined, s"no MergeTable at $dir")
    // r16 merge-on-read DELETE: `SET spark.graft.delete.mode=soft` routes
    // DELETE to deletion vectors — victim keys are tombstoned in
    // delta-sized per-bucket vector files and NO bucket is rewritten
    // (MergeTable.softDelete; the next rewrite of each bucket
    // materializes). The default stays the copy-on-write rewrite below.
    // Same visible semantics either way (a null WHERE is not a match);
    // concurrent writers conflict on the version CAS exactly as here.
    if (spec.isDelete &&
        spark.conf.get("spark.graft.delete.mode", "rewrite") == "soft") {
      val pred = spec.condition
        .map(c => Bridge.columnOf(
          MergeTableSqlResolution.unqualify(c, Seq(targetAlias))))
        .getOrElse(lit(true))
      val v = MergeTable.softDelete(spark, dir, pred)
      return Seq(Row(v.getOrElse(-1L)))
    }
    val keys = MergeTable.tableKeys(dir)
    // the classification read prunes with manifest stats when the WHERE
    // allows it (r16): buckets provably untouched by the predicate are
    // never listed — a selective DELETE/UPDATE's read cost follows its
    // selectivity, not the table. The condition itself still answers.
    val scan = spec.condition match {
      case Some(c) => MergeTable.readPruned(spark, dir, Bridge.columnOf(
        MergeTableSqlResolution.unqualify(c, Seq(targetAlias))))
      case None => MergeTable.read(spark, dir)
    }
    val tgt = scan.alias(targetAlias)
    val hit = spec.condition
      .map(c => tgt.filter(coalesce(Bridge.columnOf(c), lit(false))))
      .getOrElse(tgt)
    val schema = MergeTable.read(spark, dir).schema
    val changes =
      if (spec.isDelete) hit.withColumn(OpCol, lit("delete"))
      else {
        val assigned = spec.assignments.map(a =>
          (a.key match {
            case u: UnresolvedAttribute => u.nameParts.last
            case a: Attribute => a.name
            case other => throw new UnsupportedOperationException(
              s"graft UPDATE: assignment target ${other.sql}")
          }) -> a.value).toMap
        keys.foreach(key =>
          require(!assigned.keys.exists(_.equalsIgnoreCase(key)),
            s"graft UPDATE: cannot assign the key column '$key' (a key " +
              "change is a delete + insert — express it as MERGE)"))
        hit.select(schema.fields.toSeq.map { f =>
          assigned.find(_._1.equalsIgnoreCase(f.name))
            .map { case (_, v) => Bridge.columnOf(v).cast(f.dataType).as(f.name) }
            .getOrElse(col(f.name))
        } :+ lit("update").as(OpCol): _*)
      }
    val v = MergeTable.mergeKeys(spark, dir, changes, keys, opCol = OpCol,
      numBuckets = numBuckets, expectedParent = Some(snapVer))
    Seq(Row(v.getOrElse(-1L)))
  }
}

/** Opaque holder for an INSERT INTO / INSERT OVERWRITE statement's
  * unresolved query (the [[MergeSqlSpec]] discipline). */
final class InsertSpec(val query: LogicalPlan,
                       val userCols: Seq[String],
                       val overwrite: Boolean,
                       val byName: Boolean) {
  override def toString: String =
    s"InsertSpec(overwrite=$overwrite, cols=${userCols.mkString(",")})"
}

/** The eager command `INSERT INTO t [(cols)] SELECT ...` executes: map
  * the query output to the table schema (positionally, by the explicit
  * column list, or BY NAME), store-assignment cast, and commit one
  * `create`-op batch — existing keys upsert last-write-wins (MergeTable's
  * create-on-matched semantics), duplicate keys WITHIN the batch are the
  * usual ANSI error. `INSERT OVERWRITE` additionally deletes every
  * target key the source does not carry (classified with one pruned-free
  * full-outer pass, the NOT MATCHED BY SOURCE shape). Output: the
  * committed version. */
case class GraftInsertCommand(dir: String, numBuckets: Int, spec: InsertSpec)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  private val OpCol = "__graft_insert_op"

  override def run(spark: SparkSession): Seq[Row] = {
    val snapVer = MergeTable.currentVersion(dir)
    require(snapVer.isDefined,
      s"no MergeTable at $dir — CREATE TABLE ... USING graft first " +
        "(or create it with a MERGE INTO whose NOT MATCHED clause inserts)")
    val keys = MergeTable.tableKeys(dir)
    val schema = MergeTable.read(spark, dir).schema
    val src0 = Bridge.ofRows(spark, spec.query)
    val srcNames = src0.columns.toSeq
    // a query output column may be named after its expression text
    // ("9.5", "count(*)") — rename positionally to reference-safe names
    // before selecting, so no name ever re-parses as a field path
    val src = src0.toDF(srcNames.indices.map(i => s"__src_c$i"): _*)
    val mapped: DataFrame =
      if (spec.byName || spec.userCols.nonEmpty) {
        val srcIdxFor: String => Option[Int] =
          if (spec.userCols.nonEmpty) {
            // INSERT INTO t (c1, c2, ...): the list names target columns,
            // positionally matching the query output
            require(spec.userCols.size == srcNames.length,
              s"graft INSERT: column list names ${spec.userCols.size} " +
                s"columns but the query produces ${srcNames.length}")
            (t: String) => spec.userCols.zipWithIndex.collectFirst {
              case (u, i) if u.equalsIgnoreCase(t) => i }
          } else (t: String) => srcNames.zipWithIndex.collectFirst {
            case (s, i) if s.equalsIgnoreCase(t) => i }
        // every NAME the statement carries must hit a real target column —
        // a typo'd column-list entry or BY NAME source column that matches
        // nothing would otherwise be silently dropped and the real target
        // column null-filled (silent data loss); fail loudly like the key
        // check below does
        val unknown =
          (if (spec.userCols.nonEmpty) spec.userCols else srcNames)
            .filterNot(n => schema.fieldNames.exists(_.equalsIgnoreCase(n)))
        require(unknown.isEmpty,
          s"graft INSERT: column(s) ${unknown.mkString(", ")} do not " +
            s"exist in the table (${schema.fieldNames.mkString(", ")})")
        keys.foreach(k => require(srcIdxFor(k).isDefined,
          s"graft INSERT: key column '$k' missing from the insert"))
        src.select(schema.fields.toSeq.map { f =>
          srcIdxFor(f.name)
            .map(i => col(s"__src_c$i").cast(f.dataType).as(f.name))
            .getOrElse(lit(null).cast(f.dataType).as(f.name))
        }: _*)
      } else {
        require(srcNames.length == schema.fields.length,
          s"graft INSERT: table has ${schema.fields.length} columns but " +
            s"the query produces ${srcNames.length} — list target " +
            "columns explicitly to insert a subset")
        src.select(schema.fields.toSeq.zipWithIndex.map {
          case (f, i) => col(s"__src_c$i").cast(f.dataType).as(f.name)
        }: _*)
      }
    val changes =
      if (!spec.overwrite) mapped.withColumn(OpCol, lit("create"))
      else {
        // OVERWRITE = replace the table contents: source rows insert, and
        // every live key absent from the source deletes (left-anti on the
        // key tuple; the merge itself then rewrites only touched buckets
        // — for an overwrite that is naturally most of them). The mapped
        // source is materialized ONCE (the mergeKeys checkpoint
        // discipline): it feeds both the anti-join's key set and the
        // insert rows, and a non-deterministic source query evaluated
        // twice could delete keys the insert side then re-produces (or
        // keep rows the anti-join never saw).
        val mappedOnce = mapped.transform(graft.util.Cleanup.checkpoint(_))
        val live = MergeTable.read(spark, dir)
        val srcKeys = mappedOnce.select(keys.map(col): _*)
        val gone = live.join(srcKeys,
          keys.map(k => live(k) === srcKeys(k)).reduce(_ && _), "left_anti")
        mappedOnce.withColumn(OpCol, lit("create"))
          .unionByName(gone.withColumn(OpCol, lit("delete")))
      }
    val v = MergeTable.mergeKeys(spark, dir, changes, keys, opCol = OpCol,
      numBuckets = numBuckets, expectedParent = Some(snapVer))
    Seq(Row(v.getOrElse(-1L)))
  }
}

/** The eager command an ALTER TABLE statement over a registered
  * MergeTable executes: each op is ("drop"|"rename"|"widen", column,
  * newName, newType), applied in order as metadata-only evolution
  * commits. Output: the final committed version. */
case class GraftAlterCommand(dir: String,
                             ops: Seq[(String, String, String, Option[org.apache.spark.sql.types.DataType])],
                             ifExists: Boolean)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  /** The user-typed name resolved to the manifest's canonical-case column
    * (Spark's default resolution is case-insensitive; MergeTable's alter*
    * methods take the stored exact name). Unmatched names pass through
    * unchanged so alter* raises its own no-such-column error. Re-read per
    * op — an earlier op in the same statement may have renamed/dropped. */
  private def canonical(spark: SparkSession, c: String): String =
    MergeTable.read(spark, dir).columns
      .find(_.equalsIgnoreCase(c)).getOrElse(c)

  override def run(spark: SparkSession): Seq[Row] = {
    val versions = ops.map {
      case ("drop", c, _, _) =>
        if (ifExists && !MergeTable.read(spark, dir).columns
            .exists(_.equalsIgnoreCase(c))) -1L
        else MergeTable.alterDropColumn(dir, canonical(spark, c))
      case ("rename", from, to, _) =>
        MergeTable.alterRenameColumn(dir, canonical(spark, from), to)
      case ("widen", c, _, Some(to)) =>
        MergeTable.alterWidenColumn(dir, canonical(spark, c), to)
      case other => throw new IllegalStateException(s"bad alter op $other")
    }
    Seq(Row(versions.max))
  }
}

/** The eager command `spark.sql("MERGE INTO ...")` executes. Output is
  * one row: the committed MergeTable version. */
case class GraftMergeCommand(dir: String, numBuckets: Int,
                             targetAlias: String, spec: MergeSqlSpec)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  private val OpCol = "__graft_merge_op"
  private val SrcMark = "__graft_src_present"
  private val TgtMark = "__graft_tgt_present"

  override def run(spark: SparkSession): Seq[Row] = {
    val src = Bridge.ofRows(spark, spec.source)
    val onPairs = keyPairs(src)
    val snapVer = MergeTable.currentVersion(dir)
    // ON-conjunct order is SYNTAX, not layout: against an existing table
    // the pairs canonicalize to the manifest's key order and case (ANSI
    // conjunction is commutative — `ON t.k2 = s.k2 AND t.k1 = s.k1` must
    // hash and validate identically to the declared order). Only the
    // first commit, where the statement DEFINES the layout, keeps ON
    // order.
    val pairs = snapVer match {
      case None => onPairs
      case Some(_) =>
        val tks = MergeTable.tableKeys(dir)
        require(tks.size == onPairs.size &&
            tks.forall(k => onPairs.exists(_._1.equalsIgnoreCase(k))),
          s"graft MERGE INTO: ON keys (${onPairs.map(_._1).mkString(", ")}) " +
            s"do not match the table's keys (${tks.mkString(", ")})")
        tks.map { k =>
          (k, onPairs.find(_._1.equalsIgnoreCase(k)).get._2)
        }
    }
    val changes = snapVer match {
      case None => classifyFirstCommit(src, pairs)
      case Some(_) => classifyAgainstSnapshot(spark, src, pairs)
    }
    val v = MergeTable.mergeKeys(spark, dir, changes, pairs.map(_._1),
      opCol = OpCol, numBuckets = numBuckets, expectedParent = Some(snapVer))
    Seq(Row(v.getOrElse(-1L)))
  }

  // ---- ON condition: conjunction of target-key = source-key equalities ----

  /** (targetKey, sourceKey) per ON equality, in ON order — one pair is
    * the classic single-key MERGE, more is a composite key. Each conjunct
    * must be one target-column = source-column equality; anything else
    * (OR, non-equality, expressions over columns) is rejected loudly. */
  private def keyPairs(src: DataFrame): Seq[(String, String)] = {
    val sAlias: Option[String] = spec.source match {
      case SubqueryAlias(id, _) => Some(id.name.toLowerCase(java.util.Locale.ROOT))
      case _ => None
    }
    val tAlias = targetAlias.toLowerCase(java.util.Locale.ROOT)
    def side(a: UnresolvedAttribute): (Option[String], String) =
      a.nameParts match {
        case Seq(q, c) => (Some(q.toLowerCase(java.util.Locale.ROOT)), c)
        case Seq(c) => (None, c)
        case other => unsupported(s"qualified name ${other.mkString(".")}")
      }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val pairs = conjuncts(spec.condition).map {
      case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute) =>
        (side(l), side(r)) match {
          case ((Some(`tAlias`), tc), (_, sc)) => (tc, sc)
          case ((_, sc), (Some(`tAlias`), tc)) => (tc, sc)
          case ((None, lc), (None, rc)) if sAlias.isEmpty || lc == rc =>
            // unqualified both sides: only the same-name shape is unambiguous
            if (lc == rc) (lc, rc)
            else unsupported(s"ambiguous unqualified ON $lc = $rc")
          case ((Some(q), lc), (None, rc)) if sAlias.contains(q) => (rc, lc)
          case ((None, lc), (Some(q), rc)) if sAlias.contains(q) => (lc, rc)
          case other => unsupported(s"ON condition sides $other")
        }
      case other => unsupported(
        s"ON conjunct ${other.sql}; graft MERGE requires target-key = " +
          "source-key equalities (AND-ed for a composite key)")
    }
    require(pairs.map(_._1.toLowerCase(java.util.Locale.ROOT)).distinct.size
        == pairs.size,
      s"graft MERGE INTO: duplicate target key in ON " +
        pairs.map { case (t, s) => s"$t = $s" }.mkString(", "))
    pairs
  }

  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft MERGE INTO: unsupported $what")

  // ---- clause machinery ----------------------------------------------------

  private def condColumn(a: MergeAction): Column =
    a.condition.map(e => coalesce(Bridge.columnOf(e), lit(false)))
      .getOrElse(lit(true))

  /** First-applicable-clause index per ANSI order; -1 = no clause fires
    * (the row is left alone). */
  private def clauseIdx(actions: Seq[MergeAction]): Column =
    actions.zipWithIndex.foldRight(lit(-1)) { case ((a, i), rest) =>
      when(condColumn(a), lit(i)).otherwise(rest)
    }

  private def opFor(a: MergeAction): String = a match {
    case _: DeleteAction => "delete"
    case _: UpdateAction | _: UpdateStarAction => "update"
    case _: InsertAction | _: InsertStarAction => "create"
    case other => unsupported(s"merge action $other")
  }

  private def opChain(actions: Seq[MergeAction], idx: Column): Column =
    actions.zipWithIndex.foldRight(lit(null).cast(StringType)) {
      case ((a, i), rest) => when(idx === i, lit(opFor(a))).otherwise(rest)
    }

  private def lastName(e: Expression): String = e match {
    case a: UnresolvedAttribute => a.nameParts.last
    case a: Attribute => a.name
    case other => unsupported(s"assignment target ${other.sql}")
  }

  private def assignValue(assigns: Seq[Assignment], c: String,
                          default: Column): Column =
    assigns.find(a => lastName(a.key).equalsIgnoreCase(c))
      .map(a => Bridge.columnOf(a.value)).getOrElse(default)

  /** Payload value of column `c` under the winning clause of one section.
    * `starVal` is the SET * / INSERT * source value; `keepVal` what an
    * unassigned / deleted row carries (target value, or null for
    * inserts). */
  private def sectionValue(actions: Seq[MergeAction], idx: Column, c: String,
                           starVal: Column, keepVal: Column): Column =
    actions.zipWithIndex.foldRight(keepVal) { case ((a, i), rest) =>
      val v = a match {
        case UpdateAction(_, as, _) => assignValue(as, c, keepVal)
        case _: UpdateStarAction => starVal
        case _: DeleteAction => keepVal
        case InsertAction(_, as) => assignValue(as, c, lit(null))
        case _: InsertStarAction => starVal
        case other => unsupported(s"merge action $other")
      }
      when(idx === i, v).otherwise(rest)
    }

  // ---- classification ------------------------------------------------------

  /** No table yet: every source row is NOT MATCHED; only the insert
    * section can apply. Defines the table schema: source columns for
    * INSERT *, the assigned columns for INSERT (cols) VALUES. */
  private def classifyFirstCommit(src: DataFrame,
                                  pairs: Seq[(String, String)]): DataFrame = {
    require(spec.notMatched.nonEmpty,
      s"MERGE INTO $dir: no table exists yet and the statement has no " +
        "WHEN NOT MATCHED THEN INSERT clause")
    val idx = clauseIdx(spec.notMatched)
    val tKeyFor = (c: String) =>
      pairs.collectFirst { case (t, s) if s.equalsIgnoreCase(c) => t }
    val sKeyFor = (c: String) =>
      pairs.collectFirst { case (t, s) if t.equalsIgnoreCase(c) => s }
    val payload: Seq[String] =
      if (spec.notMatched.exists(_.isInstanceOf[InsertStarAction]))
        src.columns.toSeq.map(c => tKeyFor(c).getOrElse(c))
      else spec.notMatched.collect { case InsertAction(_, as) =>
        as.map(a => lastName(a.key))
      }.flatten.distinct
    val srcVal = (c: String) => sKeyFor(c) match {
      case Some(s) => src(s)
      case None =>
        if (src.columns.exists(_.equalsIgnoreCase(c))) src(c) else lit(null)
    }
    src
      .select(payload.map(c =>
        sectionValue(spec.notMatched, idx, c, srcVal(c), lit(null)).as(c)) :+
        opChain(spec.notMatched, idx).as(OpCol): _*)
      .filter(col(OpCol).isNotNull)
  }

  /** Live table: join source to the snapshot on the ON condition and
    * classify each row into its ANSI section — matched, not-matched (by
    * target), not-matched-by-source — evaluating clause conditions with
    * both sides in scope. */
  private def classifyAgainstSnapshot(spark: SparkSession, src: DataFrame,
                                      pairs: Seq[(String, String)]): DataFrame = {
    val nmbs = spec.notMatchedBySource
    val sKeyFor = (c: String) =>
      pairs.collectFirst { case (t, s) if t.equalsIgnoreCase(c) => s }
    val tgt0 =
      if (nmbs.nonEmpty) MergeTable.read(spark, dir) // must see EVERY target row
      else MergeTable.readForKeys(spark, dir,
        src.select(pairs.map { case (_, s) => src(s) }: _*))
    val tgtCols = tgt0.columns.toSeq
    val extra =
      if (spec.withSchemaEvolution)
        src.columns.toSeq.filterNot(c => sKeyFor(c).isDefined ||
          pairs.exists(_._2.equalsIgnoreCase(c)) ||
          tgtCols.exists(_.equalsIgnoreCase(c)))
      else Nil
    val payload = tgtCols ++ extra
    val srcP = src.withColumn(SrcMark, lit(true))
    val tgtP = tgt0.alias(targetAlias).withColumn(TgtMark, lit(true))
    val joinType = if (nmbs.nonEmpty) "full_outer" else "left_outer"
    val joined = srcP.join(tgtP, Bridge.columnOf(spec.condition), joinType)

    val matched = coalesce(col(SrcMark), lit(false)) &&
      coalesce(col(TgtMark), lit(false))
    val srcOnly = coalesce(col(SrcMark), lit(false)) &&
      !coalesce(col(TgtMark), lit(false))
    val mIdx = clauseIdx(spec.matched)
    val nmIdx = clauseIdx(spec.notMatched)
    val nmbsIdx = clauseIdx(nmbs)
    val op = when(matched, opChain(spec.matched, mIdx))
      .when(srcOnly, opChain(spec.notMatched, nmIdx))
      .otherwise(opChain(nmbs, nmbsIdx))

    val srcVal = (c: String) => sKeyFor(c) match {
      case Some(s) => srcP(s)
      case None =>
        if (src.columns.exists(_.equalsIgnoreCase(c))) srcP(c) else lit(null)
    }
    val tgtVal = (c: String) =>
      if (tgtCols.exists(_.equalsIgnoreCase(c))) tgtP(c) else lit(null)
    val value = (c: String) => {
      val raw = when(matched,
          sectionValue(spec.matched, mIdx, c, srcVal(c), tgtVal(c)))
        .when(srcOnly,
          sectionValue(spec.notMatched, nmIdx, c, srcVal(c), lit(null)))
        .otherwise(sectionValue(nmbs, nmbsIdx, c, lit(null), tgtVal(c)))
      // store-assignment cast to the target column's type (ANSI MERGE
      // casts on write); evolution columns keep their source type
      tgt0.schema.fields.find(_.name.equalsIgnoreCase(c))
        .map(f => raw.cast(f.dataType)).getOrElse(raw)
    }
    joined
      .select(payload.map(c => value(c).as(c)) :+ op.as(OpCol): _*)
      .filter(col(OpCol).isNotNull)
  }
}
