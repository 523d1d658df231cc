package graft.layout

import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Optimistic-concurrency commits for MAINTAINED hive layouts, with
  * READER SNAPSHOT ISOLATION. [[graft.sim.Similarity.ivfUpsertLayout]]
  * and [[graft.text.TextAnalysis.indexUpsertLayout]] commit through it.
  * Every commit runs the shared [[CommitLog]] protocol: the replacement
  * partitions of every touched subtree stage under `_lstage_v<n>_<uuid8>`,
  * the claim is the immutable `_layout_commit_v<n>` file (stage name, per
  * group partition column, touched partitions, deletions and schema),
  * publish renames the whole stage to the IMMUTABLE version dir `_lv<n>`,
  * and the pointer swap installs a new `_layout_version`. The loser of a
  * claim gets [[LayoutTxn.ConflictException]] (retry = re-run the upsert
  * against the new current version; it re-reads the committed layout, so
  * its delta composes). What differs from [[MergeTable]]:
  *
  *  - **The partition→owner map.** `_layout_version` is not the claim
  *    verbatim but the parent state repointed by it: per sub, each
  *    partition maps to the version dir(s) that last wrote it (version 0 =
  *    the plain hive dirs a full rebuild leaves at the root). Untouched
  *    partitions keep their entry; touched partitions with no surviving
  *    rows leave the map. The state also carries a random COMMIT ID
  *    (unique per published commit — a full rebuild restarts version
  *    numbers, never ids, so it is the safe key for per-snapshot memos)
  *    and, per sub, the schema each LIVE owning version wrote
  *    (`sub.<i>.owner.<v>`, from the claim's group schema; entries leave
  *    with their owner). [[readSnapshot]] hands each owner's scan that
  *    schema, so reads plan without a footer inference job; root
  *    (version 0) owners still infer.
  *  - **Roll-forward grace.** [[begin]] rolls a dead writer's claim
  *    forward, but a claim younger than its grace conflicts rather than
  *    racing a live writer's publish; the same grace protects in-flight
  *    stages from the orphan sweep.
  *
  * **Reader snapshot isolation (r15).** [[resolve]]/[[readLayout]]
  * resolve the version file ONCE and then read only immutable
  * directories — `_lv<k>` dirs' data files are never modified after
  * their rename, root dirs' never after the version file exists (commits
  * only repoint the map; the single sanctioned in-place write is the
  * `_`-prefixed `_superseded` reclamation marker, invisible to every
  * read). A reader overlapping any number of commits
  * sees exactly the partition set of the version it resolved — never a
  * mix (LayoutIsolationSpec). Superseded version dirs are reclaimed in
  * TWO phases by [[begin]]: a dir whose partitions are all unreferenced
  * is first TOMBSTONED (`_superseded` marker) and only deleted once the
  * marker is idle past the grace window — a reader that resolved within
  * the grace period keeps its snapshot on disk (reads longer than the
  * grace window are out of contract, the standard retention rule).
  */
object LayoutTxn {

  /** Another writer holds or won the commit for the version this writer
    * targeted. The layout is intact; re-run the upsert against the new
    * current version (caller policy, same as [[MergeTable]]). */
  final class ConflictException(dir: String, version: Long, why: String)
    extends RuntimeException(
      s"concurrent layout commit at $dir: version $version $why; " +
        "re-read the layout and retry the upsert")

  /** A claimed layout commit whose staged data AND published `_lv<n>`
    * dir are both missing — the staged data no longer exists anywhere
    * (e.g. the stage was swept while the writer stalled past grace
    * between staging and claiming). The claim is withdrawn before this
    * is thrown so the layout heals: the next writer re-claims the
    * version cleanly — the [[MergeTable.LostCommitException]] discipline
    * at the layout layer. Unlike r11's per-partition swap there is NO
    * torn-state residue: the layout still reads as the parent version. */
  final class LostLayoutCommitException(dir: String, version: Long,
                                        stage: String)
    extends RuntimeException(
      s"layout commit v$version at $dir is unrecoverable: its staged dir " +
        s"'$stage' and published _lv$version dir are both missing (the " +
        "stage was likely swept while the writer stalled); the claim was " +
        "withdrawn — the interrupted upsert must be re-run")

  /** One partitioned subtree participating in a commit. `sub` is the
    * subtree below the layout root ("" = the root itself, e.g. the
    * `_docmap` doc store rides the same commit as its postings).
    * `touched` are partition DIR names ("cell=3"); partitions in
    * `touched` with no rows in `replacement` are deleted at swap.
    * Partition dir names may not contain ',' or ':' or '|' (map
    * encoding).
    *
    * `append = true` (r18) makes the group an APPEND-RUN commit: the
    * written partitions become an ADDITIONAL run of each partition
    * (newest last) instead of replacing it — the merge-on-read mechanic
    * at the layout tier. Reads union a partition's runs; a later
    * REPLACE of the partition (delete / rescale / compactStale)
    * materializes its runs back to one. Pure-append maintenance (the
    * dedup ingest contract: batch ids are NEW) then writes O(batch)
    * bytes instead of rewriting whole touched partitions. Append groups
    * have no deletion semantics: a touched partition the replacement
    * produced no rows for simply isn't appended. */
  case class Group(sub: String, replacement: DataFrame, partCol: String,
                   sortCols: Seq[String], touched: Seq[String],
                   append: Boolean = false)

  private val Tombstone = "_superseded"
  private def subRoot(base: Path, sub: String): Path =
    if (sub.isEmpty) base else base.resolve(sub)

  /** The version file's content: version, commit ts, and the per-sub
    * partition→owning-version map ([[resolve]]'s input). A layout with
    * no version file is pre-protocol / freshly rebuilt: version 0, no
    * map — every sub root-lists. */
  private case class VersionState(version: Long, ts: Long,
                                  maps: Map[String, (String, Map[String, Seq[Long]])],
                                  batchId: Long = -1L,
                                  props: Map[String, String] = Map.empty,
                                  schemas: Map[String, String] = Map.empty,
                                  commitId: Option[String] = None,
                                  ownerSchemas: Map[(String, Long), String] = Map.empty) {
    // maps: sub -> (partCol, partName -> owning RUN versions, oldest
    // first; one element = the classic replace form, several = append
    // runs a read unions (r18))
    // schemas: sub -> last committed replacement schema (DDL) — what lets
    // a sub EMPTIED by deletes still read as a typed empty relation
    // commitId: random per published commit — unlike the version, never
    // reused after a full rebuild restarts the history at 0
    // ownerSchemas: (sub, owning version) -> the schema (DDL) that commit
    // wrote the sub with, for every live owner but root (version 0)
  }

  private val PropPrefix = "prop."
  /** `sub.<i>.owner.<v>` — the schema owner `v` wrote sub `i` with. */
  private val OwnerKey = """sub\.(\d+)\.owner\.(\d+)""".r

  private def propsOf(pr: Properties): Map[String, String] = {
    val it = pr.stringPropertyNames().iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) {
      val k = it.next()
      if (k.startsWith(PropPrefix))
        b += k.stripPrefix(PropPrefix) -> pr.getProperty(k)
    }
    b.result()
  }

  private def readState(dir: String): Option[VersionState] = {
    val p = Log.pointerPath(dir)
    if (!Files.exists(p)) None
    else {
      val pr = CommitLog.load(p)
      val nSubs = pr.getProperty("subs", "0").toInt
      val maps = (0 until nSubs).map { i =>
        val sub = pr.getProperty(s"sub.$i.name")
        val pc = pr.getProperty(s"sub.$i.partcol")
        val m = pr.getProperty(s"sub.$i.map", "") match {
          case "" => Map.empty[String, Seq[Long]]
          case s => s.split(",").iterator.map { ent =>
            val idx = ent.lastIndexOf(':')
            ent.substring(0, idx) ->
              ent.substring(idx + 1).split('|').toSeq.map(_.toLong)
          }.toMap
        }
        sub -> (pc, m)
      }.toMap
      val schemas = (0 until nSubs).flatMap { i =>
        Option(pr.getProperty(s"sub.$i.schema"))
          .map(pr.getProperty(s"sub.$i.name") -> _)
      }.toMap
      val ownerSchemas = pr.stringPropertyNames().iterator().asScala
        .collect { case k @ OwnerKey(i, v) =>
          (pr.getProperty(s"sub.$i.name"), v.toLong) -> pr.getProperty(k)
        }.toMap
      Some(VersionState(pr.getProperty("version").toLong,
        Option(pr.getProperty("ts")).map(_.toLong).getOrElse(0L), maps,
        Option(pr.getProperty("batchId")).map(_.toLong).getOrElse(-1L),
        propsOf(pr), schemas, Option(pr.getProperty("commit")),
        ownerSchemas))
    }
  }

  /** One resolved view of a layout: version, replay watermark, the
    * commit-carried layout properties, and the partition→owning-version
    * maps — captured in ONE version-file read (r18). A reader that needs
    * a layout FACT (e.g. its partition count) AND its partition set must
    * take one snapshot and use it for both: reading them separately races
    * a concurrent [[rescale-style|commit]] that changes the fact and the
    * partitions together, and a count paired with the other snapshot's
    * dirs probes partitions that don't exist — silently empty results. */
  final case class LayoutSnapshot(
      dir: String, version: Long, batchId: Long,
      props: Map[String, String],
      private[layout] val maps: Map[String, (String, Map[String, Seq[Long]])],
      private[layout] val schemas: Map[String, String] = Map.empty,
      commitId: Option[String] = None,
      ownerSchemas: Map[(String, Long), String] = Map.empty)

  /** Capture the current committed snapshot of `dir` in one read. A
    * pre-protocol layout (no version file) snapshots as version 0 with
    * no props — its subs root-list at read time (the root dirs are
    * immutable from the first commit onward, same contract as before). */
  def snapshot(dir: String): LayoutSnapshot =
    readState(dir) match {
      case Some(st) =>
        LayoutSnapshot(dir, st.version, st.batchId, st.props, st.maps,
          st.schemas, st.commitId, st.ownerSchemas)
      case None => LayoutSnapshot(dir, 0L, -1L, Map.empty, Map.empty)
    }

  /** The current layout properties (commit-carried, monotone-merged). */
  def currentProps(dir: String): Map[String, String] =
    readState(dir).map(_.props).getOrElse(Map.empty)

  /** Highest streaming batchId any commit recorded (monotone — a
    * non-stream commit between micro-batches never lowers it), -1 if none
    * — the [[graft.layout.MergeTable.lastBatchId]] exactly-once replay
    * discipline at the layout layer (r16): a foreachBatch sink skips any
    * batch at-or-below this whole. */
  def lastBatchId(dir: String): Long =
    readState(dir).map(_.batchId).getOrElse(-1L)

  /** Current committed version; 0 for a layout that predates the protocol
    * (or was just [re]built whole — full builds wipe the dir, version
    * state included, and restart history). */
  def currentVersion(dir: String): Long =
    readState(dir).map(_.version).getOrElse(0L)

  /** (version, commit wall-clock millis) of the current layout commit —
    * the MergeTable manifest-timestamp discipline at the layout layer
    * (r14). ts = 0 for pre-protocol or freshly rebuilt layouts. */
  def currentVersionInfo(dir: String): (Long, Long) =
    readState(dir).map(s => (s.version, s.ts)).getOrElse((0L, 0L))

  /** List the root hive partitions of one subtree (the version-0 /
    * pre-protocol layout form). */
  private def rootParts(dir: String, sub: String, partCol: String): Seq[String] =
    Option(subRoot(Paths.get(dir), sub).toFile.listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith(s"$partCol="))
      .map(_.getName).sorted

  /** The current snapshot's concrete partition directories for one
    * subtree: (partition dir name, absolute path), resolved ONCE from
    * the version file — each path is immutable (a root dir the protocol
    * never mutates, or an `_lv<k>` version dir). `partCol` is only used
    * for the pre-protocol root-listing fallback. */
  def resolve(dir: String, sub: String, partCol: String)
      : Seq[(String, String)] =
    resolveSnapshot(snapshot(dir), sub, partCol)

  /** [[resolve]] against an already-captured [[LayoutSnapshot]] — no
    * version-file re-read, so facts and partitions stay one snapshot. */
  def resolveSnapshot(snap: LayoutSnapshot, sub: String, partCol: String)
      : Seq[(String, String)] =
    resolveOwned(snap, sub, partCol).map { case (p, _, path) => p -> path }

  /** [[resolveSnapshot]] with each path's owning version (0 = root). */
  private def resolveOwned(snap: LayoutSnapshot, sub: String, partCol: String)
      : Seq[(String, Long, String)] = {
    val dir = snap.dir
    snap.maps.get(sub) match {
      case None => // pre-protocol layout (or sub never committed): root
        rootParts(dir, sub, partCol)
          .map(p => (p, 0L, subRoot(Paths.get(dir), sub).resolve(p).toString))
      case Some((_, m)) =>
        // one entry PER RUN: a multi-run partition resolves to several
        // immutable dirs and a read unions them (newest-last order is
        // irrelevant to the flat row sets the append form is for)
        m.toSeq.sortBy(_._1).flatMap { case (p, vs) =>
          vs.map { v =>
            val base = if (v == 0L) subRoot(Paths.get(dir), sub)
              else subRoot(Log.versionDir(dir, v), sub)
            (p, v, base.resolve(p).toString)
          }
        }
    }
  }

  /** Snapshot-isolated read of one subtree, optionally restricted to a
    * partition subset (`only` = partition dir names, e.g. "cell=3") —
    * the restriction prunes the DIRECTORY LIST driver-side before any
    * file is listed, which is partition pruning without even a
    * PartitionFilter. Partitions resolve to immutable dirs, so the
    * returned plan keeps reading its snapshot regardless of concurrent
    * commits. Partition column values parse from the dir names exactly
    * as a plain hive read would parse them. */
  def readLayout(spark: SparkSession, dir: String, sub: String,
                 partCol: String,
                 only: Option[Set[String]] = None): DataFrame =
    readSnapshot(spark, snapshot(dir), sub, partCol, only)

  /** [[readLayout]] against an already-captured [[LayoutSnapshot]].
    * Planning fires no Spark job when every scanned owner has a recorded
    * schema: each owner's scan takes the data columns its own commit
    * wrote (per owner, so an int batch and a bigint batch still widen in
    * the union as inferred reads would). Root-owned partitions and
    * owners published before schemas were recorded infer from footers. */
  def readSnapshot(spark: SparkSession, snap: LayoutSnapshot, sub: String,
                   partCol: String,
                   only: Option[Set[String]] = None): DataFrame = {
    val all = resolveOwned(snap, sub, partCol)
    // one scan per owner (root / each owning version dir): the basePath
    // option is what turns the dir name into the partition column, and
    // it must be a parent of every path in its scan
    def baseOf(p: String, path: String): String = path.stripSuffix("/" + p)
    def scan(owner: Long, base: String, paths: Seq[String]): DataFrame = {
      val reader = snap.ownerSchemas.get((sub, owner)) match {
        // the partition column stays out of the supplied schema: hive
        // discovery types it from the dir names exactly as before
        case Some(ddl) => spark.read.schema(StructType(
          StructType.fromDDL(ddl).filterNot(_.name == partCol)))
        case None => spark.read
      }
      reader.option("basePath", base).parquet(paths: _*)
    }
    val scans = all.filter { case (p, _, _) => only.forall(_.contains(p)) }
      .groupBy { case (p, _, path) => baseOf(p, path) }.toSeq.sortBy(_._1)
      .map { case (base, ps) => scan(ps.head._2, base, ps.map(_._3)) }
    scans.reduceOption(_.unionByName(_)).getOrElse {
      // nothing survived the restriction: an empty frame, its schema
      // from any live partition; a sub with NO live partitions
      // (every doc deleted) reads as a typed empty relation off the
      // schema its last commit recorded (r18 — before that, an index
      // emptied by deletes threw UNABLE_TO_INFER_SCHEMA and was wedged
      // for every later ingest; found by the index fuzz lane). Only a
      // layout that truly never existed still throws the standard path
      // error — the honest outcome.
      all.headOption match {
        case Some((p, owner, path)) =>
          scan(owner, baseOf(p, path), Seq(path)).limit(0)
        case None =>
          snap.schemas.get(sub) match {
            case Some(ddl) =>
              spark.createDataFrame(
                java.util.Collections.emptyList[org.apache.spark.sql.Row](),
                StructType.fromDDL(ddl))
            case None =>
              spark.read.parquet(subRoot(Paths.get(snap.dir), sub).toString)
                .limit(0)
          }
      }
    }
  }

  /** LayoutTxn's format over the shared [[CommitLog]] protocol: the
    * pointer swap installs [[nextState]], and version 0 is the
    * pre-protocol (or freshly rebuilt) layout. */
  private val Log = new CommitLog.Format("graft layout commit",
    stagePrefix = "_lstage_", claimPrefix = "_layout_commit_v",
    dirPrefix = "_lv", pointer = "_layout_version",
    current = currentVersion, next = nextState,
    conflict = new ConflictException(_, _, _),
    lost = new LostLayoutCommitException(_, _, _))

  /** Publish + version-file swap of a claimed commit ([[CommitLog]]). */
  private[layout] def finish(dir: String, pr: Properties): Unit =
    Log.finish(dir, pr)

  /** The version state a published claim installs: the parent maps
    * (version file, or root listing for a sub's first versioned commit)
    * repointed by this commit's moves/dels. */
  private def nextState(dir: String, pr: Properties): Properties = {
    val version = pr.getProperty("version").toLong
    val parent = readState(dir)
    val nGroups = pr.getProperty("groups").toInt
    val committed = (0 until nGroups).map { i =>
      val sub = pr.getProperty(s"group.$i.sub")
      def parts(kind: String): Seq[String] =
        pr.getProperty(s"group.$i.$kind", "") match {
          case "" => Seq.empty; case s => s.split(",").toSeq
        }
      val parentEntry = parent.flatMap(_.maps.get(sub))
      // a claim missing the partcol property (pre-r15 writer) must NOT
      // default to "" — rootParts("") lists zero partitions and every
      // untouched root partition would silently leave the map (data loss
      // on the upgrade path). Derive it: parent map first, then the
      // touched dir names ("cell=3" → "cell"); refuse if neither knows.
      val pc = Option(pr.getProperty(s"group.$i.partcol", ""))
        .filter(_.nonEmpty)
        .orElse(parentEntry.map(_._1).filter(_.nonEmpty))
        .orElse((parts("moves") ++ parts("dels")).headOption
          .map(_.takeWhile(_ != '=')).filter(_.nonEmpty))
        .getOrElse(throw new IllegalStateException(
          s"cannot roll forward layout claim v$version at $dir: no " +
            s"partition column recorded or derivable for sub '$sub' — " +
            "re-run the interrupted upsert"))
      val parentMap: Map[String, Seq[Long]] =
        parentEntry.map(_._2).getOrElse(
          rootParts(dir, sub, pc).map(_ -> Seq(0L)).toMap)
      val isAppend = pr.getProperty(s"group.$i.append", "false") == "true"
      val newMap =
        if (isAppend) // written partitions gain ONE MORE run; no deletes
          parentMap ++ parts("moves").map(p =>
            p -> (parentMap.getOrElse(p, Seq.empty) :+ version))
        else {
          val touched = (parts("moves") ++ parts("dels")).toSet
          parentMap -- touched ++ parts("moves").map(_ -> Seq(version))
        }
      sub -> (pc, newMap)
    }.toMap
    val carried = parent.map(_.maps).getOrElse(Map.empty)
      .filterNot { case (sub, _) => committed.contains(sub) }
    val maps = carried ++ committed
    val vp = new Properties()
    vp.setProperty("version", version.toString)
    vp.setProperty("ts", pr.getProperty("ts", "0"))
    // the recorded batchId is MONOTONE: a non-stream commit (no batchId
    // in its claim) carries the parent's forward, so a replay check can
    // never be defeated by an interleaved batch ingest
    val bid = math.max(
      parent.map(_.batchId).getOrElse(-1L),
      Option(pr.getProperty("batchId")).map(_.toLong).getOrElse(-1L))
    if (bid >= 0) vp.setProperty("batchId", bid.toString)
    // layout properties: the parent's carry forward, this commit's
    // overwrite — so a fact like the partition count changes ATOMICALLY
    // with the partition map that embodies it
    (parent.map(_.props).getOrElse(Map.empty) ++ propsOf(pr)).foreach {
      case (k, v) => vp.setProperty(PropPrefix + k, v)
    }
    // per-sub replacement schemas: parent's carry, this commit's groups
    // overwrite — what keeps a sub EMPTIED by deletions readable as a
    // typed empty relation (r18; found by the index fuzz lane: delete
    // every doc, then the next ingest's probe read threw
    // UNABLE_TO_INFER_SCHEMA and the index was wedged)
    val written = (0 until nGroups).flatMap { i =>
      Option(pr.getProperty(s"group.$i.schema"))
        .map(pr.getProperty(s"group.$i.sub") -> _)
    }.toMap
    val schemas = parent.map(_.schemas).getOrElse(Map.empty) ++ written
    // per-owner schemas, for LIVE owners only (an owner leaving the map
    // takes its entry with it): this commit's dir carries what its groups
    // wrote, older owners keep the entry their own commit recorded
    def ownerSchema(sub: String, v: Long): Option[String] =
      if (v == version) written.get(sub)
      else parent.flatMap(_.ownerSchemas.get((sub, v)))
    vp.setProperty("commit", java.util.UUID.randomUUID().toString)
    vp.setProperty("subs", maps.size.toString)
    maps.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((sub, (pc, m)), i) =>
      vp.setProperty(s"sub.$i.name", sub)
      vp.setProperty(s"sub.$i.partcol", pc)
      vp.setProperty(s"sub.$i.map",
        m.toSeq.sortBy(_._1)
          .map { case (p, vs) => s"$p:${vs.mkString("|")}" }.mkString(","))
      schemas.get(sub).foreach(vp.setProperty(s"sub.$i.schema", _))
      m.valuesIterator.flatten.filter(_ > 0L).toSet.foreach { (v: Long) =>
        ownerSchema(sub, v).foreach(vp.setProperty(s"sub.$i.owner.$v", _))
      }
    }
    vp
  }

  /** Entry point for every maintenance writer: roll forward a crashed
    * commit (or conflict loudly on a LIVE one), sweep orphaned stages and
    * tombstoned superseded version dirs idle past the grace window, and
    * return the version the caller's commit must name as parent. */
  def begin(dir: String, graceMs: Long = 600000L): Long = {
    val v = Log.rollForward(dir, graceMs)
    Log.sweepStages(dir, graceMs)
    val now = System.currentTimeMillis()
    // two-phase reclamation of SUPERSEDED immutable dirs: phase 1 plants
    // a tombstone in any _lv<k>/root-partition dir no map entry
    // references; phase 2 deletes it once the tombstone is idle past
    // grace — a reader that resolved within the window keeps its
    // snapshot on disk
    readState(dir).foreach { st =>
      val referenced: Set[(Long, String, String)] = st.maps.toSeq.flatMap {
        case (sub, (_, m)) =>
          m.toSeq.flatMap { case (p, vs) => vs.map(v => (v, sub, p)) }
      }.toSet
      def sweep(target: java.io.File): Unit = {
        val tomb = new java.io.File(target, Tombstone)
        if (!tomb.exists()) {
          // two sweepers racing the same tombstone is benign: the loser's
          // createFile throws FileAlreadyExistsException, the grace clock
          // starts from the winner's plant either way
          try { Files.createFile(tomb.toPath); () }
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
        } else if (now - tomb.lastModified() >= graceMs)
          CommitLog.deleteRecursively(target)
      }
      // whole _lv<k> dirs (k < current) with zero referenced partitions
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.matches("_lv\\d+"))
        .foreach { f =>
          val k = f.getName.stripPrefix("_lv").toLong
          if (k < st.version && !referenced.exists(_._1 == k)) sweep(f)
        }
      // root partition dirs of MAPPED subs that the map no longer points
      // at version 0 (a full rebuild wipes the version file first, so a
      // mapless layout is never touched here)
      st.maps.foreach { case (sub, (pc, _)) =>
        rootParts(dir, sub, pc).foreach { p =>
          if (!referenced.contains((0L, sub, p)))
            sweep(subRoot(Paths.get(dir), sub).resolve(p).toFile)
        }
      }
    }
    v
  }

  /** Stage + CAS-claim + publish one commit of `groups` against `parent`
    * (from [[begin]]). Returns the committed version. Throws
    * [[ConflictException]] (stage cleaned up) if another writer claimed
    * `parent + 1` first. */
  def commit(spark: SparkSession, dir: String, parent: Long,
             groups: Seq[Group], batchId: Long = -1L,
             props: Map[String, String] = Map.empty): Long = {
    val newV = parent + 1
    val stage = Log.stageName(newV)
    Files.createDirectories(Paths.get(dir))
    // front-load the link-support check, as MergeTable CREATE/CLONE do —
    // without it a linkless filesystem fails deep inside the first claim
    CommitLog.requireHardLinks(Paths.get(dir), "LayoutTxn commit")
    val pr = new Properties()
    pr.setProperty("version", newV.toString)
    pr.setProperty("stage", stage)
    if (batchId >= 0) pr.setProperty("batchId", batchId.toString)
    props.foreach { case (k, v) => pr.setProperty(PropPrefix + k, v) }
    pr.setProperty("ts", System.currentTimeMillis().toString)
    pr.setProperty("groups", groups.size.toString)
    groups.zipWithIndex.foreach { case (g, i) =>
      require(g.touched.forall(p =>
          !p.contains(",") && !p.contains(":") && !p.contains("|")),
        s"partition names may not contain ',', ':' or '|': " +
          g.touched.mkString(" "))
      val stageSub = subRoot(Paths.get(dir, stage), g.sub)
      DataLayout.writePartitionedSorted(
        g.replacement, stageSub.toString, Seq(g.partCol), g.sortCols)
      // partitions the replacement actually produced; a touched partition
      // with no surviving rows becomes a deletion (it leaves the map)
      val present = Option(stageSub.toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith(s"${g.partCol}="))
        .map(_.getName).toSet
      val unexpected = present -- g.touched.toSet
      require(unexpected.isEmpty,
        s"replacement for '${g.sub}' wrote partitions outside its declared " +
          s"touched set: ${unexpected.mkString(",")}")
      pr.setProperty(s"group.$i.sub", g.sub)
      pr.setProperty(s"group.$i.partcol", g.partCol)
      if (g.append) pr.setProperty(s"group.$i.append", "true")
      // the replacement schema, partition column LAST (hive read order) —
      // the schema readers scan this owner with, and what keeps the sub
      // readable as a typed empty relation if a later commit deletes its
      // last partition
      pr.setProperty(s"group.$i.schema", StructType(
        g.replacement.schema.filterNot(_.name == g.partCol) ++
          g.replacement.schema.find(_.name == g.partCol)).toDDL)
      pr.setProperty(s"group.$i.moves",
        g.touched.filter(present.contains).mkString(","))
      pr.setProperty(s"group.$i.dels",
        g.touched.filterNot(present.contains).mkString(","))
    }
    Log.commit(dir, pr)
    newV
  }

  /** The number of distinct immutable OWNER dirs (root + `_lv<k>`) the
    * current snapshot's partitions resolve to — the read fan-out a
    * fragmented layout pays (one parquet scan per owner, unioned), and
    * [[compactStale]]'s trigger metric. 0 for a pre-protocol layout. */
  def ownerCount(dir: String): Int =
    readState(dir).map(_.maps.valuesIterator
      .flatMap(_._2.valuesIterator.flatten).toSet.size).getOrElse(0)

  /** Fold a FRAGMENTED layout — [[MergeTable.compactStale]]'s shape at
    * the layout tier (r18, VERDICT r17 task 3). After many incremental
    * commits a layout's live partitions are owned by many distinct
    * immutable dirs: each distinct owner is one more parquet scan unioned
    * into every read, and a version dir stays ON DISK until every one of
    * its partitions is superseded (reclamation is whole-dir), so a single
    * live partition pins a dir's dead bytes indefinitely. This op
    * rewrites the partitions owned by the OLDEST owners verbatim into one
    * commit until at most `maxOwners` owners remain (the new version
    * counts as one), unpinning the folded dirs for the next [[begin]]'s
    * two-phase sweep. Cost follows the FOLDED bytes, never the layout:
    * the newest owners' partitions — in an append-mostly index the bulk —
    * are untouched, so calling it with the default keeps read fan-out
    * bounded at LSM-ish amortized cost. `sortColsBySub` gives each sub
    * its writer's own in-partition sort columns (parquet locality);
    * unlisted subs rewrite in read order. Commits through the standard
    * stage/CAS-claim/publish — concurrent writers conflict loudly,
    * readers keep their snapshots, batchId and layout props carry. */
  def compactStale(spark: SparkSession, dir: String,
                   sortColsBySub: Map[String, Seq[String]] = Map.empty,
                   maxOwners: Int = 4, txnGraceMs: Long = 600000L): Long = {
    require(maxOwners >= 1, s"maxOwners must be >= 1, got $maxOwners")
    val parent = begin(dir, txnGraceMs)
    val snap = snapshot(dir)
    if (snap.maps.isEmpty) return parent // pre-protocol: one root owner
    val owners = snap.maps.valuesIterator
      .flatMap(_._2.valuesIterator.flatten).toSet
    if (owners.size <= maxOwners) return parent
    // fold the oldest owners; after the commit the survivors plus the
    // new version dir number exactly maxOwners. A partition with ANY
    // run in a folded owner rewrites whole — its runs materialize into
    // one (the append form's compaction contract).
    val folded = owners.toSeq.sorted
      .take(owners.size - maxOwners + 1).toSet
    val groups = snap.maps.toSeq.sortBy(_._1).flatMap { case (sub, (pc, m)) =>
      val touched = m.collect {
        case (p, vs) if vs.exists(folded) => p
      }.toSeq.sorted
      if (touched.isEmpty) None
      else Some(Group(sub,
        readSnapshot(spark, snap, sub, pc, Some(touched.toSet)),
        pc, sortColsBySub.getOrElse(sub, Seq.empty), touched))
    }
    if (groups.isEmpty) parent
    else commit(spark, dir, parent, groups)
  }
}
