package graft.layout

import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Optimistic-concurrency commits for MAINTAINED hive layouts, with
  * READER SNAPSHOT ISOLATION. Every layout comes into being through a
  * commit: the index builders ([[graft.text.TextAnalysis.writeIndexLayout]],
  * [[graft.sim.Similarity.writeIvfLayout]] and the three dedup index
  * writers) call [[rebuild]], and every maintenance op after them commits
  * through [[commit]]. Every commit runs the shared [[CommitLog]]
  * protocol: the replacement partitions of every touched subtree stage
  * under `_lstage_v<n>_<uuid8>`, the claim is the immutable
  * `_layout_commit_v<n>` file (stage name, per group partition column,
  * touched partitions, deletions and schema), publish renames the whole
  * stage to the IMMUTABLE version dir `_lv<n>`, and the pointer swap
  * installs a new `_layout_version`. The loser of a claim gets
  * [[LayoutTxn.ConflictException]] (retry = re-run the upsert against the
  * new current version; it re-reads the committed layout, so its delta
  * composes). What differs from [[MergeTable]]:
  *
  *  - **The partition→owner map.** `_layout_version` is not the claim
  *    verbatim but the parent state repointed by it: per sub, each
  *    partition maps to the version dir(s) that last wrote it. Untouched
  *    partitions keep their entry; touched partitions with no surviving
  *    rows leave the map. The state also carries a random COMMIT ID
  *    (unique per published commit — the safe key for per-snapshot memos),
  *    the layout's facts as commit props (bucket or partition counts,
  *    hashing parameters — written by the builder, changed only by a
  *    commit), and, per sub, the schema each LIVE owning version wrote
  *    (`sub.<i>.owner.<v>`, from the claim's group schema; entries leave
  *    with their owner). [[readSnapshot]] hands each owner's scan that
  *    schema, so reads plan without a footer inference job.
  *  - **Roll-forward grace.** [[begin]] rolls a dead writer's claim
  *    forward, but a claim younger than its grace conflicts rather than
  *    racing a live writer's publish; the same grace protects in-flight
  *    stages from the orphan sweep.
  *
  * **Reader snapshot isolation (r15).** [[resolve]]/[[readLayout]]
  * resolve the version file ONCE and then read only immutable
  * directories — `_lv<k>` dirs' data files are never modified after
  * their rename (commits only repoint the map; the single sanctioned
  * in-place write is the `_`-prefixed `_superseded` reclamation marker,
  * invisible to every read). A reader overlapping any number of commits
  * — a whole [[rebuild]] included — sees exactly the partition set of
  * the version it resolved, never a mix (LayoutIsolationSpec).
  * Superseded version dirs, and superseded partition dirs inside live
  * ones, are reclaimed in TWO phases by [[begin]]: a dir no map entry
  * references is first TOMBSTONED (`_superseded` marker) and only
  * deleted once the marker is idle past the grace window — a reader
  * that resolved within the grace period keeps its snapshot on disk
  * (reads longer than the grace window are out of contract, the
  * standard retention rule).
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
  /** The `<partCol>=…` partition dirs directly under `root`. */
  private def partDirs(root: Path, partCol: String): Seq[java.io.File] =
    Option(root.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(s"$partCol="))

  /** The version file's content: version, commit ts, and the per-sub
    * partition→owning-version map ([[resolve]]'s input). A dir with no
    * version file holds no committed layout. */
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
    // commitId: random per published commit
    // ownerSchemas: (sub, owning version) -> the schema (DDL) that commit
    // wrote the sub with, for every live owner
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

  /** Capture the current committed snapshot of `dir` in one read. A dir
    * with no committed layout snapshots as version 0 with no subs. A
    * version file an older format wrote (a partition owned by the root,
    * version 0, or no commit id) is refused: its root owners have no
    * recorded schema and no immutable dir. */
  def snapshot(dir: String): LayoutSnapshot = {
    val snap = anySnapshot(dir)
    require(snap.version == 0L || snap.commitId.nonEmpty &&
        !snap.maps.valuesIterator.exists(_._2.valuesIterator.exists(_.contains(0L))),
      s"layout at $dir was written by an older layout format (root " +
        "partitions or no commit id) — rebuild it with its index writer")
    snap
  }

  /** [[snapshot]] without the format check — what [[rebuild]] replaces. */
  private def anySnapshot(dir: String): LayoutSnapshot =
    readState(dir) match {
      case Some(st) =>
        LayoutSnapshot(dir, st.version, st.batchId, st.props, st.maps,
          st.schemas, st.commitId, st.ownerSchemas)
      case None => LayoutSnapshot(dir, 0L, -1L, Map.empty, Map.empty)
    }

  /** The current layout properties (commit-carried, monotone-merged). */
  def currentProps(dir: String): Map[String, String] =
    readState(dir).map(_.props).getOrElse(Map.empty)

  /** An integer layout fact its builder recorded as a commit prop (a
    * bucket or partition count, a hashing parameter). A missing fact
    * fails loudly, naming the dir and the `builder` to call: guessing it
    * would probe the wrong partitions and silently find nothing. */
  def fact(snap: LayoutSnapshot, key: String, builder: String): Int =
    snap.props.getOrElse(key, throw new IllegalArgumentException(
      (if (snap.version == 0L) s"no committed layout at ${snap.dir}"
       else s"layout at ${snap.dir} records no '$key'") +
        s" — build it with $builder")).toInt

  /** Highest streaming batchId any commit recorded (monotone — a
    * non-stream commit between micro-batches never lowers it), -1 if none
    * — the [[graft.layout.MergeTable.lastBatchId]] exactly-once replay
    * discipline at the layout layer (r16): a foreachBatch sink skips any
    * batch at-or-below this whole. */
  def lastBatchId(dir: String): Long =
    readState(dir).map(_.batchId).getOrElse(-1L)

  /** Current committed version; 0 when nothing was committed yet (a
    * [[rebuild]] is the next version, never a restart). */
  def currentVersion(dir: String): Long =
    readState(dir).map(_.version).getOrElse(0L)

  /** (version, commit wall-clock millis) of the current layout commit —
    * the MergeTable manifest-timestamp discipline at the layout layer
    * (r14). ts = 0 when nothing was committed yet. */
  def currentVersionInfo(dir: String): (Long, Long) =
    readState(dir).map(s => (s.version, s.ts)).getOrElse((0L, 0L))

  /** The current snapshot's concrete partition directories for one
    * subtree: (partition dir name, absolute path), resolved ONCE from
    * the version file — each path is an immutable `_lv<k>` version dir.
    * A sub no commit wrote resolves to nothing. */
  def resolve(dir: String, sub: String): Seq[(String, String)] =
    resolveSnapshot(snapshot(dir), sub)

  /** [[resolve]] against an already-captured [[LayoutSnapshot]] — no
    * version-file re-read, so facts and partitions stay one snapshot. */
  def resolveSnapshot(snap: LayoutSnapshot, sub: String): Seq[(String, String)] =
    resolveOwned(snap, sub).map { case (p, _, path) => p -> path }

  /** [[resolveSnapshot]] with each path's owning version. One entry PER
    * RUN: a multi-run partition resolves to several immutable dirs and a
    * read unions them (newest-last order is irrelevant to the flat row
    * sets the append form is for). */
  private def resolveOwned(snap: LayoutSnapshot, sub: String)
      : Seq[(String, Long, String)] =
    snap.maps.get(sub).toSeq.flatMap(_._2.toSeq.sortBy(_._1)).flatMap {
      case (p, vs) => vs.map(v =>
        (p, v, subRoot(Log.versionDir(snap.dir, v), sub).resolve(p).toString))
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
    * Planning fires no Spark job: each owner's scan takes the data
    * columns its own commit wrote (per owner, so an int batch and a
    * bigint batch still widen in the union as inferred reads would); an
    * owner rolled forward from a claim that recorded no schema scans
    * with the sub's last recorded one. */
  def readSnapshot(spark: SparkSession, snap: LayoutSnapshot, sub: String,
                   partCol: String,
                   only: Option[Set[String]] = None): DataFrame = {
    val all = resolveOwned(snap, sub)
    // one scan per owning version dir: the basePath option is what turns
    // the dir name into the partition column, and it must be a parent of
    // every path in its scan
    def baseOf(p: String, path: String): String = path.stripSuffix("/" + p)
    def scan(owner: Long, base: String, paths: Seq[String]): DataFrame = {
      val ddl = snap.ownerSchemas.get((sub, owner))
        .orElse(snap.schemas.get(sub)).getOrElse(throw new IllegalStateException(
          s"layout at ${snap.dir} records no schema for sub '$sub' — " +
            "rebuild it with its index writer"))
      // the partition column stays out of the supplied schema: hive
      // discovery types it from the dir names
      spark.read.schema(StructType(
          StructType.fromDDL(ddl).filterNot(_.name == partCol)))
        .option("basePath", base).parquet(paths: _*)
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
      // for every later ingest; found by the index fuzz lane). A sub no
      // commit ever wrote fails loudly: reading it as an empty layout
      // would turn every search into a silent miss.
      all.headOption match {
        case Some((p, owner, path)) =>
          scan(owner, baseOf(p, path), Seq(path)).limit(0)
        case None => emptyOf(spark, snap, sub)
      }
    }
  }

  /** `sub` as a typed empty relation, off the schema its last commit
    * recorded. A sub no commit ever wrote fails loudly. */
  private def emptyOf(spark: SparkSession, snap: LayoutSnapshot,
                      sub: String): DataFrame = {
    val ddl = snap.schemas.getOrElse(sub, throw new IllegalArgumentException(
      s"no committed layout at ${snap.dir}" +
        (if (sub.isEmpty) "" else s" (sub '$sub')") +
        " — build it with its index writer first"))
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType.fromDDL(ddl))
  }

  /** LayoutTxn's format over the shared [[CommitLog]] protocol: the
    * pointer swap installs [[nextState]]. */
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
      // default to "": derive it from the parent map first, then the
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
      val parentMap = parentEntry.map(_._2).getOrElse(Map.empty[String, Seq[Long]])
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
    // a rebuild is a new layout: the old one's stream watermark and facts
    // end with it (a stream restarted against the rebuilt index must not
    // skip its first batches)
    val carry = parent.filterNot(_ => pr.getProperty("rebuild") == "true")
    // the recorded batchId is MONOTONE: a non-stream commit (no batchId
    // in its claim) carries the parent's forward, so a replay check can
    // never be defeated by an interleaved batch ingest
    val bid = math.max(
      carry.map(_.batchId).getOrElse(-1L),
      Option(pr.getProperty("batchId")).map(_.toLong).getOrElse(-1L))
    if (bid >= 0) vp.setProperty("batchId", bid.toString)
    // layout properties: the parent's carry forward, this commit's
    // overwrite — so a fact like the partition count changes ATOMICALLY
    // with the partition map that embodies it
    (carry.map(_.props).getOrElse(Map.empty) ++ propsOf(pr)).foreach {
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
      m.valuesIterator.flatten.toSet.foreach { (v: Long) =>
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
    // a tombstone in any _lv<k> dir, or partition dir inside one, that no
    // map entry references; phase 2 deletes it once the tombstone is idle
    // past grace — a reader that resolved within the window keeps its
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
      // _lv<k> dirs (k < current): whole when no partition is referenced,
      // else each partition dir of a mapped sub that no entry names
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.matches("_lv\\d+"))
        .foreach { f =>
          val k = f.getName.stripPrefix("_lv").toLong
          if (k < st.version) {
            if (!referenced.exists(_._1 == k)) sweep(f)
            else st.maps.foreach { case (sub, (pc, _)) =>
              partDirs(subRoot(f.toPath, sub), pc)
                .filterNot(p => referenced((k, sub, p.getName))).foreach(sweep)
            }
          }
        }
    }
    v
  }

  /** [[begin]] for streaming micro-batch `batchId` (-1 = none): None when
    * the layout already holds the batch — a replay to skip whole. The
    * check runs before begin (the fast path) and again after it: a commit
    * that crashed between its claim and its publish is invisible to
    * [[lastBatchId]] until begin rolls it forward, and applying its batch
    * again on top would duplicate its rows. */
  private[graft] def beginBatch(dir: String, batchId: Long,
                                graceMs: Long): Option[Long] = {
    def applied = batchId >= 0 && lastBatchId(dir) >= batchId
    if (applied) None else Some(begin(dir, graceMs)).filterNot(_ => applied)
  }

  /** Stage + CAS-claim + publish one commit of `groups` against `parent`
    * (from [[begin]]). Returns the committed version. Throws
    * [[ConflictException]] (stage cleaned up) if another writer claimed
    * `parent + 1` first. */
  def commit(spark: SparkSession, dir: String, parent: Long,
             groups: Seq[Group], batchId: Long = -1L,
             props: Map[String, String] = Map.empty): Long =
    commitClaim(spark, dir, parent, groups, batchId, props, rebuild = false)

  /** The whole-sub form of `groups` against `snap`: each group touches
    * its sub's live partitions plus every partition it declares it may
    * write, so partitions its replacement no longer produces leave the
    * map. The touched set of a whole rewrite ([[rebuild]], a rescale, a
    * recluster). */
  def whole(snap: LayoutSnapshot, groups: Seq[Group]): Seq[Group] =
    groups.map(g =>
      g.copy(touched = (snap.maps.get(g.sub).toSeq.flatMap(_._2.keys) ++
        g.touched).distinct.sorted))

  /** Write a whole layout as ONE commit — the only way a layout comes
    * into being. Each group is its sub's full contents ([[whole]]);
    * every other sub the layout maps (tombstone runs, pair logs) is
    * emptied, and the stream watermark and layout props restart from
    * `props`. Version history continues: a reader that resolved the
    * previous version keeps its snapshot, and [[begin]]'s sweep reclaims
    * the superseded dirs after the grace window. */
  def rebuild(spark: SparkSession, dir: String, groups: Seq[Group],
              props: Map[String, String]): Long = {
    val parent = begin(dir)
    val snap = anySnapshot(dir)
    val named = groups.map(_.sub).toSet
    val emptied = snap.maps.toSeq.sortBy(_._1).collect {
      case (sub, (pc, m)) if !named(sub) && m.nonEmpty =>
        Group(sub, emptyOf(spark, snap, sub), pc, Seq.empty, m.keys.toSeq.sorted)
    }
    val v = commitClaim(spark, dir, parent, whole(snap, groups) ++ emptied,
      -1L, props, rebuild = true)
    // partition dirs at a sub's root are an older format's (a plain
    // overwrite build): no read reaches them once this commit owns the
    // layout, so they go now, as that overwrite's would have
    (groups ++ emptied).foreach(g => partDirs(subRoot(Paths.get(dir), g.sub),
      g.partCol).foreach(CommitLog.deleteRecursively))
    v
  }

  private def commitClaim(spark: SparkSession, dir: String, parent: Long,
                          groups: Seq[Group], batchId: Long,
                          props: Map[String, String],
                          rebuild: Boolean): Long = {
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
    if (rebuild) pr.setProperty("rebuild", "true")
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
      val present = partDirs(stageSub, g.partCol).map(_.getName).toSet
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

  /** The number of distinct immutable OWNER dirs (`_lv<k>`) the current
    * snapshot's partitions resolve to — the read fan-out a fragmented
    * layout pays (one parquet scan per owner, unioned), and
    * [[compactStale]]'s trigger metric. 0 when nothing was committed. */
  def ownerCount(dir: String): Int =
    readState(dir).map(_.maps.valuesIterator
      .flatMap(_._2.valuesIterator.flatten).toSet.size).getOrElse(0)

  /** Fold a FRAGMENTED layout — [[MergeTable.compactStale]]'s shape at
    * the layout tier (r18, VERDICT r17 task 3). After many incremental
    * commits a layout's live partitions are owned by many distinct
    * immutable dirs: each distinct owner is one more parquet scan unioned
    * into every read. This op
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
