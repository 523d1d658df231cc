package graft.layout

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Properties

/** The one optimistic commit protocol every graft table format commits
  * through — [[MergeTable]] (`_latest` + bucket manifest) and
  * [[LayoutTxn]] (`_layout_version` + partition→owner map) are two
  * [[Format]]s of it, differing only in file names, exceptions, and what
  * their pointer records.
  *
  * **The three storage primitives** — the whole seam a non-POSIX backend
  * has to port:
  *
  *  1. **[[atomicSwap]]** — publish a small metadata file atomically over
  *     an existing one (the pointer swap). POSIX: tmp-write +
  *     same-directory `ATOMIC_MOVE` rename. Object store: a conditional
  *     PUT — `If-Match: <etag the writer read>` on S3-compatible stores
  *     with conditional writes, or a compare-and-swap on the pointer
  *     object via DynamoDB/etcd where the store lacks one (the classic
  *     Delta-on-S3 LogStore shape).
  *  2. **[[casPublish]]** — publish an IMMUTABLE, version-numbered file
  *     with exactly-one-winner semantics (the claim). POSIX:
  *     `Files.createLink` (fail-if-exists is atomic in the filesystem,
  *     unlike exists-then-write). Object store: `PUT If-None-Match: *` —
  *     GCS and S3 (since 2024) support it natively; stores without it
  *     need the same external CAS as (1).
  *  3. **[[linkOrCopy]]** — zero-copy file share for CLONE. POSIX: hard
  *     link (per-file cost, bytes shared, either side's delete only drops
  *     its own name). Object store: server-side COPY (per-file request
  *     cost, bytes duplicated by the store but never moved through the
  *     client) — the fallback this object already implements for
  *     cross-device links.
  *
  * **The protocol**, each step written once in [[Format]]:
  *
  *  - **Stage.** A writer of version n writes its data to the
  *    attempt-unique `<prefix>v<n>_<uuid8>` dir ([[Format.stageName]]);
  *    `_`-prefixed, so hive discovery and readers never see it. A writer
  *    that dies here leaves only an orphan stage.
  *  - **Claim.** The commit record — version, stage name, and whatever the
  *    format's pointer needs — is [[casPublish]]ed as the immutable claim
  *    file of version n: exactly one writer per parent wins. The loser
  *    deletes its own stage and throws the format's conflict
  *    ([[Format.commit]]).
  *  - **Publish.** The stage dir is renamed to the immutable version dir
  *    in ONE `ATOMIC_MOVE` ([[Format.publish]]). A racing finisher that
  *    already moved it is tolerated; a claim whose stage AND version dir
  *    are both missing has lost its data — the claim is withdrawn (so the
  *    next writer re-claims n cleanly) and the format's lost-commit
  *    exception is thrown once.
  *  - **Pointer swap.** The pointer is [[atomicSwap]]ped to the format's
  *    next state, guarded by the version: a finisher whose version is
  *    already at or below the pointer's does nothing, so a laggard
  *    overtaken by a recoverer never regresses reads. The residue is the
  *    instant between check and rename (POSIX has no conditional rename;
  *    on an object store the swap is a conditional PUT and it vanishes).
  *  - **Roll-forward.** A writer entering the table first finishes every
  *    claim past the pointer — the claim records all publish needs, and
  *    publish + swap are idempotent ([[Format.rollForward]]). A claim
  *    younger than the caller's grace is a LIVE writer's and conflicts
  *    instead; grace 0 rolls any claim forward.
  *  - **Orphan-stage sweep.** Stages whose newest mtime is older than the
  *    grace are crash orphans and are deleted ([[Format.sweepStages]]);
  *    a younger one may still be filling and is kept.
  *
  * A filesystem WITHOUT hard links (some network mounts, FAT) cannot run
  * the claim CAS or CLONE safely; [[requireHardLinks]] probes that once
  * per directory and fails LOUDLY instead of letting the first commit fail
  * deep inside a write (or, worse, letting a non-atomic emulation corrupt
  * the exactly-one-winner guarantee).
  */
private[layout] object CommitLog {

  /** One table format over the protocol: its on-disk names and the hooks
    * only it can answer.
    *
    * @param comment     header line of every Properties file it writes
    * @param stagePrefix stage dirs are `<stagePrefix>v<n>_<uuid8>`
    * @param claimPrefix the claim of version n is `<claimPrefix><n>`
    * @param dirPrefix   the version dir of n is `<dirPrefix><n>`
    * @param pointer     the swapped pointer file's name
    * @param current     the version the pointer names; one below the
    *                    format's first version when there is no pointer
    * @param next        the pointer content publishing a claim installs
    *                    (read after the data rename)
    * @param conflict    (dir, version, why) → the format's conflict
    * @param lost        (dir, version, stage) → its lost-commit exception */
  final class Format(comment: String, stagePrefix: String,
                     claimPrefix: String, dirPrefix: String, pointer: String,
                     current: String => Long,
                     next: (String, Properties) => Properties,
                     conflict: (String, Long, String) => RuntimeException,
                     lost: (String, Long, String) => RuntimeException) {

    def pointerPath(dir: String): Path = Paths.get(dir, pointer)
    def claimPath(dir: String, v: Long): Path = Paths.get(dir, s"$claimPrefix$v")
    def versionDir(dir: String, v: Long): Path = Paths.get(dir, s"$dirPrefix$v")

    /** Attempt-unique stage dir name for a commit of version `v`. */
    def stageName(v: Long): String =
      s"${stagePrefix}v${v}_${java.util.UUID.randomUUID().toString.take(8)}"

    /** Claim + publish + swap of the commit record `pr` (its `version`,
      * and its `stage` unless the commit moves no data). The loser of the
      * claim deletes its stage and throws the format's conflict. */
    def commit(dir: String, pr: Properties): Unit = {
      val version = pr.getProperty("version").toLong
      if (!casPublish(dir, pr, comment, claimPath(dir, version))) {
        Option(pr.getProperty("stage")).filter(_.nonEmpty)
          .foreach(s => deleteRecursively(new File(dir, s)))
        throw conflict(dir, version,
          s"was committed by another writer (expected parent ${version - 1})")
      }
      finish(dir, pr)
    }

    /** Publish + pointer swap of a claimed record; idempotent, so a
      * recoverer and the original writer racing through it converge. */
    def finish(dir: String, pr: Properties): Unit = {
      val version = pr.getProperty("version").toLong
      if (current(dir) >= version) return // already published
      publish(dir, version, pr.getProperty("stage", ""))
      val state = next(dir, pr)
      if (current(dir) < version)
        atomicSwap(dir, state, comment, pointerPath(dir))
    }

    /** Rename `stage` to version `v`'s dir ("" = a commit with no data). */
    def publish(dir: String, v: Long, stage: String): Unit = {
      val vDir = versionDir(dir, v)
      if (stage.nonEmpty && !Files.exists(vDir)) {
        val stagePath = Paths.get(dir, stage)
        if (Files.exists(stagePath))
          try Files.move(stagePath, vDir, StandardCopyOption.ATOMIC_MOVE)
          catch { // a racing finisher already renamed it
            case _: java.nio.file.NoSuchFileException if Files.exists(vDir) => ()
            case _: java.nio.file.FileAlreadyExistsException => ()
          }
        else if (!Files.exists(vDir)) {
          // a racer may have completed the rename between the two checks
          // (ATOMIC_MOVE: the version dir exists once the stage is gone
          // that way) — only both absent NOW is a lost commit
          Files.deleteIfExists(claimPath(dir, v))
          throw lost(dir, v, stage)
        }
      }
    }

    /** Finish every claim past the pointer, oldest first, and return the
      * version the pointer then names. A claim younger than `graceMs` is a
      * live writer's: conflict rather than race its publish. */
    def rollForward(dir: String, graceMs: Long): Long = {
      var v = current(dir)
      var pending = claimPath(dir, v + 1)
      while (Files.exists(pending)) {
        if (graceMs > 0 && System.currentTimeMillis() -
            Files.getLastModifiedTime(pending).toMillis < graceMs)
          throw conflict(dir, v + 1,
            "is being committed by a live writer (fresh claim)")
        finish(dir, load(pending))
        v = current(dir)
        pending = claimPath(dir, v + 1)
      }
      v
    }

    /** Delete the stages idle past `graceMs` (newest mtime anywhere under
      * the stage — the dir itself goes stale while part files are still
      * landing inside it); returns their names. Run after [[rollForward]],
      * so no claimed stage is among them. */
    def sweepStages(dir: String, graceMs: Long): Seq[String] = {
      val now = System.currentTimeMillis()
      def newest(f: File): Long = (f.lastModified() +: children(f).map(newest)).max
      children(new File(dir))
        .filter(f => f.isDirectory && f.getName.startsWith(s"${stagePrefix}v") &&
          now - newest(f) >= graceMs)
        .map { f => deleteRecursively(f); f.getName }
    }
  }

  private def children(f: File): Seq[File] =
    Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)

  def deleteRecursively(f: File): Unit = {
    children(f).foreach(deleteRecursively)
    f.delete(); ()
  }

  /** A claim, pointer or manifest file's Properties. */
  def load(p: Path): Properties = {
    val pr = new Properties()
    val in = Files.newInputStream(p)
    try pr.load(in) finally in.close()
    pr
  }

  /** Atomically replace `target` with the serialized `pr`: tmp file in
    * the same directory + `ATOMIC_MOVE` rename. Never leaves a torn or
    * half-written `target`; concurrent swappers leave one of the two
    * complete contents. */
  private def atomicSwap(dir: String, pr: Properties, comment: String,
                         target: Path): Unit = {
    val tmp = Files.createTempFile(Paths.get(dir), "_commit_tmp_", "")
    val out = Files.newOutputStream(tmp)
    try pr.store(out, comment) finally out.close()
    Files.move(tmp, target,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Publish the serialized `pr` as the immutable `target` with
    * exactly-one-winner semantics: returns true if THIS writer created
    * it, false if another writer's file already exists. The tmp file is
    * removed either way. */
  private def casPublish(dir: String, pr: Properties, comment: String,
                         target: Path): Boolean = {
    val tmp = Files.createTempFile(Paths.get(dir), "_commit_tmp_", "")
    val out = Files.newOutputStream(tmp)
    try pr.store(out, comment) finally out.close()
    try { Files.createLink(target, tmp); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** Share one immutable file into `dst`: hard link when possible,
    * per-file COPY when the link cannot span the boundary. An existing
    * `dst` is tolerated (clone re-runs are idempotent). The fallback
    * matters because a cross-DEVICE link fails with
    * `FileSystemException(EXDEV)` — not `UnsupportedOperationException` —
    * on every mainstream JDK/OS (ADVICE r16 medium): both filesystems
    * support links, the boundary just can't be crossed, so copying is
    * the correct degradation. A filesystem with NO link support at all
    * should be rejected up front by [[requireHardLinks]] instead. */
  def linkOrCopy(dst: Path, src: Path): Unit =
    try { Files.createLink(dst, src); () }
    catch {
      case _: java.nio.file.FileAlreadyExistsException => () // re-run
      case _: UnsupportedOperationException =>
        Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING); ()
      case _: java.nio.file.FileSystemException => // EXDEV cross-device
        Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING); ()
    }

  /** Dirs whose filesystems passed the hard-link probe this JVM. */
  private val probedDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Probe that `dir`'s filesystem supports same-directory hard links —
    * the primitive [[casPublish]]'s exactly-one-winner guarantee stands
    * on — once per canonical dir per JVM (probing is not free). Throws a
    * loud UnsupportedOperationException naming the operation (`what`)
    * when it doesn't, so CREATE/CLONE/the first layout commit fail at the
    * door instead of mid-write (or CLONE silently degrading to a full
    * per-byte copy on a store that was never going to link anything). */
  def requireHardLinks(dir: Path, what: String): Unit = {
    val key = dir.toAbsolutePath.normalize.toString
    if (!probedDirs.contains(key)) {
      val probe = Files.createTempFile(dir, "_linkprobe_", "")
      val link = dir.resolve(probe.getFileName.toString + "_l")
      try { Files.createLink(link, probe); () }
      catch {
        case e @ (_: UnsupportedOperationException |
                  _: java.nio.file.FileSystemException) =>
          throw new UnsupportedOperationException(
            s"$what at $dir needs hard-link support (the commit CAS and " +
              "zero-copy CLONE are built on fail-if-exists link creation); " +
              "this filesystem refused a same-directory link probe — on an " +
              "object-store backend map the three CommitLog primitives to " +
              "conditional PUTs / server-side COPY instead (see CommitLog " +
              s"scaladoc): $e")
      } finally {
        Files.deleteIfExists(link)
        Files.deleteIfExists(probe)
        ()
      }
      probedDirs.add(key); ()
    }
  }
}
