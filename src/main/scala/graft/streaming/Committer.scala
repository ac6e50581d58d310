package graft.streaming

/** Commit protocol seam for a manifest table's MANIFEST — the
  * single pointer whose replacement makes a merge visible. Extracted so the
  * durability mechanism is swappable per storage system without touching
  * the merge protocol:
  *
  *  - '''POSIX / HDFS-class''' stores have an atomic `rename` —
  *    [[AtomicRenameCommitter]] (tmp file + `ATOMIC_MOVE`) is correct and
  *    is the default.
  *  - '''S3-class object stores''' have NO atomic rename (rename is
  *    copy+delete); the equivalent contract there is a '''conditional
  *    put''' of the manifest object: read the manifest's generation (ETag
  *    / If-Match token) before the merge, `PUT ... If-Match: <etag>` at
  *    commit. A lost precondition (concurrent writer) must surface as an
  *    exception from [[SnapshotCommitter.commit]] with the previous
  *    manifest left in force — which is exactly the crash-window contract
  *    the fault-injection spec pins (`FileStreamSpec`). Readers are safe
  *    because a manifest GET is a single-object read (atomic on every
  *    store); they never list directories.
  *
  * Contract for `commit`: atomically replace the manifest with `entries`,
  * or throw leaving the previously committed manifest byte-identical. A
  * partial/torn manifest must be impossible in both outcomes.
  */
trait SnapshotCommitter {

  /** The committed day→relative-data-dir map; empty when nothing has ever
    * been committed at `snapshotPath`.
    */
  def readManifest(snapshotPath: String): Map[String, String]

  /** Atomically publish `entries` as the new committed manifest, or throw
    * with the old manifest still in force (all-or-nothing, see trait doc).
    */
  def commit(snapshotPath: String, entries: Map[String, String]): Unit

  /** Data references (relative dirs) the staging GC must retain BEYOND the
    * current manifest — the hook that lets a history-keeping committer
    * ([[VersionedCommitter]]) protect snapshots that are no longer current
    * but still readable as-of an earlier version. The default (no history)
    * retains nothing extra. Every GC call site unions this in.
    */
  def retainedReferences(snapshotPath: String): Set[String] = Set.empty

  /** Minimum age (ms) an unreferenced staging dir must reach before the
    * staging GC may collect it. 0 for single-writer committers (the only
    * unreferenced dirs are crashed stagings and superseded data — collect
    * immediately); concurrent-writer committers ([[RebasingCasCommitter]])
    * return a grace window so one writer's GC pass can never eat another
    * writer's in-flight staging (which is unreferenced by design until its
    * commit flips). Crashed stagings still collect, one window late —
    * Delta's VACUUM-retention idea applied to the staging seam.
    */
  def gcGraceMs: Long = 0L

  /** The CANONICAL RENDERED BYTES of the current committed manifest, None
    * when nothing has ever been committed — the byte-level view
    * [[VersionedCommitter]] archives and compares against its version
    * files. Default reads the rename-protocol `MANIFEST` file; a
    * committer with a different physical layout
    * ([[ConditionalPutCommitter]]'s slot objects) overrides it.
    */
  def currentManifestBytes(snapshotPath: String): Option[String] =
    TableFs.readStringOpt(AtomicRenameCommitter.manifestPath(snapshotPath))
}

/** Default committer for filesystems with atomic rename (local, HDFS):
  * write the manifest body to a uniquely-named temp file in the snapshot
  * dir, then rename-with-overwrite it over `MANIFEST` (java.nio
  * `ATOMIC_MOVE` on the local scheme, Hadoop `FileContext` overwrite
  * rename on HDFS; see [[TableFs.renameOverwrite]]). A crash before the move leaves only a
  * GC-able temp; a crash after is a completed commit.
  */
/** Shared staging GC for manifest-committed layouts
  * ([[graft.pipeline.Upsert]]'s tables, [[CuratedStore]]):
  * delete every `batch-⁎/<sub>` dir (and stale manifest temp) that
  * `liveRel` does not reference — crashed stagings and superseded
  * partitions. Safe under the single-writer assumption: the only
  * unreferenced-but-wanted dir would be a CONCURRENT writer's staging.
  *
  * Reader-overlap retention: post-commit callers pass the UNION of the
  * old and new manifests' references, so data superseded by THIS commit
  * survives one more cycle (collected at the next merge's start) — a
  * reader that resolved paths just before the flip has a full merge cycle
  * to finish its scan, the snapshot-retention idea table formats apply,
  * at window = 1.
  */
private[graft] object SnapshotGc {

  def gcUnreferenced(snapshotPath: String, liveRel: Set[String],
                     minAgeMs: Long = 0L): Unit = {
    val cutoff = System.currentTimeMillis() - minAgeMs
    val rootEntries = TableFs.list(snapshotPath)
    for {
      b <- rootEntries
      if b.isDirectory && b.getPath.getName.startsWith("batch-")
      // age floor at the batch-dir level: a concurrent writer's staging is
      // by construction younger than the grace window (staged immediately
      // before its commit attempt); crashed stagings age past it
      if b.getModificationTime <= cutoff
    } {
      val bName = b.getPath.getName
      for {
        d <- TableFs.list(s"$snapshotPath/$bName")
        // a live rel may name the subdir itself OR live DEEPER inside it
        // (MoR delete rewrites surviving delta sidecars under
        // `batch-⁎/delta/__dp=⁎`) — deleting the parent of a referenced
        // nested dir would take the live data with it
        if d.isDirectory && {
          val sub = s"$bName/${d.getPath.getName}"
          !liveRel.exists(r => r == sub || r.startsWith(s"$sub/"))
        }
      } TableFs.delete(s"$snapshotPath/$bName/${d.getPath.getName}")
      if (!TableFs.list(s"$snapshotPath/$bName").exists(_.isDirectory))
        TableFs.delete(s"$snapshotPath/$bName")
    }
    for {
      t <- rootEntries
      if t.isFile && t.getPath.getName.startsWith("MANIFEST.tmp-")
      // same age floor as the batch dirs: another writer's in-flight temp
      // (written, not yet renamed in) is milliseconds old — only crashed
      // leftovers age past the window
      if t.getModificationTime <= cutoff
    } TableFs.delete(s"$snapshotPath/${t.getPath.getName}")
  }
}

object AtomicRenameCommitter extends SnapshotCommitter {

  private[streaming] def manifestPath(snapshotPath: String): String =
    s"$snapshotPath/MANIFEST"

  private[streaming] def renderManifest(entries: Map[String, String]): String =
    entries.toSeq.sorted
      .map { case (d, rel) => s"$d\t$rel" }.mkString("", "\n", "\n")

  private[streaming] def parseManifest(body: String): Map[String, String] =
    body.split("\n").filter(_.nonEmpty).map { l =>
      val Array(day, rel) = l.split("\t", 2); day -> rel
    }.toMap

  override def readManifest(snapshotPath: String): Map[String, String] =
    TableFs.readStringOpt(manifestPath(snapshotPath))
      .map(parseManifest).getOrElse(Map.empty)

  override def commit(snapshotPath: String,
                      entries: Map[String, String]): Unit =
    TableFs.writeAtomic(snapshotPath, "MANIFEST", renderManifest(entries))
}

/** Snapshot-versioned committer — TIME TRAVEL on the manifest protocol,
  * the same device every pointer-table format uses (Iceberg snapshot log,
  * Delta's _delta_log): since data dirs are immutable and visibility is
  * one pointer, keeping the SUPERSEDED pointers around IS the whole
  * feature. Each commit also writes an immutable `MANIFEST.v<NNNNNN>`
  * copy; [[versions]] lists them, [[readManifestAsOf]] resolves one, and
  * [[retainedReferences]] reports every retained version's data refs so
  * the staging GC ([[SnapshotGc]]) keeps historical snapshots readable.
  *
  * Ordering: the CURRENT flip (`inner.commit`) remains the commit point;
  * the version copy is written after it. A crash between the two leaves
  * current state correct but that version missing from history — healed
  * at the next commit ([[healHistory]] archives the on-disk manifest if
  * no version file matches it), so history is complete up to the last
  * crash window, and never WRONG (a version file is only ever a
  * byte-copy of a manifest that was current).
  *
  * `retain` bounds history: older version files are pruned at commit, and
  * their exclusively-referenced data dirs are released by the next GC
  * cycle — the table-format "expire snapshots" lifecycle. Layered over
  * any inner committer (rename or CAS), single writer per table assumed
  * for version numbering (the CAS inner still protects the current flip).
  */
final class VersionedCommitter(inner: SnapshotCommitter = AtomicRenameCommitter,
                               retain: Int = 10) extends SnapshotCommitter {
  import java.nio.charset.StandardCharsets.UTF_8
  require(retain >= 1, "retain at least the newest version")

  private val VersionRe = "MANIFEST\\.v(\\d{6})".r

  private def versionName(version: Long): String = f"MANIFEST.v$version%06d"

  private def versionFiles(snapshotPath: String): Seq[(Long, String)] =
    TableFs.list(snapshotPath)
      .flatMap { f =>
        f.getPath.getName match {
          case VersionRe(n) =>
            Some((n.toLong, s"$snapshotPath/${f.getPath.getName}"))
          case _ => None
        }
      }.sortBy(_._1)

  /** Committed version numbers, oldest first. */
  def versions(snapshotPath: String): Seq[Long] =
    versionFiles(snapshotPath).map(_._1)

  /** The manifest as of `version` (a [[versions]] entry); throws if that
    * version was never committed or has been expired past `retain`.
    */
  def readManifestAsOf(snapshotPath: String, version: Long): Map[String, String] = {
    val p = s"$snapshotPath/${versionName(version)}"
    require(TableFs.exists(p),
      s"version $version of $snapshotPath does not exist (expired or never committed); " +
        s"available: ${versions(snapshotPath).mkString(",")}")
    parse(TableFs.readString(p))
  }

  private def parse(body: String): Map[String, String] =
    body.split("\n").filter(_.nonEmpty).map { l =>
      val Array(k, rel) = l.split("\t", 2); k -> rel
    }.toMap

  // via the inner committer so the versioned layer works over ANY
  // physical manifest layout (rename-protocol MANIFEST file or the
  // conditional-put slot objects)
  private def currentBytes(snapshotPath: String): Option[String] =
    inner.currentManifestBytes(snapshotPath)

  private def writeVersion(snapshotPath: String, version: Long, body: String): Unit =
    TableFs.writeAtomic(snapshotPath, versionName(version), body)

  /** If the CURRENT manifest matches no version file (a crash between
    * flip and archive, or a history-unaware writer touched the table),
    * archive it now as the next version.
    */
  private def healHistory(snapshotPath: String): Unit =
    currentBytes(snapshotPath).foreach { cur =>
      val vs = versionFiles(snapshotPath)
      val archived = vs.exists { case (_, p) => TableFs.readString(p) == cur }
      if (!archived)
        writeVersion(snapshotPath, vs.lastOption.map(_._1 + 1).getOrElse(1L), cur)
    }

  override def readManifest(snapshotPath: String): Map[String, String] =
    inner.readManifest(snapshotPath)

  /** Delegate the GC grace window to the inner committer: the versioned
    * layer adds history, not a writer model — over a concurrent-writer
    * inner ([[ConditionalPutCommitter]], [[RebasingCasCommitter]]) its GC
    * calls must honor the inner's grace or one SQL writer's GC could eat
    * another's in-flight staging (the exact hazard the inner's window
    * exists to prevent). */
  override def gcGraceMs: Long = inner.gcGraceMs

  override def commit(snapshotPath: String,
                      entries: Map[String, String]): Unit = {
    healHistory(snapshotPath)
    inner.commit(snapshotPath, entries) // the commit point
    val next = versionFiles(snapshotPath).lastOption.map(_._1 + 1).getOrElse(1L)
    writeVersion(snapshotPath, next,
      AtomicRenameCommitter.renderManifest(entries))
    // record the operation label for DESCRIBE HISTORY; the label is
    // advisory metadata (a torn OPS write can't corrupt the table — the
    // manifest flip above already happened), written AFTER the archive so
    // a version either has its noted label or the generic default
    writeOps(snapshotPath,
      opsFull(snapshotPath) + (next -> (Some(nextCommitTs(snapshotPath)),
        pendingOps.getOrDefault(snapshotPath, "commit"))))
    // expire history beyond the retention window (tagged versions are
    // pinned); the expired versions' exclusive data dirs fall out of
    // retainedReferences and the next GC cycle releases them
    val pinned = tags(snapshotPath).values.toSet
    val dropped = versionFiles(snapshotPath).dropRight(retain)
      .filterNot { case (v, _) => pinned.contains(v) }
    dropped.foreach { case (_, p) => TableFs.delete(p) }
    if (dropped.nonEmpty)
      writeOps(snapshotPath, opsFull(snapshotPath) -- dropped.map(_._1))
  }

  /** Expire history down to the newest `keepLast` versions NOW — the
    * standalone VACUUM: `retain` prunes at commit time, but a table that
    * stops being written keeps its history forever without this. TAGGED
    * versions are never expired (a tag is a retention pin — delete the
    * tag first). Returns the expired version numbers; their
    * exclusively-referenced data dirs fall out of [[retainedReferences]]
    * and the next staging-GC cycle releases them
    * ([[graft.pipeline.Maintenance.expireVersions]] runs both steps).
    */
  def expire(snapshotPath: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "keep at least the newest version")
    val pinned = tags(snapshotPath).values.toSet
    val dropped = versionFiles(snapshotPath).dropRight(keepLast)
      .filterNot { case (v, _) => pinned.contains(v) }
    dropped.foreach { case (_, p) => TableFs.delete(p) }
    if (dropped.nonEmpty)
      writeOps(snapshotPath, opsFull(snapshotPath) -- dropped.map(_._1))
    dropped.map(_._1)
  }

  // ---- operation log (DESCRIBE HISTORY's `operation` column) — an OPS
  // sidecar mapping version → operation label, same tab-separated /
  // atomic-rename mechanics as TAGS. Mutators note their label just
  // before committing ([[graft.pipeline.Upsert.withOp]]); an unnoted
  // commit (a history-unaware writer, healHistory's archive) reads as the
  // generic "commit". Labels are advisory lineage metadata, never
  // consulted by reads/GC — losing one can't affect correctness.

  private val pendingOps =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Note the label for `snapshotPath`'s NEXT commit. Outermost caller
    * wins: a label noted while one is already pending is ignored (so
    * `deleteWhere` → `replacePartitionsAtomic` records the delete, not
    * the mechanism). Returns whether this call became the pending label —
    * the caller that got `true` must [[clearOp]] when its operation ends.
    */
  def noteOpIfEmpty(snapshotPath: String, op: String): Boolean = {
    require(!op.contains("\t") && !op.contains("\n"), s"invalid op label '$op'")
    pendingOps.putIfAbsent(snapshotPath, op) == null
  }

  /** Drop the pending label (operation finished — committed or failed). */
  def clearOp(snapshotPath: String): Unit = pendingOps.remove(snapshotPath)

  private def opsPath(snapshotPath: String): String = s"$snapshotPath/OPS"

  /** Committed version → operation label (empty when none recorded). */
  def ops(snapshotPath: String): Map[Long, String] =
    opsFull(snapshotPath).map { case (v, (_, op)) => v -> op }

  /** Committed version → (commit epoch-ms if recorded, operation label).
    * Lines are `v TAB ts TAB op` since timestamps were added; a legacy
    * two-field line (or a healHistory archive, which bypasses the OPS
    * write) parses with no timestamp.
    */
  private def opsFull(snapshotPath: String): Map[Long, (Option[Long], String)] =
    TableFs.readStringOpt(opsPath(snapshotPath)) match {
      case None => Map.empty
      case Some(body) => body
        .split("\n").filter(_.nonEmpty).map { l =>
          l.split("\t", 3) match {
            case Array(v, ts, op) if ts.forall(_.isDigit) && ts.nonEmpty =>
              v.toLong -> (Some(ts.toLong), op)
            case Array(v, rest @ _*) => v.toLong -> (None, rest.mkString("\t"))
          }
        }.toMap
    }

  /** Commit wall-clock (epoch ms) per retained version, for
    * AS-OF-TIMESTAMP resolution. Strictly increasing by construction
    * ([[nextCommitTs]] clamps a stalled/backwards clock to prev+1, the
    * Delta-style in-commit-timestamp monotonicity guard). A version whose
    * timestamp was never recorded (legacy OPS line, healHistory archive)
    * inherits its successor's timestamp — it was committed no later than
    * that — and the newest such version inherits the current clock.
    */
  def commitTimestamps(snapshotPath: String): Map[Long, Long] = {
    val full = opsFull(snapshotPath)
    val vs = versions(snapshotPath)
    vs.foldRight((List.empty[(Long, Long)], System.currentTimeMillis())) {
      case (v, (acc, nextTs)) =>
        val ts = full.get(v).flatMap(_._1).getOrElse(nextTs)
        ((v -> ts) :: acc, ts)
    }._1.toMap
  }

  private def nextCommitTs(snapshotPath: String): Long = {
    val prev = opsFull(snapshotPath).values.flatMap(_._1)
    math.max(System.currentTimeMillis(), prev.fold(0L)(math.max) + 1L)
  }

  /** The manifest as the table stood at wall-clock `tsMs`: the newest
    * retained version whose commit timestamp is ≤ `tsMs` — Delta/Iceberg
    * `TIMESTAMP AS OF`. Throws if `tsMs` predates the oldest retained
    * commit (that state is expired — nothing to resolve).
    */
  def readManifestAsOfTimestamp(snapshotPath: String,
                                tsMs: Long): Map[String, String] = {
    val stamped = commitTimestamps(snapshotPath).toSeq.sorted
    require(stamped.nonEmpty, s"no committed versions at $snapshotPath")
    val at = stamped.takeWhile(_._2 <= tsMs).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"timestamp $tsMs predates the oldest retained commit of " +
          s"$snapshotPath (${stamped.head._2} at v${stamped.head._1})"))
    readManifestAsOf(snapshotPath, at._1)
  }

  private def writeOps(snapshotPath: String,
                       o: Map[Long, (Option[Long], String)]): Unit =
    TableFs.writeAtomic(snapshotPath, "OPS",
      o.toSeq.sortBy(_._1).map {
        case (v, (Some(ts), op)) => s"$v\t$ts\t$op"
        case (v, (None, op))     => s"$v\t$op"
      }.mkString("", "\n", "\n"))

  // ---- named refs (tags) — the Iceberg-tag idea on the version log:
  // a human name pinned to a version number, stored in a TAGS sidecar
  // (same tab-separated line format and atomic-rename replace as the
  // manifest). A tagged version is exempt from retention/expiry until the
  // tag is deleted, so "the audited Q3 snapshot" stays resolvable however
  // many commits later. Single writer per table assumed, like version
  // numbering itself.

  /** Committed tag name → version. Empty when none. */
  def tags(snapshotPath: String): Map[String, Long] =
    TableFs.readStringOpt(s"$snapshotPath/TAGS") match {
      case None => Map.empty
      case Some(body) => body
        .split("\n").filter(_.nonEmpty).map { l =>
          val Array(n, v) = l.split("\t", 2); n -> v.toLong
        }.toMap
    }

  private def writeTags(snapshotPath: String, t: Map[String, Long]): Unit =
    TableFs.writeAtomic(snapshotPath, "TAGS",
      t.toSeq.sorted.map { case (n, v) => s"$n\t$v" }
        .mkString("", "\n", "\n"))

  /** Pin `name` to `version` (which must currently exist). Re-tagging an
    * existing name moves it.
    */
  def tag(snapshotPath: String, name: String, version: Long): Unit = {
    require(name.nonEmpty && !name.contains("\t") && !name.contains("\n"),
      s"invalid tag name '$name'")
    require(versions(snapshotPath).contains(version),
      s"cannot tag version $version of $snapshotPath — not in history " +
        s"(available: ${versions(snapshotPath).mkString(",")})")
    writeTags(snapshotPath, tags(snapshotPath) + (name -> version))
  }

  /** Remove the pin; the version becomes expirable again. */
  def deleteTag(snapshotPath: String, name: String): Unit =
    writeTags(snapshotPath, tags(snapshotPath) - name)

  /** Resolve a tag to its manifest ([[readManifestAsOf]] by name). */
  def readManifestAsOfTag(snapshotPath: String, name: String): Map[String, String] = {
    val t = tags(snapshotPath)
    require(t.contains(name),
      s"no tag '$name' on $snapshotPath (tags: ${t.keys.toSeq.sorted.mkString(",")})")
    readManifestAsOf(snapshotPath, t(name))
  }

  /** Every retained version's data refs (`__`-prefixed metadata keys
    * reference nothing and are skipped), UNIONED with the inner
    * committer's own retention (a [[ConditionalPutCommitter]] inner
    * retains its slot objects' refs — a reader resolving an older slot
    * must keep its data even when no version file names it) — what keeps
    * time travel readable through the staging GC.
    */
  override def retainedReferences(snapshotPath: String): Set[String] =
    versionFiles(snapshotPath).flatMap { case (_, p) =>
      // `__del.`/`__delta.`/`__cdf` values are sidecar dirs an as-of read
      // still applies — a retained version keeps them alive like data
      graft.pipeline.Upsert.liveDirRefs(parse(TableFs.readString(p)))
    }.toSet ++ inner.retainedReferences(snapshotPath)
}

/** Thrown by [[CasCommitter.commit]] when the manifest changed between this
  * committer's `readManifest` and its `commit` — the local rendering of an
  * S3 conditional-put precondition failure. The previously committed
  * manifest is left in force; the loser retries its whole merge cycle
  * (re-read → re-merge → re-commit), which every protocol in this repo
  * supports because merges are idempotent functions of the manifest state
  * they read.
  */
final class ConcurrentCommitException(msg: String)
  extends RuntimeException(msg)

/** Compare-and-swap committer — drops the AtomicRenameCommitter's
  * single-writer assumption. Each instance remembers the manifest bytes it
  * last OBSERVED for a path (`readManifest`); `commit` atomically verifies
  * the on-disk manifest is still byte-identical to that observation before
  * renaming the replacement in, under a JVM-global per-path monitor (two
  * writers in one process) plus an exclusive OS file lock on a sidecar
  * LOCK file (writers in other processes — advisory, but every committer
  * goes through it). This is exactly the If-Match
  * conditional put the [[SnapshotCommitter]] trait doc prescribes for
  * S3-class stores, rendered with POSIX primitives: a concurrent writer's
  * interleaved commit surfaces as [[ConcurrentCommitException]] with the
  * winner's manifest intact — never a torn or lost update.
  *
  * One instance per writer (the observation is per-instance state);
  * sharing an instance across writers would let one writer's read satisfy
  * another's precondition.
  */
final class CasCommitter extends SnapshotCommitter {

  // last-observed manifest BYTES per path ("" = observed-absent)
  private val observed =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def currentBytes(snapshotPath: String): String =
    TableFs.readStringOpt(AtomicRenameCommitter.manifestPath(snapshotPath))
      .getOrElse("")

  override def readManifest(snapshotPath: String): Map[String, String] = {
    observed.put(snapshotPath, currentBytes(snapshotPath))
    AtomicRenameCommitter.readManifest(snapshotPath)
  }

  override def commit(snapshotPath: String,
                      entries: Map[String, String]): Unit = {
    // the verify-then-flip sequence below is only atomic under a mutual-
    // exclusion primitive this class can actually hold. On the local FS
    // that is the OS file lock; a remote store has no such primitive over
    // this API — there the conditional put must come from the STORE
    // (S3 If-Match, GCS x-goog-if-generation-match, an HDFS lease
    // service), i.e. a different SnapshotCommitter implementation — so
    // refuse loudly rather than commit with a silently-broken guard.
    if (!TableFs.isLocal(snapshotPath))
      throw new UnsupportedOperationException(
        s"CasCommitter's check-and-rename guard needs an OS file lock and " +
          s"is local-FS only; '$snapshotPath' resolves to scheme " +
          s"'${TableFs.fs(snapshotPath).getUri.getScheme}'. Use " +
          "ConditionalPutCommitter (create-if-absent slot claim — the " +
          "store's If-None-Match / generation-0 precondition) on " +
          "atomic-put object stores, or a single writer with " +
          "AtomicRenameCommitter on HDFS-class stores.")
    TableFs.mkdirs(snapshotPath)
    // two-level mutual exclusion: the JVM-global per-path monitor
    // serializes committer instances in THIS process (the JVM's file-lock
    // table would otherwise throw OverlappingFileLockException at the
    // second ch.lock() — a crash, not a wait — for exactly the two-writer
    // race this class exists for), and the OS file lock serializes
    // against OTHER processes
    val monitor = CasCommitter.pathMonitors
      .computeIfAbsent(
        TableFs.localFile(snapshotPath).getAbsolutePath, _ => new Object)
    monitor.synchronized {
      val lockFile = new java.io.File(
        TableFs.localFile(snapshotPath), "MANIFEST.lock")
      val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock() // blocks until a competing PROCESS finishes
        try {
          val expect = observed.getOrDefault(snapshotPath, "")
          val actual = currentBytes(snapshotPath)
          if (actual != expect)
            throw new ConcurrentCommitException(
              s"manifest at $snapshotPath changed since this writer read it " +
                "(concurrent commit won the race); re-read and retry the merge")
          AtomicRenameCommitter.commit(snapshotPath, entries)
          observed.put(snapshotPath, AtomicRenameCommitter.renderManifest(entries))
        } finally lock.release()
      } finally ch.close()
    }
  }
}

private object CasCommitter {
  /** JVM-global per-path commit monitors (see [[CasCommitter.commit]]). */
  val pathMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
}

/** Commit protocol for ATOMIC-PUT object stores (`s3a:`, `gs:`, `abfs:`,
  * … — [[TableFs.isAtomicPutScheme]]): the profile where a single-object
  * PUT is atomic (an object is invisible until close and can never read
  * torn) but "rename" is copy+delete, so the rename-based committers are
  * unsafe and [[CasCommitter]]'s OS file lock does not exist. The
  * conditional-put contract the [[SnapshotCommitter]] trait doc
  * prescribes, rendered portably: manifests are published as VERSIONED
  * IMMUTABLE OBJECTS and the commit point is a CONDITIONAL CREATE of the
  * next version's NAME.
  *
  * Layout at `snapshotPath`: one write-once object per commit,
  * `MANIFEST.c<seq%020d>`, holding a length-stamped header line plus the
  * canonical rendered manifest. The committed state is the HIGHEST slot.
  * Claiming slot N+1 with `create(…, overwrite = false)` IS the
  * compare-and-swap: the store admits exactly one winner per name, and a
  * writer that observed slot N only ever claims N+1 — an interleaved
  * commit surfaces as [[ConcurrentCommitException]] with the winner's
  * manifest intact, never a torn or lost update. No rename is issued
  * anywhere in the protocol (asserted in `ObjectStoreCommitSpec`).
  *
  * What the store must provide, and where that holds:
  *  - '''atomic visible-at-close PUT''' — native S3/GCS/ABFS semantics
  *    (simulated in tests by `AtomicPutStoreFs`);
  *  - '''create-if-absent that surfaces a loss as
  *    `FileAlreadyExistsException`''' — HDFS-native; `s3a:` maps it to an
  *    `If-None-Match: *` conditional PUT when
  *    `fs.s3a.create.conditional.enabled` is set (Hadoop 3.4.1+,
  *    HADOOP-19256); the GCS connector issues an `ifGenerationMatch(0)`
  *    precondition. On a connector WITHOUT a server-side precondition the
  *    claim would degrade to check-then-put and two same-slot racers could
  *    both appear to win — the documented reason Delta-on-S3 needs an
  *    external LogStore. That degraded mode must never be SILENT: the
  *    first commit per filesystem probes the precondition with a canary
  *    object (claim the same name twice, require the second create to
  *    throw — [[ConditionalPutCommitter.ensureConditionalCreate]]), caches
  *    the verdict per scheme+authority, and REFUSES before any slot write
  *    on a store that admitted both claims, naming the connector switch to
  *    enable (or the single-writer fallback).
  *
  * Old slots are pruned at commit beyond `retainSlots` (history/tags/time
  * travel are [[VersionedCommitter]]'s job — layer it over this one);
  * every RETAINED slot's data refs are reported to the staging GC so a
  * reader resolving an older slot keeps its data. `gcGraceMs` is
  * non-zero: this committer exists for concurrent writers, and one
  * writer's GC must never eat another's in-flight staging.
  */
final class ConditionalPutCommitter(retainSlots: Int = 10,
                                    graceMs: Long = 10L * 60 * 1000)
  extends SnapshotCommitter {
  import java.nio.charset.StandardCharsets.UTF_8
  require(retainSlots >= 1, "retain at least the current slot")

  private val SlotRe = "MANIFEST\\.c(\\d{20})".r
  private val Header = "graft-commit-v1 "

  private def slotName(n: Long): String = f"MANIFEST.c$n%020d"

  // highest slot this instance OBSERVED per path (0 = observed-absent) —
  // the CAS baseline, per-instance like CasCommitter's observed bytes
  private val observed =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def slotSeqs(snapshotPath: String): Seq[Long] =
    TableFs.list(snapshotPath).flatMap { f =>
      f.getPath.getName match {
        case SlotRe(n) => Some(n.toLong)
        case _         => None
      }
    }.sorted

  /** The rendered manifest inside slot `n` — loud on a malformed object
    * (impossible on an atomic-put store; a tear here means the path is
    * NOT such a store, or the object is foreign). */
  private def readSlot(snapshotPath: String, n: Long): String = {
    val body = TableFs.readString(s"$snapshotPath/${slotName(n)}")
    val nl = body.indexOf('\n')
    require(nl > 0 && body.startsWith(Header),
      s"malformed commit object ${slotName(n)} at $snapshotPath — " +
        "not written by ConditionalPutCommitter, or the store's PUT is " +
        "not atomic (use a rename-based committer there)")
    val rendered = body.substring(nl + 1)
    require(body.substring(Header.length, nl).toLong ==
      rendered.getBytes(UTF_8).length.toLong,
      s"torn commit object ${slotName(n)} at $snapshotPath — the store's " +
        "PUT is not atomic; this committer requires atomic-put semantics")
    rendered
  }

  /** [[readSlot]] tolerating a slot PRUNED between the caller's listing
    * and the read (a concurrent writer's commit-time retention sweep) —
    * a slot that vanished mid-iteration is past the retention window by
    * definition, so iterating callers skip it rather than fail a GC or
    * history read loudly on someone else's housekeeping. */
  private def readSlotOpt(snapshotPath: String, n: Long): Option[String] =
    try Some(readSlot(snapshotPath, n))
    catch { case _: java.io.FileNotFoundException => None }

  override def readManifest(snapshotPath: String): Map[String, String] = {
    val ss = slotSeqs(snapshotPath)
    // layout guard: a table committed under the RENAME protocol carries a
    // MANIFEST file and no slots — reading it as "empty" here would
    // silently present a populated table as fresh (and the next commit
    // would fork its history into the slot layout)
    if (ss.isEmpty &&
        TableFs.exists(AtomicRenameCommitter.manifestPath(snapshotPath)))
      throw new IllegalStateException(
        s"$snapshotPath is committed under the rename protocol (MANIFEST " +
          "file, no slot objects) — read it with AtomicRenameCommitter / " +
          "CasCommitter, or migrate by committing its manifest through " +
          "this committer once and removing the MANIFEST file")
    observed.put(snapshotPath, Long.box(ss.lastOption.getOrElse(0L)))
    ss.lastOption
      .map(n => AtomicRenameCommitter.parseManifest(readSlot(snapshotPath, n)))
      .getOrElse(Map.empty)
  }

  override def currentManifestBytes(snapshotPath: String): Option[String] = {
    // the NEWEST slot is never pruned by retention, but a concurrent
    // writer may have committed newer slots and swept ours past the
    // window between the listing and the read — re-list and follow the
    // chain forward rather than fail on a stale listing; the final
    // attempt reads loudly (three consecutive races means something
    // other than housekeeping is deleting slots)
    var attempt = 0
    while (attempt < 2) {
      slotSeqs(snapshotPath).lastOption match {
        case None    => return None
        case Some(n) =>
          readSlotOpt(snapshotPath, n) match {
            case some @ Some(_) => return some
            case None           => attempt += 1
          }
      }
    }
    slotSeqs(snapshotPath).lastOption.map(readSlot(snapshotPath, _))
  }

  /** VERIFY the store's conditional create is real before trusting it
    * with a commit: claim a canary name once (must succeed), claim it
    * again (MUST throw — the server-side precondition), delete the
    * canary. A connector that admits both claims has no precondition —
    * its slot claim would be check-then-put, two same-slot racers could
    * both appear to win, and the protocol's whole safety story would be
    * silently void — so refuse loudly BEFORE any slot write. The verdict
    * is cached per scheme+authority (one probe per filesystem per JVM);
    * probe I/O errors propagate un-cached so a transient failure retries.
    */
  private def ensureConditionalCreate(snapshotPath: String): Unit = {
    val uri = TableFs.fs(snapshotPath).getUri
    val key = s"${uri.getScheme}://${Option(uri.getAuthority).getOrElse("")}"
    val ok = ConditionalPutCommitter.conditionalCreateVerified
      .computeIfAbsent(key, _ => java.lang.Boolean.valueOf {
        val fs = TableFs.fs(snapshotPath)
        val canary = TableFs.path(
          s"$snapshotPath/_capcheck-${java.util.UUID.randomUUID().toString.take(8)}")
        try {
          val first = fs.create(canary, false)
          try first.write('1'.toByte.toInt) finally first.close()
          try {
            val second = fs.create(canary, false)
            try second.write('2'.toByte.toInt) finally second.close()
            false // both claims landed — no precondition on this store
          } catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException |
                 _: java.nio.file.FileAlreadyExistsException => true
          }
        } finally fs.delete(canary, false)
      }).booleanValue()
    if (!ok)
      throw new UnsupportedOperationException(
        s"the filesystem at '$key' admitted two create(overwrite=false) " +
          "claims of the same object — it has no server-side conditional " +
          "create, so ConditionalPutCommitter's slot claim would silently " +
          "degrade to check-then-put (two concurrent commits could both " +
          "appear to win). Enable the connector's conditional create " +
          "(s3a: fs.s3a.create.conditional.enabled, Hadoop 3.4.1+; GCS " +
          "issues ifGenerationMatch(0) natively), or keep a single " +
          "writer per table with AtomicRenameCommitter on a " +
          "rename-atomic store.")
  }

  override def commit(snapshotPath: String,
                      entries: Map[String, String]): Unit = {
    val expect: Long = Option(observed.get(snapshotPath)).fold(0L)(_.longValue)
    val next = expect + 1
    val rendered = AtomicRenameCommitter.renderManifest(entries)
    val payload = s"$Header${rendered.getBytes(UTF_8).length}\n$rendered"
    TableFs.mkdirs(snapshotPath)
    ensureConditionalCreate(snapshotPath)
    val slotPath = TableFs.path(s"$snapshotPath/${slotName(next)}")
    try {
      // overwrite = false: the conditional create — one winner per name.
      // The loser's exception may surface at create() (HDFS, the local
      // simulation) or at close() (a store evaluating If-None-Match at
      // PUT completion); both paths land here.
      val out = TableFs.fs(snapshotPath).create(slotPath, false)
      try out.write(payload.getBytes(UTF_8)) finally out.close()
    } catch {
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: java.nio.file.FileAlreadyExistsException) =>
        throw new ConcurrentCommitException(
          s"slot $next at $snapshotPath already claimed (concurrent " +
            s"commit won the race); re-read and retry the merge " +
            s"[${e.getMessage}]")
    }
    observed.put(snapshotPath, Long.box(next))
    // prune the pointer chain beyond the retention window; their data
    // refs drop out of retainedReferences and the next GC releases them
    slotSeqs(snapshotPath).dropRight(retainSlots)
      .foreach(n => TableFs.delete(s"$snapshotPath/${slotName(n)}"))
  }

  /** Every retained slot's data refs — a reader resolving an older (but
    * retained) slot must keep its data through the staging GC. A slot
    * pruned by a concurrent writer between the listing and its read is
    * skipped ([[readSlotOpt]]): it is past the retention window by
    * definition, so its exclusive refs are no longer retained. */
  override def retainedReferences(snapshotPath: String): Set[String] =
    slotSeqs(snapshotPath).flatMap { n =>
      readSlotOpt(snapshotPath, n).toSeq.flatMap(body =>
        graft.pipeline.Upsert.liveDirRefs(AtomicRenameCommitter.parseManifest(body)))
    }.toSet

  override def gcGraceMs: Long = graceMs
}

object ConditionalPutCommitter {
  /** Per-(scheme://authority) verdicts of the conditional-create canary
    * probe — JVM-global: the capability is a property of the STORE, not
    * of any committer instance. */
  private val conditionalCreateVerified =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]
  /** Test seam: forget cached verdicts (a simulated store may toggle its
    * precondition support between specs). */
  private[graft] def resetCapabilityProbe(): Unit =
    conditionalCreateVerified.clear()
}

/** Optimistic concurrency with AUTOMATIC partition-disjoint rebase — the
  * Delta/Iceberg logical-conflict-resolution idea on the manifest seam.
  * A plain [[CasCommitter]] loser re-runs its whole merge cycle; but two
  * writers touching DISJOINT partitions are not in semantic conflict at
  * all: the loser's staged data dirs are untouched by the winner, so its
  * manifest DELTA (the keys it changed relative to the base it read) can
  * be patched onto the winner's manifest verbatim and the CAS retried —
  * no Spark job re-runs, commit latency is the only cost.
  *
  * Conflict rules (refuse → [[ConcurrentCommitException]], caller re-runs
  * the merge like a plain CAS loser):
  *  - the upstream delta and this writer's delta share ANY key —
  *    data-partition entries, their `__range.<p>` zone maps, `__schema`
  *    (both sides evolving concurrently), cursors — semantic conflict;
  *  - the upstream delta touches a `__check.` constraint — this writer's
  *    staged data was validated against the OLD constraint set, so the
  *    commit must re-validate (rebasing would publish unvalidated data).
  *  - `__schema` equal on both sides drops out of both deltas, so the
  *    everyday case (same schema, different partitions) rebases freely;
  *    an upstream add-column evolution this writer didn't make keeps the
  *    upstream (wider) schema — this writer's dirs simply back-fill null.
  *
  * `gcGraceMs` is non-zero: with multiple writers, another writer's
  * staging GC must never collect THIS writer's in-flight (unreferenced
  * until committed) staging — see [[SnapshotCommitter.gcGraceMs]].
  */
final class RebasingCasCommitter(graceMs: Long = 10L * 60 * 1000,
                                 maxRetries: Int = 10,
                                 // the CAS primitive underneath — the OS-lock
                                 // CasCommitter locally, ConditionalPutCommitter
                                 // on object stores; the rebase logic needs only
                                 // readManifest/commit + ConcurrentCommitException
                                 cas: SnapshotCommitter = new CasCommitter)
  extends SnapshotCommitter {
  // the manifest this writer last READ per path — the rebase baseline
  private val baseline =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()

  override def gcGraceMs: Long = graceMs

  override def readManifest(snapshotPath: String): Map[String, String] = {
    val m = cas.readManifest(snapshotPath)
    baseline.put(snapshotPath, m)
    m
  }

  override def commit(snapshotPath: String,
                      entries: Map[String, String]): Unit = {
    val base = baseline.getOrDefault(snapshotPath, Map.empty)
    // this writer's intended delta, fixed once against the base it read
    val upserts = entries.filter { case (k, v) => !base.get(k).contains(v) }
    val removals = base.keySet -- entries.keySet
    val myKeys = upserts.keySet ++ removals

    var attempt = 0
    var desired = entries
    while (true) {
      try {
        cas.commit(snapshotPath, desired)
        baseline.put(snapshotPath, desired)
        return
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          val current = cas.readManifest(snapshotPath) // re-observe for CAS
          val upstreamKeys = (base.keySet ++ current.keySet).filter(k =>
            base.get(k) != current.get(k))
          // both-wrote-the-same-value is no conflict (idempotent concurrent
          // writes — `__schema` from two same-schema writers is the
          // canonical case); a removal against an upstream change, or
          // differing values, is
          val conflicts = (upstreamKeys & myKeys).filter { k =>
            removals.contains(k) || current.get(k) != upserts.get(k)
          }
          if (conflicts.nonEmpty)
            throw new ConcurrentCommitException(
              s"semantic conflict at $snapshotPath on keys " +
                s"${conflicts.toSeq.sorted.take(5).mkString(",")} — " +
                "re-run the merge against the current manifest")
          // a data rewrite of partition p and a `__del.p`/`__delta.p`
          // sidecar commit are DIFFERENT keys but the same partition: the
          // rewrite's merge read pre-sidecar rows (or the sidecar write
          // merged/targeted superseded data) — semantic overlap the
          // generic key rule can't see. Two different-kind sidecars on
          // one partition overlap too (a MoR delete rewrites the
          // partition's pending delta minus its keys)
          def dataParts(ks: Set[String]): Set[String] =
            ks.filterNot(_.startsWith("__"))
          def sidecarParts(ks: Set[String]): Set[String] = ks.collect {
            case k if k.startsWith("__del.")   => k.stripPrefix("__del.")
            case k if k.startsWith("__delta.") => k.stripPrefix("__delta.")
          }
          val crossed = (dataParts(myKeys) & sidecarParts(upstreamKeys)) ++
            (sidecarParts(myKeys) & dataParts(upstreamKeys)) ++
            (sidecarParts(myKeys) & sidecarParts(upstreamKeys))
          if (crossed.nonEmpty)
            throw new ConcurrentCommitException(
              s"concurrent sidecar/rewrite of partition(s) " +
                s"${crossed.toSeq.sorted.take(5).mkString(",")} at " +
                s"$snapshotPath — re-run the merge")
          if (upstreamKeys.exists(_.startsWith("__check.")))
            throw new ConcurrentCommitException(
              s"constraints changed concurrently at $snapshotPath — staged " +
                "data must re-validate; re-run the merge")
          desired = current ++ upserts -- removals
      }
    }
  }
}
