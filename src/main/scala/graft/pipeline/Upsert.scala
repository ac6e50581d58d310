package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.ManifestTable
import graft.streaming.{AtomicRenameCommitter, SnapshotCommitter, SnapshotGc, TableFs}

/** Manifest tables: parquet data under immutable `batch-<uuid>` dirs,
  * made visible by one atomically replaced MANIFEST pointer (the
  * [[graft.streaming.SnapshotCommitter]] seam), written and read
  * partition by partition.
  *
  * The reference rebuilds every model table as a full overwrite snapshot
  * on a 15-minute schedule (scheduler/README.md:688-692 semantics); that
  * is correct but rewrites the world. Here a write rewrites only the
  * partitions it touches: it reads just their manifest entries, stages
  * the new partitions under a fresh batch dir and publishes them with one
  * manifest flip ([[upsertPartitionsAtomic]], [[replacePartitionsAtomic]]),
  * so work scales with the delta, not the table. Upserts keep the latest
  * row per key across existing ∪ delta with the W1 dedup's `max_by`
  * aggregate; ties go to the DELTA row (a `__src` rank is appended to the
  * order), so replaying a batch is idempotent and an exact re-send with a
  * bumped payload still lands.
  *
  * '''Key→partition contract''': the partition column must be functionally
  * dependent on the key — an update to a key must land in the SAME
  * partition the existing row lives in. A delta row that relocated a key
  * to another partition would leave the stale row alive in its untouched
  * home partition. The within-delta guard rejects a delta carrying two
  * partition values for one key. Relocation WITHIN the touched set is
  * fine: both partitions are read, and the cross-partition merge resolves
  * it (the streaming fact merge reads each batch day's predecessor for
  * exactly this).
  */
object Upsert {

  case class UpsertStats(touchedPartitions: Seq[String], deltaRows: Long,
                         mergedRows: Long)

  /** The delta's distinct partition values (bounded by the batch's
    * partition span, not data volume), with the two contract guards: no
    * null partition key, and no key carrying two partition values
    * (the key→partition functional-dependence contract — see object doc).
    */
  private def touchedPartitionsOf(delta: DataFrame, partCol: String,
                                  keys: Seq[String]): Seq[String] = {
    val touchedRaw = delta.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    require(!touchedRaw.contains(null),
      s"delta has rows with null $partCol — a null partition key would " +
        "silently route rows to the __HIVE_DEFAULT_PARTITION__ directory")
    val relocating = delta
      .groupBy(keys.map(col): _*)
      .agg(countDistinct(col(partCol)).as("__np"))
      .filter(col("__np") > 1).limit(1).count()
    require(relocating == 0L,
      s"delta carries more than one $partCol value for a single key " +
        s"(${keys.mkString(",")}) — the partition column must be " +
        "functionally dependent on the key for a partition-pruned merge " +
        "(a key-relocating delta needs a full-key anti-join merge)")
    touchedRaw.sorted
  }

  /** Existing ∪ delta, keep-latest per key with ties to the DELTA row
    * (idempotent replay; an exact re-send with a bumped payload lands).
    */
  private def mergeByKey(existing: DataFrame, delta: DataFrame,
                         keys: Seq[String], order: Seq[String]): DataFrame =
    Dedup.keepLatestAgg(
        existing.withColumn("__src", lit(0))
          .unionByName(delta.withColumn("__src", lit(1))),
        keys, (order.map(col) :+ col("__src")).toIndexedSeq)
      .drop("__src")

  /** Partition-granular MERGE with cross-partition atomicity — failure
    * semantics of the reference's per-table CTAS snapshots (one atomic
    * publish, never a half-merged table):
    *
    *  1. data is immutable — the merged touched partitions land under a
    *     fresh `batch-<uuid>/__part=<v>/` staging dir; nothing mutates
    *     committed files;
    *  2. visibility is one pointer — `MANIFEST` maps each partition value
    *     to the batch dir owning it; [[readTable]] scans only
    *     manifest-referenced paths, so uncommitted staging is invisible;
    *  3. commit is ONE atomic manifest replace covering ALL touched
    *     partitions at once — readers see the whole merge or none of it;
    *  4. superseded data is GC'd one merge cycle late, so a reader that
    *     resolved paths just before the flip finishes its scan.
    *
    * It is [[stageUpsert]] followed by [[commitReplace]]; a crash anywhere
    * between them leaves the previous manifest — and therefore exactly
    * the previous committed table — in force (`UpsertSpec` stops after
    * the staging half and proves old-only, never mixed). The streaming
    * fact merge ([[graft.streaming.StreamDedup.mergeBatchIntoSnapshot]])
    * commits through the same two halves. Single writer assumed with the
    * default committer; a [[graft.streaming.CasCommitter]] upgrades that
    * to optimistic concurrency — the loser of an interleaved commit gets a
    * retryable [[graft.streaming.ConcurrentCommitException]] with the
    * winner's manifest intact (`CasCommitterSpec`).
    *
    * The partition column stays IN the data files (staging partitions by a
    * string copy `__part`), so manifest-pruned multi-dir reads need no
    * partition discovery. `mergedRows` is the footer-proved row count of
    * the rewritten partitions.
    */
  def upsertPartitionsAtomic(spark: SparkSession, delta: DataFrame,
                             tablePath: String, partCol: String,
                             keys: Seq[String], order: Seq[String],
                             committer: SnapshotCommitter = AtomicRenameCommitter): UpsertStats =
    withOp(committer, tablePath, "upsert") {
      val staged = stageUpsert(spark, delta, tablePath, partCol, keys, order, committer)
      commitReplace(staged, committer)
      UpsertStats(staged.parts, delta.count(), staged.writtenRows)
    }

  /** Committed state of a manifest-table: a relation over a
    * [[graft.sources.ManifestFileIndex]] of every data entry, so filters
    * prune through the committed zone maps and bloom sidecars, and
    * COUNT(*) and join order can use the committed row counts and stats
    * ([[graft.sources.ManifestTable]]). Throws if nothing has ever been
    * committed (callers seed via [[upsertPartitionsAtomic]] with the
    * initial load as the delta).
    */
  def readTable(spark: SparkSession, tablePath: String,
                committer: SnapshotCommitter = AtomicRenameCommitter): DataFrame = {
    val manifest = committer.readManifest(tablePath)
    val data = dataEntries(manifest)
    require(data.nonEmpty, s"no committed table at $tablePath")
    ManifestTable.read(spark, tablePath, manifest, data)
  }

  /** Manifest-pruned partition read: the same relation as [[readTable]]
    * over ONLY the named partitions' entries — no other dir is listed or
    * opened, and a COUNT(*) of it counts those partitions alone. Unknown
    * partition values read nothing (not an error).
    */
  def readTablePartitions(spark: SparkSession, tablePath: String,
                          values: Seq[String],
                          committer: SnapshotCommitter = AtomicRenameCommitter): DataFrame =
    readTablePartitions(spark, tablePath, values, committer.readManifest(tablePath))

  /** [[readTablePartitions]] under a manifest the caller already read: a
    * writer that stages against this state and commits against the same
    * read (a second read would reset a CAS committer's observation).
    */
  private[graft] def readTablePartitions(spark: SparkSession, tablePath: String,
                                         values: Seq[String],
                                         manifest: Map[String, String]): DataFrame = {
    require(dataEntries(manifest).nonEmpty, s"no committed table at $tablePath")
    ManifestTable.read(spark, tablePath, manifest, entriesOf(manifest, values))
  }

  /** TIME TRAVEL: the table exactly as committed at `version` (a
    * [[graft.streaming.VersionedCommitter.versions]] entry). Works because
    * data dirs are immutable and the GC retains every reference of every
    * retained version ([[graft.streaming.SnapshotCommitter.retainedReferences]])
    * — resolving an old manifest is all there is to it, the same read path
    * table formats call "snapshot isolation for free".
    */
  /** [[readTableAsOf]] by TAG name — "the audited Q3 snapshot" instead of
    * a version number; tagged versions are retention-pinned, so the name
    * stays resolvable however many commits later.
    */
  def readTableAsOfTag(spark: SparkSession, tablePath: String, tagName: String,
                       committer: graft.streaming.VersionedCommitter): DataFrame = {
    val manifest = committer.readManifestAsOfTag(tablePath, tagName)
    val data = dataEntries(manifest)
    require(data.nonEmpty, s"tag $tagName of $tablePath has no data entries")
    ManifestTable.read(spark, tablePath, manifest, data)
  }

  def readTableAsOf(spark: SparkSession, tablePath: String, version: Long,
                    committer: graft.streaming.VersionedCommitter): DataFrame = {
    val manifest = committer.readManifestAsOf(tablePath, version)
    val data = dataEntries(manifest)
    require(data.nonEmpty, s"version $version of $tablePath has no data entries")
    ManifestTable.read(spark, tablePath, manifest, data)
  }

  /** TIMESTAMP AS OF: the table as it stood at wall-clock `tsMs` — the
    * newest retained version committed at or before that instant
    * ([[graft.streaming.VersionedCommitter.readManifestAsOfTimestamp]];
    * commit timestamps are recorded monotonically in the OPS log, so the
    * version↔time order can never invert under clock skew). Same
    * immutable-data-dir read as [[readTableAsOf]].
    */
  def readTableAsOfTimestamp(spark: SparkSession, tablePath: String,
                             tsMs: Long,
                             committer: graft.streaming.VersionedCommitter): DataFrame = {
    val manifest = committer.readManifestAsOfTimestamp(tablePath, tsMs)
    val data = dataEntries(manifest)
    require(data.nonEmpty,
      s"$tablePath as of timestamp $tsMs has no data entries")
    ManifestTable.read(spark, tablePath, manifest, data)
  }

  /** Keyed NET diff of two readable states — the engine-owned comparison
    * behind [[tableChanges]] and the write-time change log. Emits one row
    * per changed key with `change_type` ∈ {`insert`, `update_post`,
    * `delete`}: post-image values for inserts/updates, the pre-image for
    * deletes. Unchanged keys (identical non-key columns, null-safe struct
    * compare) emit nothing. One full-outer equi-join on the key; the diff
    * predicate is a null-safe struct comparison inside the joined row (no
    * second shuffle).
    */
  private def keyedDiff(preRaw: DataFrame, post: DataFrame,
                        keys: Seq[String]): DataFrame = {
    // add-column evolution between the versions is diffable: align the old
    // state to the new schema (added columns null on every pre row — a row
    // whose only change is a non-null added value reads as update_post,
    // which is exactly the CDF a consumer needs to back-fill the column)
    require(preRaw.columns.toSet.subsetOf(post.columns.toSet),
      "schema drift between the diffed states is not diffable " +
        "(only add-column evolution is)")
    val pre = post.columns.foldLeft(preRaw)((df, c) =>
      if (!df.columns.contains(c))
        df.withColumn(c, lit(null).cast(post.schema(c).dataType))
      else if (df.schema(c).dataType != post.schema(c).dataType)
        // widening evolution between the versions: align the old state to
        // the widened type (lossless by the evolution gate, so equal
        // values still compare equal and no phantom update_post appears)
        df.withColumn(c, col(c).cast(post.schema(c).dataType))
      else df)
    val others = post.columns.filterNot(keys.contains).toSeq
    def packed(df: DataFrame, tag: String) = df.select(
      keys.map(col) :+ struct(others.map(col): _*).as(tag): _*)
    packed(pre, "__pre").join(packed(post, "__post"), keys, "full_outer")
      .withColumn("change_type",
        when(col("__pre").isNull, lit("insert"))
          .when(col("__post").isNull, lit("delete"))
          .when(!(col("__pre") <=> col("__post")), lit("update_post")))
      .filter(col("change_type").isNotNull)
      .select(keys.map(col) ++
        // image selection is ROW-level (deletes take the pre-image), never
        // per-column coalesce — a legitimately-null post column must not
        // leak the pre value into an update's post-image
        others.map(c => when(col("__post").isNull, col(s"__pre.$c"))
          .otherwise(col(s"__post.$c")).as(c)) :+
        col("change_type"): _*)
  }

  /** Partition keys whose committed CONTENT can differ between two
    * manifests: the data entry moved (rewritten / dropped / added) or a
    * pending MoR sidecar (`__del.`/`__delta.`) attached, detached, or
    * repointed. Everything else is provably identical — data dirs are
    * immutable, so an entry carrying the same rel in both versions reads
    * back byte-for-byte the same — which is what lets the CDC diff skip
    * reading untouched partitions entirely.
    */
  private def changedDataKeys(mFrom: Map[String, String],
                              mTo: Map[String, String]): Set[String] =
    (dataEntries(mFrom).keySet ++ dataEntries(mTo).keySet).filter { p =>
      mFrom.get(p) != mTo.get(p) ||
        mFrom.get(s"$DelKeyPrefix$p") != mTo.get(s"$DelKeyPrefix$p") ||
        mFrom.get(s"$DeltaKeyPrefix$p") != mTo.get(s"$DeltaKeyPrefix$p")
    }

  /** CHANGE DATA FEED between two committed versions — the Delta-CDF /
    * Iceberg-changelog idea on the manifest seam, cheapest available path
    * first:
    *
    *  1. **Logged** (single-step, change feed enabled via
    *     [[enableChangeFeed]]): the mutator already staged this commit's
    *     net change rows under the same atomic flip (`__cdf` manifest
    *     entry) — read them back directly, O(change rows) I/O, no join.
    *  2. **Pruned diff** (any span): both as-of states are restricted to
    *     the partitions whose manifest entry or MoR sidecar set differs
    *     between the versions ([[changedDataKeys]]) before the keyed
    *     full-outer diff — identical entries are immutable dirs and
    *     provably contribute no change rows. A commit that touched 2 of
    *     10k partitions diffs exactly those 2: O(changed partitions), not
    *     O(table), which is what keeps the feed (and
    *     [[IncrementalMv]]/[[graft.streaming.TableTail]] on top of it)
    *     usable at 100 TB.
    *
    * Emits one row per changed key with `change_type` ∈ {`insert`,
    * `update_post`, `delete`}: post-image values for inserts/updates, the
    * pre-image for deletes ([[keyedDiff]]). Sound because keys are pinned
    * to partitions (the key→partition contract, see the object doc): a
    * key cannot move between an untouched and a touched partition without
    * touching both.
    */
  def tableChanges(spark: SparkSession, tablePath: String,
                   fromVersion: Long, toVersion: Long, keys: Seq[String],
                   committer: graft.streaming.VersionedCommitter): DataFrame = {
    val mFrom = committer.readManifestAsOf(tablePath, fromVersion)
    val mTo = committer.readManifestAsOf(tablePath, toVersion)
    // logged fast path: only a SINGLE-step span can consume a commit's log
    // directly (multi-version logs are per-commit deltas whose net
    // composition needs the from-state for delete pre-images and A→B→A
    // cancellation — exactly what the pruned diff computes anyway)
    val logged =
      if (toVersion == fromVersion + 1)
        loggedChanges(spark, tablePath, mFrom, mTo, keys)
      else None
    logged.getOrElse {
      val changed = changedDataKeys(mFrom, mTo)
      // an empty state (metadata-only version, or a fully-emptied table)
      // diffs as the other side's empty slice — all-inserts / all-deletes
      (dataEntries(mFrom).nonEmpty, dataEntries(mTo).nonEmpty) match {
        case (true, true) =>
          keyedDiff(
            ManifestTable.read(spark, tablePath, mFrom,
              dataEntries(mFrom).filter(e => changed(e._1))),
            ManifestTable.read(spark, tablePath, mTo,
              dataEntries(mTo).filter(e => changed(e._1))), keys)
        case (false, true) =>
          val post = ManifestTable.read(spark, tablePath, mTo,
            dataEntries(mTo).filter(e => changed(e._1)))
          keyedDiff(post.limit(0), post, keys)
        case (true, false) =>
          val pre = ManifestTable.read(spark, tablePath, mFrom,
            dataEntries(mFrom).filter(e => changed(e._1)))
          keyedDiff(pre, pre.limit(0), keys)
        case (false, false) => throw new IllegalArgumentException(
          s"neither version $fromVersion nor $toVersion of $tablePath has data entries")
      }
    }
  }

  /** The single-step `version-1 → version` change feed from the commit's
    * own staged log, when one is servable (change feed enabled at that
    * commit, matching keys, matching base-state fingerprint) — O(change
    * rows) read, no join. None ⇒ no servable log (compute the step via
    * [[tableChanges]]' pruned diff instead). The consumer seam stepwise
    * catch-up runs on ([[graft.streaming.TableTail]],
    * [[IncrementalMv]]).
    */
  /** The declared change-feed key columns (logical names) when the table
    * has CDF enabled — the SQL `CHANGES('<path>', v1, v2)` relation
    * resolves its keys here instead of making the caller restate them.
    */
  def changeFeedKeys(tablePath: String,
                     committer: SnapshotCommitter = AtomicRenameCommitter): Option[Seq[String]] = {
    val m = committer.readManifest(tablePath)
    m.get(CdfKeysKey).map(_.split(",").filter(_.nonEmpty).toSeq
      .map(toLogicalName(m, _)))
  }

  def tableChangesLogged(spark: SparkSession, tablePath: String,
                         version: Long, keys: Seq[String],
                         committer: graft.streaming.VersionedCommitter): Option[DataFrame] =
    try {
      val mFrom = committer.readManifestAsOf(tablePath, version - 1)
      val mTo = committer.readManifestAsOf(tablePath, version)
      loggedChanges(spark, tablePath, mFrom, mTo, keys)
    } catch {
      // an expired predecessor version means the step cannot be validated
      // against its base state — not servable, caller falls back
      case _: IllegalArgumentException => None
    }

  /** Partition values carrying change rows between two versions, derived
    * as cheaply as the history allows: the UNION of per-step logged feeds
    * when every step in the span has a servable log (O(Σ change rows)
    * read, no join — a superset of the netted set, safe for any
    * recompute-style consumer), otherwise the netted pruned diff's
    * partition values. The discovery seam [[IncrementalMv.refresh]] uses
    * to find its touched rollup groups without paying a diff join when
    * logs exist.
    */
  def changedPartitionValues(spark: SparkSession, tablePath: String,
                             fromVersion: Long, toVersion: Long,
                             keys: Seq[String], partCol: String,
                             committer: graft.streaming.VersionedCommitter): Seq[String] = {
    val steps = ((fromVersion + 1) to toVersion)
      .map(v => tableChangesLogged(spark, tablePath, v, keys, committer))
    val feed =
      if (steps.nonEmpty && steps.forall(_.isDefined))
        steps.flatten.reduce(_ unionByName _)
      else tableChanges(spark, tablePath, fromVersion, toVersion, keys, committer)
    feed.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
  }

  // ---- WRITE-TIME CHANGE FEED (Delta-CDF on the manifest seam) ----

  /** Inline metadata: the PHYSICAL key columns the table's change feed
    * diffs on (comma-joined). Present ⇒ every mutator stages this
    * commit's net change rows alongside its data, under the same flip.
    */
  private val CdfKeysKey = "__cdfkeys"

  /** Path metadata: THIS commit's staged change-row dir (rel). Strictly
    * per-commit — every commit either writes its own entry or drops the
    * predecessor's ([[dropCarriedCdf]] at every non-mutator commit seam),
    * so `manifestAsOf(v)`'s `__cdf` always describes exactly the v-1 → v
    * delta. A GC-live dir ref like `__del.`/`__delta.` ([[liveDirRefs]],
    * retained-version refs).
    */
  private[graft] val CdfRelKey = "__cdf"

  /** Inline metadata: fingerprint of the PRE-commit state the staged log
    * diffed against ([[stateFingerprint]]). The logged fast path serves a
    * commit's log only when the requested from-state matches this base —
    * the defense that makes a carried or COPIED log unservable even if a
    * commit path misses [[dropCarriedCdf]] (RESTORE commits an old
    * manifest verbatim as a new version; its carried log describes some
    * other transition entirely).
    */
  private[graft] val CdfBaseKey = "__cdfbase"

  /** Drop a predecessor's change-log keys from a manifest about to be
    * committed by anything OTHER than a log-staging mutator. Two reasons:
    * a carried `__cdf` would (a) be served as a stale feed for the wrong
    * version step, and (b) pin its batch dir against GC forever through
    * [[liveDirRefs]] even after every data entry moved on.
    */
  private[graft] def dropCarriedCdf(m: Map[String, String]): Map[String, String] =
    m - CdfRelKey - CdfBaseKey

  /** Order-independent fingerprint of a manifest's CONTENT-DETERMINING
    * entries (data dirs + MoR sidecars) — exactly the inputs the
    * write-time diff read. 64-bit-hex SHA-256 prefix: collision means two
    * different table states, same fingerprint — 2⁻³² at a billion
    * retained versions, and the blast radius is one wrong-but-plausible
    * feed served where a pruned diff would have been recomputed.
    */
  private def stateFingerprint(m: Map[String, String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    m.toSeq.filter { case (k, _) => !k.startsWith("__") ||
        k.startsWith(DelKeyPrefix) || k.startsWith(DeltaKeyPrefix) }
      .sortBy(_._1).foreach { case (k, v) =>
        md.update(s"$k\t$v\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Enable the write-time change feed: from the next commit on, every
    * mutator (CoW partition replaces — upsert/delete/update/merge — and
    * the MoR trickle paths) computes its net change rows ([[keyedDiff]]
    * of the touched partitions' pre vs post state, O(touched) work it
    * already pays for the rewrite) and stages them under the same atomic
    * flip as the data. [[tableChanges]] then serves single-step spans by
    * READING the log — O(change rows) bytes, no join — instead of
    * diffing. `keys` are the table's logical merge keys (the keys of
    * the key→partition contract, see the object doc).
    */
  def enableChangeFeed(tablePath: String, keys: Seq[String],
                       committer: SnapshotCommitter = AtomicRenameCommitter): Unit = {
    require(keys.nonEmpty && keys.forall(c => !c.contains(",") && !c.contains("\t")),
      "invalid change-feed key list")
    val manifest = committer.readManifest(tablePath)
    val phys = keys.map(physicalName(manifest, _))
    committer.commit(tablePath,
      dropCarriedCdf(manifest) + (CdfKeysKey -> phys.mkString(",")))
  }

  /** Drop the change-feed declaration (existing `__cdf` logs of retained
    * versions stay readable until their versions expire).
    */
  def disableChangeFeed(tablePath: String,
                        committer: SnapshotCommitter = AtomicRenameCommitter): Unit = {
    val manifest = committer.readManifest(tablePath)
    committer.commit(tablePath, dropCarriedCdf(manifest) - CdfKeysKey)
  }

  /** The commit's logged change rows, when `mTo` carries a `__cdf` entry
    * whose declared keys match the requested ones (order-sensitive — the
    * log's column layout is keyed on them). The read binds the schema the
    * log was written with (the commit's logical schema + `change_type`),
    * so an EMPTY log — a commit that changed nothing — reads back as the
    * empty feed instead of failing schema inference. None ⇒ caller falls
    * back to the pruned diff.
    */
  private def loggedChanges(spark: SparkSession, tablePath: String,
                            mFrom: Map[String, String],
                            mTo: Map[String, String],
                            keys: Seq[String]): Option[DataFrame] =
    for {
      rel <- mTo.get(CdfRelKey)
      declared <- mTo.get(CdfKeysKey)
      if declared.split(",").toSeq.map(toLogicalName(mTo, _)) == keys
      // the log is served ONLY against the exact state it diffed from: a
      // carried/copied log (a commit path that missed dropCarriedCdf, or
      // RESTORE re-committing an old manifest) fails this and the caller
      // recomputes the pruned diff instead of replaying the wrong delta
      base <- mTo.get(CdfBaseKey)
      if base == stateFingerprint(mFrom)
      phys <- committedSchemaOf(mTo)
    } yield {
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      val logical = phys.fields.map(f => f.copy(name = toLogicalName(mTo, f.name)))
      val schema = StructType(
        keys.flatMap(k => logical.find(_.name == k)) ++
          logical.filterNot(f => keys.contains(f.name)) :+
          StructField("change_type", StringType, nullable = true))
      spark.read.schema(schema).parquet(s"$tablePath/$rel")
    }

  /** Stage `prior`→`post` net change rows for a mutator about to commit
    * (no-op Map unless the change feed is enabled on `manifest`): writes
    * `<batchDirName>/__cdf` and returns the manifest entry binding it to
    * the commit. Both frames are LOGICAL-named states of exactly the
    * touched partitions — O(touched) diff, never O(table).
    */
  private def stageCdf(manifest: Map[String, String], tablePath: String,
                       batchDirName: String, pre: => DataFrame,
                       post: => DataFrame): Map[String, String] =
    manifest.get(CdfKeysKey) match {
      case Some(declared) =>
        val keysLog = declared.split(",").toSeq.map(toLogicalName(manifest, _))
        val rel = s"$batchDirName/__cdf"
        keyedDiff(pre, post, keysLog)
          .write.mode(SaveMode.Overwrite).parquet(s"$tablePath/$rel")
        Map(CdfRelKey -> rel, CdfBaseKey -> stateFingerprint(manifest))
      case None => Map.empty
    }

  /** Apply a change feed ([[tableChanges]] output: rows + `change_type`)
    * to a partitioned manifest REPLICA — the downstream-consumer half of
    * the CDF contract: instead of re-reading the source table, a replica
    * (materialized view, downstream mart, cross-region copy) advances by
    * merging the feed. Inserts/updates merge keep-latest by `keys` (feed
    * wins order ties, so replaying a feed is idempotent); deletes
    * anti-join their keys out. Work is partition-granular: only the
    * partitions carrying change rows are read and atomically replaced
    * ([[replacePartitionsAtomic]]) — O(feed partitions), not O(replica).
    * Applying `tableChanges(v_i, v_j)` to a replica at `v_i` yields
    * exactly the source at `v_j` (`TimeTravelSpec` pins the equivalence,
    * deletes included). Same key→partition contract as
    * [[upsertPartitionsAtomic]].
    */
  def applyChanges(spark: SparkSession, changes: DataFrame, tablePath: String,
                   partCol: String, keys: Seq[String], order: Seq[String],
                   committer: SnapshotCommitter = AtomicRenameCommitter,
                   extraMeta: Map[String, String] = Map.empty): Unit = {
    val upserts = changes.filter(col("change_type") =!= "delete")
      .drop("change_type")
    val dels = changes.filter(col("change_type") === "delete")
      .select(keys.map(col): _*)
    val touched = touchedPartitionsOf(
      changes.drop("change_type"), partCol, keys)
    val manifest = committer.readManifest(tablePath)
    // bound to the feed's schema: the feed carries the newest shape
    val existing = ManifestTable.read(spark, tablePath, manifest,
      entriesOf(manifest, touched),
      Some(toPhysical(upserts, manifest).schema))
    val kept = existing.join(dels, keys, "left_anti")
    val merged = mergeByKey(kept, upserts, keys, order)
    commitReplace(stageReplace(spark, merged, tablePath, partCol, touched,
      committer, extraMeta, manifestRead = Some(manifest)), committer)
  }

  /** Manifest entries that reference data dirs — `__`-prefixed keys are
    * METADATA riding the same atomic commit (e.g. the last-applied stream
    * batch id, the exactly-once ledger incremental dim maintenance needs):
    * readers skip them, GC treats their values as referencing nothing.
    */
  private[graft] def dataEntries(m: Map[String, String]): Map[String, String] =
    m.filterNot(_._1.startsWith("__"))

  /** SCHEMA EVOLUTION metadata key: every commit records the table schema
    * (compact Spark JSON — single line, tab-free, safe in the manifest's
    * line format) under the same atomic flip as the data it describes.
    * Readers bind the COMMITTED schema instead of inferring from files:
    * that is the whole add-column mechanism — a data dir written before a
    * column existed simply lacks it in its footers, and an explicit-schema
    * parquet read back-fills the missing column as null. As-of reads bind
    * the schema committed WITH that version, so history keeps its
    * contemporaneous shape (an old version never grows columns).
    */
  private val SchemaKey = "__schema"

  private def committedSchema(manifest: Map[String, String]): Option[org.apache.spark.sql.types.StructType] =
    manifest.get(SchemaKey).map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** The one schema-metadata contract, shared with the declarative read
    * path ([[graft.sources.ManifestFileIndex]]) so key name and encoding
    * can never desynchronize between writer and reader.
    */
  private[graft] def committedSchemaOf(manifest: Map[String, String]): Option[org.apache.spark.sql.types.StructType] =
    committedSchema(manifest)

  /** `schema` with every column, element and value nullable that is
    * nullable in `other`. A commit that keeps older dirs records its schema
    * through this with the committed one: reads bind the committed
    * nullability, so a column may be declared non-null only while no
    * committed dir can hold its nulls.
    */
  private def withNullsOf(schema: org.apache.spark.sql.types.StructType,
                          other: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def merge(t: DataType, o: DataType): DataType = (t, o) match {
      case (s: StructType, os: StructType) => StructType(s.fields.map(f =>
        os.fields.find(_.name == f.name).fold(f)(g => f.copy(
          dataType = merge(f.dataType, g.dataType), nullable = f.nullable || g.nullable))))
      case (a: ArrayType, oa: ArrayType) =>
        ArrayType(merge(a.elementType, oa.elementType), a.containsNull || oa.containsNull)
      case (m: MapType, om: MapType) => MapType(merge(m.keyType, om.keyType),
        merge(m.valueType, om.valueType), m.valueContainsNull || om.valueContainsNull)
      case _ => t
    }
    merge(schema, other).asInstanceOf[StructType]
  }

  /** Manifest partition KEY for a raw partition value — the key must match
    * the staged directory name, which `partitionBy` writes Hive-ESCAPED
    * (':', '%', ' ', '#', … encoded). Every lookup from a raw value goes
    * through this; forgetting it would make a delete/upsert of a
    * special-character partition a silent no-op against an escaped key.
    */
  private def partKey(raw: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(raw)

  /** The committed entries (manifest key → rel) of raw partition values;
    * a value with no entry reads nothing.
    */
  private def entriesOf(manifest: Map[String, String],
                        values: Seq[String]): Map[String, String] =
    values.map(partKey).flatMap(k => manifest.get(k).map(k -> _)).toMap

  /** Names of `prefix`-named subdirectories of `dir`, prefix stripped —
    * the staged-partition discovery idiom (`__part=`/`__dp=` dirs of a
    * just-written batch). Goes through [[TableFs]], so staging discovery
    * works on any Hadoop filesystem, not just local disk. */
  private def stagedDirNames(dir: String, prefix: String): Set[String] =
    TableFs.list(dir)
      .filter(f => f.isDirectory && f.getPath.getName.startsWith(prefix))
      .map(_.getPath.getName.stripPrefix(prefix)).toSet

  /** Add-only evolution contract: every committed column must survive with
    * its type (a drop or type change would make old data unreadable under
    * the new schema), and added columns must be nullable (their value on
    * pre-evolution rows IS null).
    */
  /** The WIDER of two types when one losslessly contains the other along
    * a sanctioned promotion chain — byte→short→int→long, float→double —
    * the widenings Spark 4's vectorized parquet reader performs natively
    * when the bound schema is wider than a file's footer (SPARK-40876),
    * which is what lets a widened committed schema read pre-widening data
    * dirs without rewriting them. None = not a sanctioned pair.
    */
  private def widen(a: org.apache.spark.sql.types.DataType,
                    b: org.apache.spark.sql.types.DataType): Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    val integral: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    val fractional: Seq[DataType] = Seq(FloatType, DoubleType)
    if (a == b) Some(a)
    else if (integral.contains(a) && integral.contains(b))
      Some(if (integral.indexOf(a) >= integral.indexOf(b)) a else b)
    else if (fractional.contains(a) && fractional.contains(b)) Some(DoubleType)
    else None
  }

  /** Add-only + widening evolution gate. Returns the MERGED schema: every
    * committed column at the wider of its committed and incoming types
    * (either direction — a widened table accepts narrow late-arriving
    * deltas, upcast at the write seam), plus incoming added columns
    * (nullable — their value on pre-evolution rows IS null). Anything
    * else — drop, rename-in-place, non-widening type change — refuses.
    */
  private def validateEvolution(oldSchema: org.apache.spark.sql.types.StructType,
                                newSchema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val merged = oldSchema.fields.map { f =>
      val nf = newSchema.fields.find(_.name == f.name)
      require(nf.isDefined,
        s"schema evolution is add-only: committed column ${f.name} is missing from the new schema")
      val w = widen(f.dataType, nf.get.dataType)
      require(w.isDefined,
        s"schema evolution allows add-only and lossless widening: column ${f.name} changed type ${f.dataType} -> ${nf.get.dataType}")
      f.copy(dataType = w.get)
    }
    val added = newSchema.fields.filterNot(f => oldSchema.fields.exists(_.name == f.name))
    added.foreach(f => require(f.nullable,
      s"added column ${f.name} must be nullable (old rows back-fill as null)"))
    org.apache.spark.sql.types.StructType(merged ++ added)
  }

  /** Cast a PHYSICAL-named frame up to the merged physical schema (no-op
    * when types already match) — late-arriving narrow deltas land widened
    * so every staged file carries the current committed types.
    */
  private def castToMerged(df: DataFrame,
                           merged: org.apache.spark.sql.types.StructType): DataFrame = {
    val target = merged.fields.map(f => f.name -> f.dataType).toMap
    if (df.schema.fields.forall(f => target.get(f.name).forall(_ == f.dataType))) df
    else df.select(df.columns.map { c =>
      target.get(c).filter(_ != df.schema(c).dataType)
        .map(t => col(c).cast(t).as(c)).getOrElse(col(c))
    }.toIndexedSeq: _*)
  }

  // ---- COLUMN RENAME without rewrite (Iceberg's name-mapping idea): the
  // name in the parquet files — the PHYSICAL name — is frozen at the
  // column's first commit; a rename only updates the manifest's
  // `__colmap` (physical→logical). Every read seam presents logical
  // names; every write seam translates logical→physical before staging.
  // History stays contemporaneous: an as-of read binds the colmap
  // committed WITH that version, so old versions keep their old names
  // (the same contract as `__schema`). Internal machinery — committed
  // schema, zone maps, bloom sidecars, CHECK constraints, the declarative
  // FileIndex — operates on physical names throughout and is untouched by
  // renames (`ManifestTable.read` composes the logical projection ABOVE its
  // relation, so pushed filters still reach the physical stats).

  private val ColMapKey = "__colmap"

  /** physical→logical entries (only where they differ). Encoded
    * `phys:logical` comma-joined — names are validated rename-time.
    */
  private[graft] def colMapOf(manifest: Map[String, String]): Map[String, String] =
    manifest.get(ColMapKey).map(_.split(",").filter(_.nonEmpty).map { kv =>
      val Array(p, l) = kv.split(":", 2); p -> l
    }.toMap).getOrElse(Map.empty)

  private def physicalName(manifest: Map[String, String], logical: String): String =
    colMapOf(manifest).collectFirst { case (p, l) if l == logical => p }
      .getOrElse(logical)

  /** Rename physical columns to their logical names (no-op without map). */
  private[graft] def toLogical(df: DataFrame, manifest: Map[String, String]): DataFrame = {
    val m = colMapOf(manifest)
    if (m.isEmpty) df
    else df.select(df.columns.map(c => col(c).as(m.getOrElse(c, c))).toIndexedSeq: _*)
  }

  /** Rename logical columns back to physical (idempotent: a frame already
    * in physical names has no logical-named columns to rename).
    */
  private[graft] def toPhysical(df: DataFrame, manifest: Map[String, String]): DataFrame = {
    val m = colMapOf(manifest)
    // a RETIRED physical name (shadowed by a rename) or a DROPPED one is
    // reserved: a frame carrying it would silently write into — or, for
    // drops, read back — the old column's storage on pre-DDL partitions
    // (and a rename-shadowed name carried alongside the new one would
    // mint duplicate physical columns)
    val retired = m.collect { case (p, l) if p != l => p }.toSet
    val offending = df.columns.filter(retired.contains)
    require(offending.isEmpty,
      s"column name(s) ${offending.mkString(",")} are retired physical names " +
        "(shadowed by a rename) — reintroduce the column under a fresh name")
    val mapped =
      if (m.isEmpty) df
      else {
        val inv = m.map(_.swap)
        df.select(df.columns.map(c => col(c).as(inv.getOrElse(c, c))).toIndexedSeq: _*)
      }
    val dropped = mapped.columns.filter(droppedColsOf(manifest).contains)
    require(dropped.isEmpty,
      s"column name(s) ${dropped.mkString(",")} were dropped from this table " +
        "— old data dirs still carry values under those physical names, so " +
        "reintroduce the column under a fresh name")
    mapped
  }

  /** Rename logical column `from` to `to` — a metadata-only commit, no
    * data rewrite; O(1) whatever the table size. Refuses name collisions
    * and encoding-unsafe characters.
    */
  def renameColumn(tablePath: String, from: String, to: String,
                   committer: SnapshotCommitter = AtomicRenameCommitter): Unit = withOp(committer, tablePath, s"rename_column($from->$to)") {
    require(from != to, "rename to the same name is a no-op")
    require(!to.contains(",") && !to.contains(":") && !to.contains("\t") && to.nonEmpty,
      s"invalid column name '$to'")
    val manifest = committer.readManifest(tablePath)
    val m = colMapOf(manifest)
    val physSchema = committedSchema(manifest).getOrElse(throw new IllegalStateException(
      s"no committed schema at $tablePath — rename needs schema metadata"))
    val logicalNames = physSchema.fieldNames.map(p => m.getOrElse(p, p)).toSet
    // `from` must be a CURRENT logical name — the bare-physical fallback
    // would let a shadowed physical name silently rename the WRONG column
    require(logicalNames.contains(from),
      s"no column '$from' in the committed table (current columns: " +
        s"${logicalNames.toSeq.sorted.mkString(",")})")
    val phys = physicalName(manifest, from)
    require(!logicalNames.contains(to),
      s"column name '$to' already exists")
    val m2 = (m - phys) ++ (if (phys == to) Map.empty else Map(phys -> to))
    val updated =
      if (m2.isEmpty) manifest - ColMapKey
      else manifest + (ColMapKey -> m2.toSeq.sorted.map { case (p, l) => s"$p:$l" }.mkString(","))
    committer.commit(tablePath, dropCarriedCdf(updated))
  }

  // ---- COLUMN DROP without rewrite: like rename, a metadata-only commit.
  // The committed `__schema` loses the field, so every explicit-schema
  // read simply stops binding it (parquet ignores extra file columns) —
  // no data dir is touched, O(1) whatever the table size. As-of reads
  // bind the contemporaneous schema, so history keeps the column. The
  // physical name goes into `__dropcols` PERMANENTLY: old files still
  // carry values under it, so a later column re-using the name would
  // resurrect stale data on pre-drop partitions instead of reading null —
  // the write seam refuses it (same contract as rename-retired names;
  // Iceberg avoids this with field IDs, name-mapping must reserve).

  private val DropColsKey = "__dropcols"
  /** Partition column (physical), recorded at every partition-staging
    * commit — lets metadata-only DDL refuse operations that would break
    * the partitioning (e.g. dropping the partition column).
    */
  private val PartColKey = "__partcol"

  private[graft] def droppedColsOf(manifest: Map[String, String]): Set[String] =
    manifest.get(DropColsKey).map(_.split(",").filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** Drop logical column `name` — metadata-only, no data rewrite. Refuses
    * the partition column, the last remaining column, and any column a
    * CHECK constraint or stats declaration still references (stats
    * declarations are auto-stripped; CHECKs must be dropped first, they
    * encode intent). The physical name is retired forever (see above).
    */
  def dropColumn(tablePath: String, name: String,
                 committer: SnapshotCommitter = AtomicRenameCommitter): Unit = withOp(committer, tablePath, s"drop_column($name)") {
    val manifest = committer.readManifest(tablePath)
    val m = colMapOf(manifest)
    val physSchema = committedSchema(manifest).getOrElse(throw new IllegalStateException(
      s"no committed schema at $tablePath — drop needs schema metadata"))
    val logicalNames = physSchema.fieldNames.map(p => m.getOrElse(p, p)).toSet
    require(logicalNames.contains(name),
      s"no column '$name' in the committed table (current columns: " +
        s"${logicalNames.toSeq.sorted.mkString(",")})")
    val phys = physicalName(manifest, name)
    require(!manifest.get(PartColKey).contains(phys),
      s"cannot drop the partition column '$name'")
    require(!delKeysOf(manifest).contains(phys),
      s"cannot drop '$name': committed deletion sidecars key on it")
    require(!upKeysOf(manifest).contains(phys) &&
      !manifest.get(UpOrderKey).exists(_.split(",").contains(phys)),
      s"cannot drop '$name': committed delta sidecars key or order on it")
    require(physSchema.fields.length > 1, "cannot drop the last column")
    // a CHECK referencing the column would fail every later staging scan —
    // refuse here, loudly, instead
    val word = ("(?<![A-Za-z0-9_])(" + java.util.regex.Pattern.quote(phys) +
      (if (phys == name) "" else "|" + java.util.regex.Pattern.quote(name)) +
      ")(?![A-Za-z0-9_])").r
    manifest.foreach { case (k, v) =>
      if (k.startsWith(CheckPrefix))
        require(word.findFirstIn(v).isEmpty,
          s"CHECK constraint '${k.stripPrefix(CheckPrefix)}' references " +
            s"column '$name' — drop the constraint first")
    }
    // stats declarations auto-strip (they are derived acceleration, not
    // intent); per-partition range JSON keys for the column go stale but
    // are never consulted again (rangeOf looks up by column name)
    val ranges2 = rangeStatsCols(manifest).filterNot(_ == phys)
    val blooms2 = bloomStatsCols(manifest).filterNot(_ == phys)
    val newSchema = org.apache.spark.sql.types.StructType(
      physSchema.fields.filterNot(_.name == phys))
    val m2 = m - phys
    val updated = manifest +
      (SchemaKey -> newSchema.json) +
      (DropColsKey -> (droppedColsOf(manifest) + phys).toSeq.sorted.mkString(",")) ++
      (if (m2.isEmpty) Map.empty else Map(ColMapKey ->
        m2.toSeq.sorted.map { case (p, l) => s"$p:$l" }.mkString(","))) ++
      (if (ranges2.nonEmpty) Map(RangeColsKey -> ranges2.mkString(",")) else Map.empty) ++
      (if (blooms2.nonEmpty) Map(BloomColsKey -> blooms2.mkString(",")) else Map.empty)
    val cleaned = updated --
      (if (m2.isEmpty) Seq(ColMapKey) else Nil) --
      (if (ranges2.isEmpty) Seq(RangeColsKey) else Nil) --
      (if (blooms2.isEmpty) Seq(BloomColsKey, BloomItemsKey, BloomFppKey) else Nil)
    committer.commit(tablePath, dropCarriedCdf(cleaned))
  }

  // ---- MERGE-ON-READ DELETES (deletion sidecars): a point delete at
  // 100 TB must not rewrite a partition — the copy-on-write forms
  // ([[deleteWhere]]) pay O(partition) per delete, the Delta/Iceberg-v2
  // answer is a small sidecar of deleted KEYS applied as an anti-join at
  // read time. `__del.<part>` manifest entries point at per-partition
  // key-list dirs (rows = partition column + key columns, PHYSICAL
  // names); every read seam anti-joins the union — one broadcast-sized
  // join against sidecars that are O(deleted keys), nothing else changes.
  // Deletes MATERIALIZE whenever their partition rewrites (upsert,
  // replace, compaction): the rewrite's source read is delete-aware, so
  // the commit drops the sidecar entry with the rewrite.

  private val DelKeyPrefix = "__del."
  /** Key columns (physical, comma-joined) the delete sidecars carry —
    * fixed at the first MoR delete so every sidecar and every read-side
    * anti-join agree.
    */
  private val DelKeysKey = "__delkeys"

  private def delKeysOf(manifest: Map[String, String]): Seq[String] =
    manifest.get(DelKeysKey).map(_.split(",").toSeq).getOrElse(Nil)

  // ---- MERGE-ON-READ UPSERTS (delta sidecars): the write-side companion
  // of the deletion sidecars. A trickle upsert at 100 TB must not rewrite
  // a partition either — `__delta.<part>` manifest entries point at
  // per-partition PRE-MERGED row dirs (full physical schema, one row per
  // key, latest by the merge order); a read anti-joins the delta's keys
  // out of the base and unions the delta rows in. Sidecars MATERIALIZE
  // whenever their partition rewrites, exactly like deletions.

  private val DeltaKeyPrefix = "__delta."
  /** Merge keys / order columns (physical, comma-joined) the delta
    * sidecars were merged by — fixed at the first MoR upsert so sidecar
    * merging and the read-side anti-join stay consistent.
    */
  private val UpKeysKey = "__upkeys"
  private val UpOrderKey = "__uporder"

  private def upKeysOf(manifest: Map[String, String]): Seq[String] =
    manifest.get(UpKeysKey).map(_.split(",").toSeq).getOrElse(Nil)

  /** True for a key whose value is an on-disk dir: data entries and the
    * `__del.`/`__delta.`/`__cdf` sidecars (other `__` values are inline).
    */
  private def isDirRef(k: String): Boolean =
    !k.startsWith("__") || k.startsWith(DelKeyPrefix) ||
      k.startsWith(DeltaKeyPrefix) || k == CdfRelKey

  /** The dirs a manifest references — the live set of every staging GC. */
  private[graft] def liveDirRefs(manifest: Map[String, String]): Set[String] =
    manifest.collect { case (k, v) if isDirRef(k) => v }.toSet

  /** Sidecar rels committed for `prefix`, restricted to `parts` when a
    * pruned read supplies the partition set it actually lists (None = the
    * whole table). Keys are Hive-escaped partition values in both places,
    * so the restriction is exact string match.
    */
  private def sidecarRels(manifest: Map[String, String], prefix: String,
                          parts: Option[Set[String]]): Seq[String] =
    manifest.collect {
      case (k, v) if k.startsWith(prefix) &&
        parts.forall(_.contains(k.stripPrefix(prefix))) => v
    }.toSeq

  /** Apply pending MoR sidecars to a PHYSICAL-named frame (no-op when
    * none are committed): anti-join the deletion keys out of the base,
    * then anti-join the delta keys and union the delta rows in — deletes
    * first, so an upsert AFTER a delete of the same key resurrects it
    * (and [[deleteKeysMor]] rewrites delta sidecars, so a delete AFTER an
    * upsert lands too). Join columns always include the partition column,
    * and `parts` restricts which sidecars a pruned read consults, so a
    * read that never lists a partition is unaffected by its sidecars.
    * Both joins are UNHINTED: a sidecar is usually tiny (one trickle
    * batch) and the parquet size stats let the planner auto-broadcast it,
    * but it is bounded only by the pending-write volume — a forced
    * broadcast() would bypass the size check and OOM the one table whose
    * backlog grew, where size-based planning degrades to a shuffle join
    * (the HintPolicySpec rule). The union adds O(pending upserts) —
    * nothing O(table).
    */
  private[graft] def applyMor(spark: SparkSession, dfPhys: DataFrame,
                              manifest: Map[String, String],
                              tablePath: String,
                              parts: Option[Set[String]] = None): DataFrame = {
    val delRels = sidecarRels(manifest, DelKeyPrefix, parts)
    val afterDel =
      if (delRels.isEmpty) dfPhys
      else {
        val joinCols = manifest(PartColKey) +: delKeysOf(manifest)
        val dels = spark.read.parquet(delRels.map(r => s"$tablePath/$r"): _*)
          .select(joinCols.map(col): _*)
        dfPhys.join(dels, joinCols, "left_anti")
      }
    val deltaRels = sidecarRels(manifest, DeltaKeyPrefix, parts)
    if (deltaRels.isEmpty) afterDel
    else {
      val joinCols = manifest(PartColKey) +: upKeysOf(manifest)
      // bind the base frame's physical schema: delta files always carry
      // the full committed schema (the MoR upsert's schema gate)
      val delta = spark.read.schema(afterDel.schema)
        .parquet(deltaRels.map(r => s"$tablePath/$r"): _*)
      afterDel
        .join(delta.select(joinCols.map(col): _*), joinCols, "left_anti")
        .unionByName(delta.select(afterDel.columns.map(col).toIndexedSeq: _*))
    }
  }

  /** The table's partition column under its LOGICAL (presented) name, if
    * the manifest records one — the handle SQL DML statements resolve so
    * their grammar needs no redundant PARTITIONED BY clause.
    */
  def partitionColumnOf(tablePath: String,
                        committer: SnapshotCommitter = AtomicRenameCommitter): Option[String] = {
    val m = committer.readManifest(tablePath)
    m.get(PartColKey).map(toLogicalName(m, _))
  }

  /** The `__`-prefixed metadata committed with the table (empty when none
    * or the table doesn't exist).
    */
  def tableMeta(tablePath: String,
                committer: SnapshotCommitter = AtomicRenameCommitter): Map[String, String] =
    committer.readManifest(tablePath).collect {
      case (k, v) if k.startsWith("__") => k.stripPrefix("__") -> v
    }

  /** CHECK-constraint metadata key prefix: `__check.<name>` → SQL boolean
    * expression, riding the manifest like the committed schema. SQL CHECK
    * semantics: a row violates only when the expression is FALSE — NULL
    * passes. Enforced on every partition-staging commit by reading back
    * the STAGED files (one scan of the delta, validating the actual bytes
    * about to become visible) before the flip; a violation abandons the
    * staging with the previous manifest untouched.
    */
  private val CheckPrefix = "__check."

  /** The table's committed CHECK constraints (name → SQL expression). */
  def constraints(tablePath: String,
                  committer: SnapshotCommitter = AtomicRenameCommitter): Map[String, String] =
    checksOf(committer.readManifest(tablePath))

  private def checksOf(manifest: Map[String, String]): Map[String, String] =
    manifest.collect {
      case (k, v) if k.startsWith(CheckPrefix) => k.stripPrefix(CheckPrefix) -> v
    }

  /** Add (or replace) a CHECK constraint. The EXISTING committed table is
    * validated first — a constraint the current data violates is rejected,
    * so a committed constraint is always an invariant, never an aspiration.
    */
  def addConstraint(spark: SparkSession, tablePath: String, name: String,
                    exprSql: String,
                    committer: SnapshotCommitter = AtomicRenameCommitter): Unit = {
    require(name.matches("[A-Za-z0-9_-]+"), s"invalid constraint name '$name'")
    require(!exprSql.contains("\t") && !exprSql.contains("\n"),
      "constraint expression must be a single line")
    val manifest = committer.readManifest(tablePath)
    if (manifest.exists(e => !e._1.startsWith("__"))) {
      val bad = violationCounts(readTable(spark, tablePath, committer),
        Map(name -> exprSql))
      require(bad.isEmpty,
        s"existing rows violate CHECK $name ($exprSql): ${bad(name)} rows")
    }
    committer.commit(tablePath,
      dropCarriedCdf(manifest) + (s"$CheckPrefix$name" -> exprSql))
  }

  def dropConstraint(tablePath: String, name: String,
                     committer: SnapshotCommitter = AtomicRenameCommitter): Unit = {
    val manifest = committer.readManifest(tablePath)
    committer.commit(tablePath, dropCarriedCdf(manifest) - s"$CheckPrefix$name")
  }

  /** Per-constraint violating-row counts over `df`, ALL constraints in one
    * aggregate pass (empty map = all pass). NULL passes (SQL CHECK).
    */
  private def violationCounts(df: DataFrame,
                              checks: Map[String, String]): Map[String, Long] = {
    if (checks.isEmpty) return Map.empty
    val named = checks.toSeq.sortBy(_._1)
    val aggs = named.map { case (n, e) =>
      sum(when(!coalesce(expr(e), lit(true)), 1L).otherwise(0L)).as(n)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    named.indices.flatMap { i =>
      val c = if (row.isNullAt(i)) 0L else row.getLong(i) // empty df → null sums
      if (c > 0) Some(named(i)._1 -> c) else None
    }.toMap
  }

  /** Thrown when a commit's staged rows violate committed CHECKs. */
  final class CheckViolationException(val counts: Map[String, Long], checks: Map[String, String])
    extends RuntimeException(
      "CHECK constraint violation(s), commit aborted: " +
        counts.toSeq.sorted.map { case (n, c) => s"$n (${checks(n)}): $c rows" }
          .mkString("; "))

  // ---- manifest-level ZONE MAPS: per-partition [min,max] column ranges
  // riding the commit as `__range.<partition>` metadata, recorded for the
  // columns named by `__rangeCols`. Pruning ABOVE the file listing — the
  // Delta/Iceberg file-stats idea lifted to the manifest: parquet footers
  // already skip row groups once a file is OPENED, but at a 50k-file table
  // the manifest read replaces listing-and-opening every footer whose
  // partition cannot match. Stats are recomputed whenever a partition is
  // rewritten (upsert / replace / delete / update all stage through the
  // same path); compaction preserves content, so its entries stay valid
  // verbatim. Numeric/timestamp columns, compared as double.

  private val RangeColsKey = "__rangeCols"
  private val RangeKeyPrefix = "__range."

  /** Enable zone maps for `cols` on this table: every LATER
    * partition-staging commit records each written partition's ranges
    * (one aggregate over the staged bytes); partitions written before
    * enabling gain stats when next rewritten (absent stats = read, never
    * wrongly skipped).
    */
  def enableRangeStats(tablePath: String, cols: Seq[String],
                       committer: SnapshotCommitter = AtomicRenameCommitter): Unit = {
    require(cols.nonEmpty && cols.forall(c => !c.contains(",") && !c.contains("\t")),
      "invalid stats column list")
    val manifest = committer.readManifest(tablePath)
    // callers speak logical names; the stats machinery (staged aggregates,
    // manifest entries, FileIndex consults) is physical throughout
    val phys = cols.map(physicalName(manifest, _))
    committer.commit(tablePath,
      dropCarriedCdf(manifest) + (RangeColsKey -> phys.mkString(",")))
  }

  /** Drop the zone-map declaration (existing `__range.` entries expire as
    * their partitions rewrite).
    */
  def disableRangeStats(tablePath: String,
                        committer: SnapshotCommitter = AtomicRenameCommitter): Unit = {
    val manifest = committer.readManifest(tablePath)
    committer.commit(tablePath, dropCarriedCdf(manifest) - RangeColsKey)
  }

  private[graft] def rangeStatsCols(manifest: Map[String, String]): Seq[String] =
    manifest.get(RangeColsKey).map(_.split(",").toSeq).getOrElse(Nil)

  /** Committed [min,max] of `column` in `partition`, if recorded (None =
    * no stats, or an all-null column — both mean "cannot prune").
    */
  private[graft] def rangeOf(manifest: Map[String, String], partition: String,
                                column: String): Option[(Double, Double)] =
    manifest.get(s"$RangeKeyPrefix$partition").flatMap(parseRange(_, column))

  /** Public seam for sidecar consumers that batch-read a partition's
    * file stats once and parse per file (avoids re-resolving the sidecar
    * per (file, column) pair in the listing hot path).
    */
  private[graft] def parseRangeJson(json: String, column: String): Option[(Double, Double)] =
    parseRange(json, column)

  private def parseRange(json: String, column: String): Option[(Double, Double)] = {
    val re = ("\"" + java.util.regex.Pattern.quote(column) +
      "\":\\[([-0-9.eE]+),([-0-9.eE]+)\\]").r
    re.findFirstMatchIn(json).map(m => (m.group(1).toDouble, m.group(2).toDouble))
  }

  // ---- FILE-LEVEL zone maps (Delta's per-file stats): `__frange.<p>/<f>`
  // entries record each data FILE's [min,max] per declared stats column,
  // harvested from the parquet footers the staging write just produced
  // (a local metadata read — no second data scan). The declarative
  // FileIndex then prunes inside a surviving partition: files whose
  // committed range cannot intersect the pushed bounds are never listed
  // into the scan. This is the skipping granularity Delta/Iceberg live
  // on at 100 TB — partition pruning bounds the dirs, file stats bound
  // the object GETs (Spark's own row-group pruning still needs a footer
  // read PER FILE per task; the manifest answers without touching the
  // object store). Same one-sided contract as every zone map: absent or
  // unparseable entries keep the file. A production deployment would
  // page these entries into a checkpoint file once the manifest grows
  // past a few MB — the encoding (one entry per file) is checkpoint-ready.

  private val FileRangeKeyPrefix = "__frange."

  // ---- MANIFEST CHECKPOINTING for file stats: `__fstats.<p>` points at
  // ONE per-partition sidecar file (written into the partition's own
  // staged dir, so it is immutable and lives/dies with its batch) whose
  // lines are `<fileName>\t<stats json>` — one line per data file. The
  // manifest itself stays O(#partitions) no matter how many files the
  // table holds: a 50k-file table commits a 50k-line flat manifest under
  // the legacy per-file encoding, but only #partitions pointer entries
  // here — the Delta/Iceberg checkpoint idea, which is what keeps the
  // O(1)-ish flip affordable at 100 TB. Legacy `__frange.<p>/<f>`
  // entries are still READ (old tables keep pruning); new commits write
  // sidecars only.

  private val FileStatsKeyPrefix = "__fstats."
  private val FileStatsSidecarName = "_filestats.tsv"

  /** Parsed sidecar cache: sidecar files are immutable once committed
    * (every rewrite stages a NEW sidecar in a new batch dir), so a
    * process-level cache never serves stale stats. Bounded by the number
    * of live (table, batch) sidecars a process touches.
    */
  private val fileStatsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]
  // superseded sidecars are never re-read but their parsed entries would
  // otherwise accumulate forever in a resident process (every partition
  // rewrite stages a NEW sidecar path): at the cap, evict ONE arbitrary
  // entry — a full clear() would thunder every live sidecar through a
  // simultaneous re-read, and entries are immutable so any victim is safe
  private val FileStatsCacheCap = 4096

  /** fileName → stats-json for `partition`, from the committed sidecar
    * (checkpointed encoding) falling back to legacy per-file manifest
    * entries. Empty = no stats (cannot prune — the one-sided contract).
    * Sidecars are resolved through [[graft.streaming.TableFs]] like every
    * manifest read in this committer stack (the Hadoop FileSystem seam —
    * local, HDFS, or an object-store connector); a momentarily unreadable
    * sidecar degrades to no-skip for THIS call only and is never
    * negatively cached, so a transient failure self-heals on the next
    * read.
    */
  private[graft] def fileStatsOf(tablePath: String, manifest: Map[String, String],
                                 partition: String): Map[String, String] =
    manifest.get(s"$FileStatsKeyPrefix$partition") match {
      case Some(rel) =>
        val abs = s"$tablePath/$rel"
        val hit = fileStatsCache.get(abs)
        if (hit != null) hit // cache hit pays no filesystem stat
        else {
          if (fileStatsCache.size > FileStatsCacheCap) {
            val victims = fileStatsCache.keys()
            if (victims.hasMoreElements) fileStatsCache.remove(victims.nextElement())
          }
          // read-or-degrade, UNCACHED on failure: a sidecar GC'd between
          // any existence check and the read (a reader holding a
          // pre-rewrite manifest racing the grace window) must degrade to
          // no-skip for THIS call, never fail the scan or poison the cache
          try fileStatsCache.computeIfAbsent(abs, _ =>
            TableFs.readString(abs)
              .split("\n").filter(_.nonEmpty).map { l =>
                val Array(n, j) = l.split("\t", 2); n -> j
              }.toMap)
          catch { case _: java.io.IOException => Map.empty[String, String] }
        }
      case None =>
        val pfx = s"$FileRangeKeyPrefix$partition/"
        manifest.collect { case (k, v) if k.startsWith(pfx) =>
          k.stripPrefix(pfx) -> v
        }
    }

  /** Committed [min,max] of `column` in `partition`/`fileName` (None =
    * never recorded, stale, or all-null — all mean "cannot prune").
    */
  private[graft] def fileRangeOf(tablePath: String, manifest: Map[String, String],
                                 partition: String,
                                 fileName: String, column: String): Option[(Double, Double)] =
    fileStatsOf(tablePath, manifest, partition).get(fileName)
      .flatMap(parseRange(_, column))

  // ---- manifest ROW COUNTS: `__rows.<p>` → the partition's exact base
  // row count, harvested from the same footers as the file stats (the
  // parquet footer already carries per-row-group counts — zero data
  // I/O). Committed in the same flip as the data they describe, so they
  // are NEVER stale — which is what lets COUNT(*) answer from metadata
  // (the Delta "metadata-only query" optimization). Pending MoR sidecars
  // change the PRESENTED count without touching base entries; every
  // metadata-count consumer therefore refuses when sidecars pend.

  private[graft] val RowsKeyPrefix = "__rows."

  /** Footer-harvested entries for the staged partitions — `__rows.<p>`
    * always (counts are free), `__frange.<p>/<f>` when range stats are
    * declared. ONE footer read per file serves both.
    */
  private def stagedFooterEntries(spark: SparkSession,
                                  manifest: Map[String, String],
                                  tablePath: String, batchDirName: String,
                                  writtenParts: Set[String],
                                  dataCols: Seq[String]): Map[String, String] = {
    if (writtenParts.isEmpty) return Map.empty
    val cols0 = rangeStatsCols(manifest).filter(dataCols.contains)
    writtenParts.toSeq.flatMap { p =>
      footerEntriesForDir(spark, cols0, tablePath, p,
        s"$batchDirName/__part=$p")
    }.toMap
  }

  /** `__rows.<p>` + (when `cols0` nonEmpty) `__frange.<p>/<f>` entries
    * for one partition dir — compaction's regeneration seam too.
    */
  private[graft] def footerEntriesForDir(spark: SparkSession,
                                         cols0: Seq[String],
                                         tablePath: String, partitionKey: String,
                                         rel: String): Map[String, String] = {
    val conf = spark.sessionState.newHadoopConf()
    val files = TableFs.list(s"$tablePath/$rel")
      .filter(f => f.isFile && !f.getPath.getName.startsWith(".") &&
        !f.getPath.getName.startsWith("_"))
    var rows = 0L
    val perFile = files.flatMap { f =>
      val (mm, n) = footerStats(conf, f.getPath.toString, cols0.toSet)
      rows += n
      if (cols0.isEmpty) None
      else {
        val body = cols0.map { c =>
          mm.get(c) match {
            case Some((mn, mx)) => s""""$c":[$mn,$mx]"""
            case None           => s""""$c":null"""
          }
        }.mkString("{", ",", "}")
        Some(f.getPath.getName -> body)
      }
    }.sortBy(_._1)
    // checkpointed encoding: ONE sidecar file per partition, one manifest
    // pointer entry — the manifest stays O(#partitions) in file count
    val fstats =
      if (perFile.isEmpty) Map.empty[String, String]
      else {
        val sidecarRel = s"$rel/$FileStatsSidecarName"
        val body = perFile.map { case (n, j) => s"$n\t$j" }.mkString("\n")
        TableFs.writeString(s"$tablePath/$sidecarRel", body)
        Map(s"$FileStatsKeyPrefix$partitionKey" -> sidecarRel)
      }
    fstats + (s"$RowsKeyPrefix$partitionKey" -> rows.toString)
  }

  private[graft] def staleFileRangeKeys(manifest: Map[String, String],
                                        partitionKey: String): Set[String] =
    manifest.keySet.filter(_.startsWith(s"$FileRangeKeyPrefix$partitionKey/")) ++
      manifest.keySet.filter(_ == s"$FileStatsKeyPrefix$partitionKey")

  /** Narrow an integral footer statistic to double WITHOUT letting the
    * rounded range exclude true values: for |v| > 2^53 the nearest
    * double can land strictly inside the true range, and a pruner
    * trusting that range would wrongly skip a file holding matching
    * rows. Round the min downward / the max upward instead — one ulp
    * step always covers the ≤ half-ulp nearest-rounding error, so the
    * committed range CONTAINS the true range (at worst admitting one
    * extra ulp of false-positive scan, never a false skip).
    */
  // NB: the comparisons must be EXACT-binary (java.math.BigDecimal(d)
  // expands the double's true value) — Scala's BigDecimal(d) goes through
  // the double's shortest decimal string, which can sit on the OTHER side
  // of the long and flip the adjustment direction.
  private def doubleAtMost(n: java.lang.Number): Double = n match {
    case _: java.lang.Long | _: java.lang.Integer =>
      val v = n.longValue(); val d = v.toDouble
      if (new java.math.BigDecimal(d)
          .compareTo(java.math.BigDecimal.valueOf(v)) > 0) Math.nextDown(d)
      else d
    case _ => n.doubleValue()
  }

  private def doubleAtLeast(n: java.lang.Number): Double = n match {
    case _: java.lang.Long | _: java.lang.Integer =>
      val v = n.longValue(); val d = v.toDouble
      if (new java.math.BigDecimal(d)
          .compareTo(java.math.BigDecimal.valueOf(v)) < 0) Math.nextUp(d)
      else d
    case _ => n.doubleValue()
  }

  /** One footer read: (per requested column [min,max] over all row groups
    * — numeric physical types only, absent/empty statistics omitted —
    * and the file's exact row count).
    */
  private def footerStats(conf: org.apache.hadoop.conf.Configuration,
                          file: String,
                          cols: Set[String]): (Map[String, (Double, Double)], Long) = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(file), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val ranges = blocks
        .flatMap(_.getColumns.asScala)
        .filter(cc => cc.getPath.size == 1 && cols.contains(cc.getPath.toDotString))
        .flatMap { cc =>
          val st = cc.getStatistics
          if (st == null || st.isEmpty || !st.hasNonNullValue) None
          else (st.genericGetMin, st.genericGetMax) match {
            case (mn: java.lang.Number, mx: java.lang.Number) =>
              Some(cc.getPath.toDotString ->
                (doubleAtMost(mn), doubleAtLeast(mx)))
            case _ => None // non-numeric (binary/string): no file pruning
          }
        }
        .groupBy(_._1).map { case (c, vs) =>
          c -> (vs.map(_._2._1).min, vs.map(_._2._2).max)
        }
      (ranges, rows)
    } finally reader.close()
  }

  /** Exact row count of the partitions `parts` from manifest metadata
    * alone, when it is PROVABLY the presented count: each carries a
    * committed `__rows` entry and no MoR sidecar pends on it (a sidecar
    * changes the presented count without touching base entries). None =
    * count by scanning; never a wrong number.
    */
  private[graft] def metadataRowCount(manifest: Map[String, String],
                                      parts: Set[String]): Option[Long] = {
    if (parts.exists(p => manifest.contains(s"$DelKeyPrefix$p") ||
        manifest.contains(s"$DeltaKeyPrefix$p"))) return None
    val counts = parts.toSeq.map(p => manifest.get(s"$RowsKeyPrefix$p"))
    if (counts.exists(_.isEmpty)) None
    else Some(counts.flatten.map(_.toLong).sum)
  }

  /** [[metadataRowCount]] of the whole table (None when it has no data). */
  private[graft] def metadataRowCount(manifest: Map[String, String]): Option[Long] = {
    val data = dataEntries(manifest)
    if (data.isEmpty) None else metadataRowCount(manifest, data.keySet)
  }

  /** Footer-proved row count of a manifest-relative dir — one local
    * metadata read per file, no data scan. Missing dir counts as 0. */
  private[graft] def dirFooterRows(spark: SparkSession, tablePath: String,
                                   rel: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    TableFs.list(s"$tablePath/$rel")
      .filter(f => f.isFile && !f.getPath.getName.startsWith(".") &&
        !f.getPath.getName.startsWith("_"))
      .map(f => footerStats(conf, f.getPath.toString, Set.empty)._2).sum
  }

  /** Σ footer-proved rows of every per-commit change log in
    * `(from, to]` — the READ COST of a stepwise logged catch-up
    * ([[graft.streaming.TableTail]]). None when any step lacks a log or
    * its version has expired (stepwise isn't servable there anyway).
    */
  private[graft] def loggedChangeRowEstimate(spark: SparkSession,
      tablePath: String, from: Long, to: Long,
      committer: graft.streaming.VersionedCommitter): Option[Long] =
    try {
      val per = ((from + 1) to to).map { v =>
        committer.readManifestAsOf(tablePath, v).get(CdfRelKey)
          .map(rel => dirFooterRows(spark, tablePath, rel))
      }
      if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
    } catch { case _: IllegalArgumentException => None }

  /** Estimated rows the NETTED diff join between two versions must read:
    * the committed `__rows` stamps of every changed partition at BOTH
    * endpoint versions (changed = data entry or MoR sidecar entry
    * differs — the same manifest-diff pruning [[tableChanges]] applies).
    * None when a present changed partition lacks a stamp (pre-stamping
    * history) — an estimate that can't be proved stays unknown, never a
    * guess. Metadata-only: two manifest reads, no I/O against data.
    */
  private[graft] def nettedDiffReadEstimate(tablePath: String,
      from: Long, to: Long,
      committer: graft.streaming.VersionedCommitter): Option[Long] =
    try {
      val mFrom = committer.readManifestAsOf(tablePath, from)
      val mTo = committer.readManifestAsOf(tablePath, to)
      val changed = (mFrom.keySet ++ mTo.keySet)
        .filterNot(_.startsWith("__")).filter { p =>
          mFrom.get(p) != mTo.get(p) ||
            mFrom.get(s"$DelKeyPrefix$p") != mTo.get(s"$DelKeyPrefix$p") ||
            mFrom.get(s"$DeltaKeyPrefix$p") != mTo.get(s"$DeltaKeyPrefix$p")
        }
      val sides = changed.toSeq.flatMap { p =>
        Seq(mFrom, mTo).flatMap(m =>
          m.get(p).map(_ => m.get(s"$RowsKeyPrefix$p")))
      }
      if (sides.exists(_.isEmpty)) None
      else Some(sides.flatten.map(_.toLong).sum)
    } catch { case _: IllegalArgumentException => None }

  /** COUNT(*) metadata-first: the committed `__rows` sum when provable,
    * else one scan. `readTable(...).count()` gets the same answer through
    * [[graft.plans.MetadataOnlyCount]] in a session running the graft
    * extensions.
    */
  def countRows(spark: SparkSession, tablePath: String,
                committer: SnapshotCommitter = AtomicRenameCommitter): Long = {
    val manifest = committer.readManifest(tablePath)
    val data = dataEntries(manifest)
    require(data.nonEmpty, s"no committed table at $tablePath")
    metadataRowCount(manifest, data.keySet)
      .getOrElse(ManifestTable.read(spark, tablePath, manifest, data).count())
  }

  /** Per-written-partition `__range.<p>` entries over the staged dirs
    * (one union-read + one grouped aggregate; empty when stats are not
    * enabled). min/max serialized as JSON doubles; an all-null column
    * serializes as null and never prunes.
    */
  private def stagedRangeEntries(spark: SparkSession, manifest: Map[String, String],
                                 staged: DataFrame,
                                 dataCols: Seq[String]): Map[String, String] = {
    val cols0 = rangeStatsCols(manifest).filter(dataCols.contains)
    if (cols0.isEmpty) return Map.empty
    val aggs = cols0.flatMap(c => Seq(
      min(col(c).cast("double")), max(col(c).cast("double"))))
    staged.groupBy(col("__part")).agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val body = cols0.zipWithIndex.map { case (c, i) =>
          val mn = r.get(1 + 2 * i); val mx = r.get(2 + 2 * i)
          if (mn == null || mx == null) s""""$c":null"""
          else s""""$c":[$mn,$mx]"""
        }.mkString("{", ",", "}")
        s"$RangeKeyPrefix${r.getString(0)}" -> body
      }.toMap
  }

  // ---- manifest-level BLOOM FILTERS: per-partition membership sidecars
  // for point lookups on HIGH-CARDINALITY columns — the skipping zone maps
  // cannot give. A hash-distributed key (event_id under bucket = user_id%8,
  // a document digest, a join key) spans [global min, global max] in EVERY
  // partition, so its range stats never prune; a per-partition bloom
  // answers "is value v possibly here" in O(1) with no I/O beyond the
  // sidecar. Same one-sided contract as zone maps: "no" is definite
  // (skip), "yes" is a maybe (read + exact filter). Sidecars live INSIDE
  // the committed data dir (`<dir>/_bloom_<col>.bin`): underscore-prefixed
  // files are invisible to every parquet scan, and the sidecar's lifetime
  // is exactly its data's — the staging GC, versioned retention, and
  // atomic flips all apply unchanged, with no manifest bloat (the manifest
  // carries only the 3-entry declaration). Spark's own
  // `org.apache.spark.util.sketch.BloomFilter` supplies the bit array
  // (stable serialized form, mergeable across tasks).

  private val BloomColsKey = "__bloomCols"
  private val BloomItemsKey = "__bloomItems"
  private val BloomFppKey = "__bloomFpp"

  /** Enable bloom sidecars for `cols` (integral or string columns): every
    * LATER partition-staging commit writes each rewritten partition's
    * filters alongside its data; partitions committed before enabling
    * gain sidecars when next rewritten (absent sidecar = read, never
    * wrongly skipped). `expectedItemsPerPartition` sizes every filter
    * identically (~1.2 bytes/item at fpp 0.01), which is what keeps
    * task-local partial filters mergeable.
    */
  def enableBloomStats(tablePath: String, cols: Seq[String],
                       expectedItemsPerPartition: Long = 1L << 20,
                       fpp: Double = 0.01,
                       committer: SnapshotCommitter = AtomicRenameCommitter): Unit = {
    require(cols.nonEmpty && cols.forall(c => !c.contains(",") && !c.contains("\t")),
      "invalid bloom column list")
    require(expectedItemsPerPartition > 0 && fpp > 0 && fpp < 1,
      "invalid bloom sizing")
    val manifest = committer.readManifest(tablePath)
    // callers speak logical names; sidecar filenames and FileIndex
    // consults are physical throughout
    val phys = cols.map(physicalName(manifest, _))
    committedSchema(manifest).foreach { sch =>
      phys.zip(cols).foreach { case (p, c) =>
        val f = sch.fields.find(_.name == p)
        require(f.isDefined, s"bloom column $c is not in the committed schema")
        require(bloomSupported(f.get.dataType),
          s"bloom stats cover integral and string columns; $c is ${f.get.dataType}")
      }
    }
    committer.commit(tablePath, dropCarriedCdf(manifest) +
      (BloomColsKey -> phys.mkString(",")) +
      (BloomItemsKey -> expectedItemsPerPartition.toString) +
      (BloomFppKey -> fpp.toString))
  }

  /** Drop the bloom declaration (existing sidecars become inert files that
    * die with their data dirs).
    */
  def disableBloomStats(tablePath: String,
                        committer: SnapshotCommitter = AtomicRenameCommitter): Unit = {
    val manifest = committer.readManifest(tablePath)
    committer.commit(tablePath,
      dropCarriedCdf(manifest) - BloomColsKey - BloomItemsKey - BloomFppKey)
  }

  private def bloomSupported(t: org.apache.spark.sql.types.DataType): Boolean = t match {
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.StringType => true
    case _ => false
  }

  private[graft] def bloomStatsCols(manifest: Map[String, String]): Seq[String] =
    manifest.get(BloomColsKey).map(_.split(",").toSeq).getOrElse(Nil)

  // ---- GENERATED PARTITION COLUMNS (Delta's generated-column partition
  // pruning): the manifest declares that the partition column is a named
  // MONOTONIC function of a source data column (`day =
  // yyyymmdd_us(ts_us)`), and the declarative FileIndex converts any
  // pushed range/point filter on the SOURCE column into an exact interval
  // on the PARTITION VALUE itself — no per-partition stats needed, and
  // unlike a zone map the bound is exact by construction (the partition
  // value IS f(src)). Monotonicity is what makes interval pushdown sound:
  // lo ≤ src ≤ hi ⟹ f(⌈lo⌉) ≤ f(src) ≤ f(⌊hi⌋). The transform registry
  // is closed (each entry has a JVM form for planning and a Column form
  // for writing, pinned equal by GenPartSpec), so a declaration can never
  // smuggle in a non-monotonic map.

  private val GenPartKey = "__genpart"

  /** A named monotonic (nondecreasing) long→long transform. */
  private[graft] sealed trait GenTransform {
    def name: String
    /** JVM form — used by the planner to map source bounds to partition
      * bounds, and by the declare-time validation scan's oracle twin. */
    def apply(src: Long): Long
    /** Column form — what writers use to COMPUTE the partition column,
      * and declare-time validation compares against the stored values.
      * Must agree with [[apply]] on every long (GenPartSpec pins it). */
    def column(src: org.apache.spark.sql.Column): org.apache.spark.sql.Column
  }

  private object YyyymmddUs extends GenTransform {
    val name = "yyyymmdd_us"
    def apply(src: Long): Long = {
      val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(src, 86400000000L))
      d.getYear * 10000L + d.getMonthValue * 100L + d.getDayOfMonth
    }
    def column(src: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      // arithmetic, not date_format: string formatting of NEGATIVE years
      // concatenates the sign ("-7110929" ≠ -710999071·10⁻²…), which both
      // drifts from the JVM form and breaks monotonicity; y·10⁴+m·10²+d
      // is monotone for every proleptic-Gregorian date
      val t = timestamp_micros(src)
      (year(t).cast("long") * lit(10000L) + month(t).cast("long") * lit(100L) +
        dayofmonth(t).cast("long"))
    }
  }

  /** Exact long floor-division as a Column: subtract the (nonnegative)
    * pmod remainder, then divide in decimal(38,0) — double division would
    * lose exactness past 2^53.
    */
  private def floorDivCol(src: org.apache.spark.sql.Column,
                          n: Long): org.apache.spark.sql.Column =
    ((src.cast("decimal(38,0)") - pmod(src, lit(n)).cast("decimal(38,0)")) /
      lit(n).cast("decimal(38,0)")).cast("long")

  private object DaysUs extends GenTransform {
    val name = "days_us"
    def apply(src: Long): Long = Math.floorDiv(src, 86400000000L)
    def column(src: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floorDivCol(src, 86400000000L)
  }

  private final case class DivBy(n: Long) extends GenTransform {
    val name = s"div:$n"
    def apply(src: Long): Long = Math.floorDiv(src, n)
    def column(src: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floorDivCol(src, n)
  }

  private[graft] def genTransform(name: String): GenTransform = name match {
    case "yyyymmdd_us" => YyyymmddUs
    case "days_us"     => DaysUs
    case d if d.startsWith("div:") && d.drop(4).nonEmpty &&
        d.drop(4).forall(_.isDigit) && d.drop(4).toLong > 0 => DivBy(d.drop(4).toLong)
    case other => throw new IllegalArgumentException(
      s"unknown generation transform '$other' " +
        "(supported: yyyymmdd_us, days_us, div:<n>)")
  }

  /** The Column a writer uses to compute the generated partition value —
    * correctness by construction: stage `df.withColumn(partCol,
    * generatedPartitionColumn(srcCol, "yyyymmdd_us").cast("string"))` and
    * the declared relationship can never drift from the data.
    */
  def generatedPartitionColumn(srcCol: String,
                               transform: String): org.apache.spark.sql.Column =
    genTransform(transform).column(col(srcCol))

  /** Declare `partCol = transform(srcCol)` on a committed table. Validated
    * with ONE distributed scan before committing (every committed row must
    * satisfy the relationship — the Delta generated-column invariant), so
    * a declaration over drifted data is refused rather than silently
    * mis-pruning. After the commit, the declarative read path converts
    * pushed filters on `srcCol` into partition-interval pruning.
    */
  def declareGeneratedPartition(spark: SparkSession, tablePath: String,
                                srcCol: String, transform: String,
                                committer: SnapshotCommitter = AtomicRenameCommitter): Unit = {
    val manifest = committer.readManifest(tablePath)
    require(dataEntries(manifest).nonEmpty, s"no committed table at $tablePath")
    val pcPhys = manifest.getOrElse(PartColKey, throw new IllegalArgumentException(
      s"$tablePath has no recorded partition column to declare generation for"))
    val srcPhys = physicalName(manifest, srcCol)
    val t = genTransform(transform) // validates the name
    // the read seam presents LOGICAL names; the declaration stores
    // physical ones (stable under later renames, like zone maps)
    val srcLog = toLogicalName(manifest, srcPhys)
    val pcLog = toLogicalName(manifest, pcPhys)
    val drifted = ManifestTable.read(spark, tablePath, manifest, dataEntries(manifest))
      .select(srcLog, pcLog)
      .filter(!(t.column(col(srcLog)).cast("string") <=>
        col(pcLog).cast("string")))
      .limit(1).count()
    require(drifted == 0L,
      s"generated-partition declaration refused: rows exist where " +
        s"$pcPhys != $transform($srcPhys)")
    committer.commit(tablePath,
      dropCarriedCdf(manifest) + (GenPartKey -> s"$pcPhys\t$srcPhys\t${t.name}"))
  }

  private def toLogicalName(manifest: Map[String, String], phys: String): String =
    colMapOf(manifest).getOrElse(phys, phys)

  /** The declared (partColPhys, srcColPhys, transform), if any. */
  private[graft] def genPartOf(manifest: Map[String, String]): Option[(String, String, GenTransform)] =
    manifest.get(GenPartKey).map { v =>
      val Array(pc, src, t) = v.split("\t", 3)
      (pc, src, genTransform(t))
    }

  /** Data entries surviving generated-partition pruning for source-column
    * interval [lo, hi] (doubles from the planner's pushed bounds;
    * MinValue/MaxValue sentinels mean unbounded). A partition whose VALUE
    * (parsed as long) falls outside [f(⌈lo⌉), f(⌊hi⌋)] provably holds no
    * matching row; an unparseable partition value keeps (conservative).
    */
  private[graft] def genPartKeeps(partitionRaw: String, t: GenTransform,
                                  lo: Double, hi: Double): Boolean = {
    if (lo > hi) return false // contradictory conjuncts: nothing matches
    val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(partitionRaw).toLongOption
    v.forall { pv =>
      val okLo = lo == Double.MinValue ||
        pv >= t(clampToLong(math.ceil(lo)))
      val okHi = hi == Double.MaxValue ||
        pv <= t(clampToLong(math.floor(hi)))
      okLo && okHi
    }
  }

  private def clampToLong(d: Double): Long =
    if (d >= Long.MaxValue.toDouble) Long.MaxValue
    else if (d <= Long.MinValue.toDouble) Long.MinValue
    else d.toLong

  /** One distributed pass over the staged batch building every
    * (partition × column) filter: integral values hash as their long
    * value, strings as their UTF-8 bytes (`putString`), nulls are not
    * recorded (an equality lookup is never null-matching). Task-local
    * partial filters merge associatively (identical sizing by
    * construction), so the aggregate is map-side combining like any sum.
    * Driver state is O(touched partitions × cols × filter bytes) —
    * bounded by the batch, not the table. Sidecars land in the staged
    * partition dirs BEFORE the manifest flip, so a committed dir always
    * carries its stats from birth.
    */
  private def writeStagedBloomSidecars(spark: SparkSession,
                                       manifest: Map[String, String],
                                       batchDir: String,
                                       staged: DataFrame,
                                       dataCols: Seq[String]): Unit = {
    import org.apache.spark.util.sketch.BloomFilter
    val declared = bloomStatsCols(manifest)
    // silently dropping a declared column would ship a table whose
    // promised stats never materialize — a misspelled or missing column
    // fails the commit loudly (add-only evolution guarantees every
    // committed column is present in staged data)
    val missing = declared.filterNot(dataCols.contains)
    require(missing.isEmpty,
      s"declared bloom columns absent from staged data: ${missing.mkString(",")}")
    val cols0 = declared
    if (cols0.isEmpty) return
    val items = manifest.get(BloomItemsKey).map(_.toLong).getOrElse(1L << 20)
    val fpp = manifest.get(BloomFppKey).map(_.toDouble).getOrElse(0.01)
    // an unsupported column type likewise fails loudly instead of
    // silently never pruning
    cols0.foreach { c =>
      val t = staged.schema(c).dataType
      require(bloomSupported(t), s"bloom column $c has unsupported type $t")
    }
    val proj = staged.select((col("__part") +: cols0.map(col)): _*)
    val n = cols0.size
    val merged = proj.rdd.treeAggregate(
      scala.collection.mutable.HashMap.empty[(String, Int), BloomFilter])(
      seqOp = { (m, row) =>
        val part = row.getString(0)
        var i = 0
        while (i < n) {
          val v = row.get(i + 1)
          if (v != null) {
            val bf = m.getOrElseUpdate((part, i), BloomFilter.create(items, fpp))
            v match {
              case s: String => bf.putString(s)
              case l: Long   => bf.putLong(l)
              case x: Int    => bf.putLong(x.toLong)
              case x: Short  => bf.putLong(x.toLong)
              case x: Byte   => bf.putLong(x.toLong)
              case other => throw new IllegalStateException(
                s"unreachable bloom value type ${other.getClass}")
            }
          }
          i += 1
        }
        m
      },
      combOp = { (a, b) =>
        b.foreach { case (k, bf) =>
          a.get(k) match {
            case Some(existing) => existing.mergeInPlace(bf)
            case None           => a.update(k, bf)
          }
        }
        a
      })
    merged.foreach { case ((part, i), bf) =>
      val out = TableFs.create(s"$batchDir/__part=$part/_bloom_${cols0(i)}.bin")
      try bf.writeTo(out) finally out.close()
    }
  }

  /** The committed filter for `column` in the data dir `rel`, if its
    * sidecar exists (None = partition written before enabling, or stats
    * not enabled — both mean "cannot prune").
    */
  private[graft] def bloomOf(tablePath: String, rel: String,
                             column: String): Option[org.apache.spark.util.sketch.BloomFilter] = {
    val p = s"$tablePath/$rel/_bloom_$column.bin"
    if (!TableFs.exists(p)) None
    else {
      val in = TableFs.open(p)
      try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
      finally in.close()
    }
  }

  /** Membership probe with the same type dispatch the write side used; an
    * unrecognized runtime type answers `true` (cannot prune — the
    * conservative direction).
    */
  private[graft] def bloomMightContain(bf: org.apache.spark.util.sketch.BloomFilter,
                                       value: Any): Boolean = value match {
    case null => true
    case s: String => bf.mightContainString(s)
    case u: org.apache.spark.unsafe.types.UTF8String => bf.mightContainString(u.toString)
    case l: Long  => bf.mightContainLong(l)
    case x: Int   => bf.mightContainLong(x.toLong)
    case x: Short => bf.mightContainLong(x.toLong)
    case x: Byte  => bf.mightContainLong(x.toLong)
    case _ => true
  }

  case class DeleteStats(touchedPartitions: Seq[String], deletedRows: Long)

  /** MERGE-ON-READ point delete: retire `keyRows` — (partition column +
    * key columns, logical names) — WITHOUT rewriting any partition. The
    * keys land in per-partition deletion sidecars committed in one atomic
    * flip; every read seam anti-joins them out, and the next rewrite of a
    * partition (upsert, replace, [[graft.pipeline.Maintenance.compact]])
    * materializes its pending deletes and drops the sidecar. Repeated
    * calls UNION into the existing sidecars (idempotent for re-sent keys).
    * Cost: O(deleted keys) written + one manifest flip — the shape that
    * keeps a trickle of point deletes affordable on a 100-TB table where
    * [[deleteWhere]]'s copy-on-write rewrite would dominate. The key
    * column set is fixed at the first MoR delete (`__delkeys`); later
    * calls must match it, since every committed sidecar and every
    * read-side anti-join share it.
    *
    * Trade: reads pay one broadcast anti-join while sidecars are pending
    * — run compaction (or let organic rewrites happen) to return to
    * sidecar-free scans. Keys never present in the table are harmless
    * (the anti-join simply matches nothing).
    * It is [[stageDeleteMor]] followed by [[commitReplace]].
    */
  def deleteKeysMor(spark: SparkSession, tablePath: String, partCol: String,
                    keys: Seq[String], keyRows: DataFrame,
                    committer: SnapshotCommitter = AtomicRenameCommitter): DeleteStats = withOp(committer, tablePath, "delete_mor") {
    stageDeleteMor(spark, tablePath, partCol, keys, keyRows, committer)
      .fold(DeleteStats(Nil, 0L)) { case (staged, pending) =>
        commitReplace(staged, committer)
        DeleteStats(staged.parts, pending)
      }
  }

  /** The staging half of [[deleteKeysMor]] and its pending key count;
    * None when no key touches a committed partition.
    */
  private[graft] def stageDeleteMor(spark: SparkSession, tablePath: String,
                                    partCol: String, keys: Seq[String],
                                    keyRows: DataFrame,
                                    committer: SnapshotCommitter): Option[(StagedReplace, Long)] = {
    require(keys.nonEmpty, "MoR delete needs key columns")
    val manifest = committer.readManifest(tablePath)
    require(dataEntries(manifest).nonEmpty, s"no committed table at $tablePath")
    val pcPhys = physicalName(manifest, partCol)
    require(manifest.get(PartColKey).forall(_ == pcPhys),
      s"'$partCol' is not this table's partition column")
    val keysPhys = keys.map(physicalName(manifest, _))
    val committedKeys = delKeysOf(manifest)
    require(committedKeys.isEmpty || committedKeys == keysPhys,
      s"MoR delete keys are fixed at first use: committed " +
        s"${committedKeys.mkString(",")}, got ${keysPhys.mkString(",")}")
    val rows = toPhysical(
      keyRows.select((partCol +: keys).map(col): _*), manifest)
    // only partitions that exist can carry deletions; unknown partitions'
    // keys are dropped (nothing to delete)
    val touched = rows.select(col(pcPhys).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
      .filter(t => manifest.contains(partKey(t)))
    if (touched.isEmpty) return None
    val touchedEsc = touched.map(partKey)
    val newKeys = rows.filter(
      col(pcPhys).cast("string").isin(touched: _*))
    // union with the touched partitions' EXISTING sidecars so one entry
    // per partition always holds its full pending set
    val priorRels = touchedEsc.flatMap(p => manifest.get(s"$DelKeyPrefix$p"))
    val combined0 =
      if (priorRels.isEmpty) newKeys
      else newKeys.unionByName(
        spark.read.parquet(priorRels.map(r => s"$tablePath/$r"): _*)
          .select((pcPhys +: keysPhys).map(col): _*))
    val combined = combined0.distinct()
    val batchDirName = startStaging(tablePath, manifest, committer)
    // same dir protocol as data staging: a `__dp` COPY keeps the real
    // partition column in the sidecar files for the read-side anti-join
    combined.withColumn("__dp", col(pcPhys).cast("string"))
      .write.mode(SaveMode.Overwrite).partitionBy("__dp")
      .parquet(s"$tablePath/$batchDirName")
    val writtenParts = stagedDirNames(s"$tablePath/$batchDirName", "__dp=")
    val pending = combined.count()
    // a delete AFTER a MoR upsert of the same key must land: the deletion
    // anti-join only covers BASE rows, so pending DELTA sidecars of the
    // touched partitions rewrite here minus the deleted keys (O(sidecar),
    // not O(partition)); an emptied sidecar drops its entry
    val touchedDeltaRels = touchedEsc
      .flatMap(p => manifest.get(s"$DeltaKeyPrefix$p").map(p -> _))
    val deltaEdits: Map[String, Option[String]] =
      if (touchedDeltaRels.isEmpty) Map.empty
      else {
        val oldDelta = spark.read.parquet(
          touchedDeltaRels.map { case (_, r) => s"$tablePath/$r" }: _*)
        // unhinted like applyMor's joins: the delete-key set is bounded
        // only by the caller (a compliance sweep can be huge) — let the
        // size check pick broadcast vs shuffle
        val keptDelta = oldDelta.join(
          combined.select((pcPhys +: keysPhys).map(col): _*),
          pcPhys +: keysPhys, "left_anti")
        keptDelta.withColumn("__dp", col(pcPhys).cast("string"))
          .write.mode(SaveMode.Overwrite).partitionBy("__dp")
          .parquet(s"$tablePath/$batchDirName/delta")
        val surviving =
          stagedDirNames(s"$tablePath/$batchDirName/delta", "__dp=")
        touchedDeltaRels.map { case (p, _) =>
          s"$DeltaKeyPrefix$p" -> (if (surviving.contains(p))
            Some(s"$batchDirName/delta/__dp=$p") else None)
        }.toMap
      }
    val newManifest0 = (manifest --
      deltaEdits.collect { case (k, None) => k }) ++
      deltaEdits.collect { case (k, Some(rel)) => k -> rel } ++
      writtenParts.map(p => s"$DelKeyPrefix$p" -> s"$batchDirName/__dp=$p") +
      (DelKeysKey -> keysPhys.mkString(",")) +
      (PartColKey -> pcPhys) // pre-PartColKey tables gain it here — the
      // read-side anti-join resolves its join columns through it
    Some((StagedReplace(tablePath, manifest, batchDirName, withMorCdf(spark,
      tablePath, batchDirName, manifest, newManifest0, touched),
      parts = touched), pending))
  }

  /** MERGE-ON-READ upsert: merge `delta` (full logical schema) into the
    * table WITHOUT rewriting any partition — the write-side companion of
    * [[deleteKeysMor]] and the shape a trickle of row updates needs on a
    * 100-TB table ([[upsertPartitionsAtomic]] pays O(touched partitions)
    * per merge; this pays O(delta)). The rows land in per-partition delta
    * sidecars, PRE-MERGED against any pending sidecar (keep-latest per
    * key, ties to the new rows — same idempotent-replay semantics as the
    * rewrite path), committed in one atomic flip. Reads anti-join the
    * sidecar's keys out of the base and union its rows in; the next
    * rewrite of a partition (upsert, replace,
    * [[graft.pipeline.Maintenance.compact]]) materializes its pending
    * delta and drops the sidecar.
    *
    * Contracts: the key and order column sets are fixed at the first MoR
    * upsert (`__upkeys`/`__uporder`); the delta cannot evolve the schema
    * (stage through [[upsertPartitionsAtomic]] for that); every delta
    * partition must already exist in the table (a brand-new partition is
    * a plain insert — the rewrite path handles it at the same O(delta)
    * cost, nothing existing to merge with); CHECK constraints are
    * enforced against the sidecar before the flip. Zone maps of touched
    * partitions WIDEN by the delta's ranges, so they stay sound once
    * compaction folds the delta into the base. It is [[stageUpsertMor]]
    * followed by [[commitReplace]].
    */
  def upsertKeysMor(spark: SparkSession, tablePath: String, partCol: String,
                    keys: Seq[String], order: Seq[String], delta: DataFrame,
                    committer: SnapshotCommitter = AtomicRenameCommitter,
                    meta: Map[String, String] = Map.empty): UpsertStats = withOp(committer, tablePath, "upsert_mor") {
    val (staged, pending) = stageUpsertMor(spark, tablePath, partCol, keys,
      order, delta, committer, meta)
    commitReplace(staged, committer)
    UpsertStats(staged.parts, delta.count(), pending)
  }

  /** The staging half of [[upsertKeysMor]] and its pending row count. */
  private[graft] def stageUpsertMor(spark: SparkSession, tablePath: String,
                                    partCol: String, keys: Seq[String],
                                    order: Seq[String], delta: DataFrame,
                                    committer: SnapshotCommitter,
                                    meta: Map[String, String] = Map.empty): (StagedReplace, Long) = {
    require(keys.nonEmpty, "MoR upsert needs key columns")
    val touched = touchedPartitionsOf(delta, partCol, keys)
    val manifest = committer.readManifest(tablePath)
    require(dataEntries(manifest).nonEmpty, s"no committed table at $tablePath")
    val pcPhys = physicalName(manifest, partCol)
    require(manifest.get(PartColKey).forall(_ == pcPhys),
      s"'$partCol' is not this table's partition column")
    val keysPhys = keys.map(physicalName(manifest, _))
    val orderPhys = order.map(physicalName(manifest, _))
    require(upKeysOf(manifest).isEmpty || upKeysOf(manifest) == keysPhys,
      s"MoR upsert keys are fixed at first use: committed " +
        s"${upKeysOf(manifest).mkString(",")}, got ${keysPhys.mkString(",")}")
    val committedOrder = manifest.get(UpOrderKey).map(_.split(",").toSeq)
    require(committedOrder.forall(_ == orderPhys),
      s"MoR upsert order is fixed at first use: committed " +
        s"${committedOrder.getOrElse(Nil).mkString(",")}, got ${orderPhys.mkString(",")}")
    val missingParts = touched.filterNot(t => manifest.contains(partKey(t)))
    require(missingParts.isEmpty,
      s"MoR upsert targets partitions with no committed data " +
        s"(${missingParts.mkString(",")}) — a new partition is a plain " +
        "insert; stage it through upsertPartitionsAtomic")
    val committed = committedSchema(manifest).getOrElse(
      throw new IllegalStateException(
        s"no committed schema at $tablePath — MoR upsert needs schema metadata"))
    // schema gate: the sidecar must carry EXACTLY the committed physical
    // schema (narrow columns upcast) — an evolving delta would leave base
    // dirs and sidecar dirs answering different schemas under one manifest
    val deltaC = evolvedPhysical(delta, manifest)
    require(deltaC.schema.fields.map(f => (f.name, f.dataType)).toSet ==
      committed.fields.map(f => (f.name, f.dataType)).toSet,
      "MoR upsert cannot evolve the schema — stage the widening commit " +
        "through upsertPartitionsAtomic first")

    val touchedEsc = touched.map(partKey)
    // pre-merge against the touched partitions' pending sidecars so one
    // entry per partition always holds exactly one row per key
    val priorRels = touchedEsc.flatMap(p => manifest.get(s"$DeltaKeyPrefix$p"))
    val combined =
      if (priorRels.isEmpty) deltaC
      else mergeByKey(
        spark.read.schema(committed)
          .parquet(priorRels.map(r => s"$tablePath/$r"): _*),
        deltaC, keysPhys, orderPhys)
    val batchDirName = startStaging(tablePath, manifest, committer)
    val staged = combined.withColumn("__part", col(pcPhys).cast("string"))
    staged.write.mode(SaveMode.Overwrite).partitionBy("__part")
      .parquet(s"$tablePath/$batchDirName")
    val writtenParts = stagedDirNames(s"$tablePath/$batchDirName", "__part=")
    enforceChecks(manifest, tablePath, batchDirName,
      spark.read.schema(committed).parquet(s"$tablePath/$batchDirName"))
    // committed zone maps WIDEN by the delta's ranges (a sidecar can only
    // add value range, never shrink it). A read needs no help while the
    // delta pends — its rows union in above the pruned base scan — but
    // compaction folds the delta into the base WITHOUT recomputing
    // `__range.<p>`, so the widened range is what keeps the zone map
    // sound afterwards. Delta dirs get no bloom sidecars: nothing prunes
    // a delta, and compaction drops the base filter of a partition whose
    // delta it materializes
    val deltaRanges = stagedRangeEntries(spark, manifest, staged,
      combined.columns.toSeq)
    val mergedRanges = widenRangeEntries(manifest, deltaRanges)
    val pending = combined.count()
    val newManifest0 = manifest ++
      writtenParts.map(p => s"$DeltaKeyPrefix$p" -> s"$batchDirName/__part=$p") ++
      mergedRanges ++
      // e.g. a stream's batch ledger — atomic with the sidecars it describes
      meta.map { case (k, v) => s"__$k" -> v } +
      // the sidecar may hold nulls in a column committed non-null
      (SchemaKey -> withNullsOf(committed, deltaC.schema).json) +
      (UpKeysKey -> keysPhys.mkString(",")) +
      (UpOrderKey -> orderPhys.mkString(",")) +
      (PartColKey -> pcPhys)
    (StagedReplace(tablePath, manifest, batchDirName, withMorCdf(spark,
      tablePath, batchDirName, manifest, newManifest0, touched),
      parts = touched), pending)
  }

  /** A MoR write's manifest with its change feed (no-op unless enabled):
    * touched partitions before vs under the staged sidecars — O(touched).
    */
  private def withMorCdf(spark: SparkSession, tablePath: String,
                         batchDirName: String, manifest: Map[String, String],
                         newManifest: Map[String, String],
                         touched: Seq[String]): Map[String, String] = {
    val touchedEntries = entriesOf(manifest, touched)
    dropCarriedCdf(newManifest) ++ stageCdf(manifest, tablePath, batchDirName,
      ManifestTable.read(spark, tablePath, manifest, touchedEntries),
      ManifestTable.read(spark, tablePath, newManifest, touchedEntries))
  }

  /** Widen committed `__range.<p>` entries by a pending delta's ranges.
    * Only partitions that already carry an entry update (absent stats
    * mean "cannot prune" — conservative without help); a column the
    * delta has all-null keeps the committed range (null rows never match
    * a range probe), and a committed-null column stays null.
    */
  private def widenRangeEntries(manifest: Map[String, String],
                                deltaRanges: Map[String, String]): Map[String, String] = {
    val cols0 = rangeStatsCols(manifest)
    if (cols0.isEmpty || deltaRanges.isEmpty) return Map.empty
    deltaRanges.flatMap { case (rangeKey, _) =>
      val p = rangeKey.stripPrefix(RangeKeyPrefix)
      manifest.get(rangeKey).map { _ =>
        val body = cols0.map { c =>
          (rangeOf(manifest, p, c), rangeOf(deltaRanges, p, c)) match {
            case (Some((amn, amx)), Some((bmn, bmx))) =>
              s""""$c":[${math.min(amn, bmn)},${math.max(amx, bmx)}]"""
            case (Some((amn, amx)), None) => s""""$c":[$amn,$amx]"""
            case (None, _)                => s""""$c":null"""
          }
        }.mkString("{", ",", "}")
        rangeKey -> body
      }
    }
  }

  /** Row-level `DELETE ... WHERE` over a manifest table — copy-on-write at
    * partition granularity, the GDPR / right-to-be-forgotten shape:
    *
    *  1. ONE column-pruned scan of the committed table finds the
    *     partitions carrying matching rows (the predicate's columns plus
    *     `partCol`, which lives IN the data files by the staging
    *     protocol's design — no per-partition probe jobs);
    *  2. only those partitions are re-read and rewritten WITHOUT the
    *     matching rows, published as one atomic manifest flip
    *     ([[replacePartitionsAtomic]] — a partition deleted empty drops
    *     out of the manifest entirely);
    *  3. untouched partitions are never read or rewritten — work scales
    *     with the data that matches, not the table.
    *
    * SQL DELETE null semantics: only rows where the predicate is TRUE are
    * deleted; NULL-evaluating rows are kept. Under a versioned committer
    * the pre-delete state remains readable as-of (deletion-for-compliance
    * then also requires [[graft.pipeline.Maintenance.expireVersions]] to
    * retire the history that still references the rows).
    */
  def deleteWhere(spark: SparkSession, tablePath: String, partCol: String,
                  predicate: org.apache.spark.sql.Column,
                  committer: SnapshotCommitter = AtomicRenameCommitter): DeleteStats = withOp(committer, tablePath, "delete_where") {
    val manifest = committer.readManifest(tablePath)
    // a table whose rows have all been deleted has no data entries left —
    // DELETE on it is a no-op, not an error
    if (!dataEntries(manifest).exists(_ => true)) return DeleteStats(Nil, 0L)
    val table = readTable(spark, tablePath, committer)
    val touched = table.filter(predicate)
      .select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (touched.isEmpty) return DeleteStats(Nil, 0L)
    val scoped = ManifestTable.read(spark, tablePath, manifest,
      entriesOf(manifest, touched))
    val deleted = scoped.filter(predicate).count()
    // keep rows where the predicate is FALSE or NULL (SQL DELETE deletes
    // only TRUE — a bare !predicate would silently drop null-evaluating
    // rows too)
    val kept = scoped.filter(coalesce(!predicate, lit(true)))
    commitReplace(stageReplace(spark, kept, tablePath, partCol, touched,
      committer, manifestRead = Some(manifest)), committer)
    DeleteStats(touched, deleted)
  }

  case class UpdateStats(touchedPartitions: Seq[String], updatedRows: Long)

  /** Row-level `UPDATE ... SET ... WHERE` — the same partition-granular
    * copy-on-write surgery as [[deleteWhere]]: one column-pruned scan
    * finds the partitions carrying TRUE-matching rows, only those rewrite
    * with the assignments applied (non-matching and NULL-evaluating rows
    * pass through unchanged — SQL UPDATE semantics), one atomic flip
    * publishes. `set` maps column name → new-value expression (evaluated
    * against the pre-update row, so swaps like `a = b, b = a` see
    * consistent inputs). The partition column cannot be assigned — a
    * partition-moving update is an upsert-after-delete, not a rewrite in
    * place (the key→partition contract, see the object doc).
    */
  def updateWhere(spark: SparkSession, tablePath: String, partCol: String,
                  predicate: org.apache.spark.sql.Column,
                  set: Map[String, org.apache.spark.sql.Column],
                  committer: SnapshotCommitter = AtomicRenameCommitter): UpdateStats = withOp(committer, tablePath, "update_where") {
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    require(!set.contains(partCol),
      s"cannot assign the partition column $partCol — a partition-moving " +
        "update is a delete + upsert, not an in-place rewrite")
    val manifest = committer.readManifest(tablePath)
    if (!dataEntries(manifest).exists(_ => true)) return UpdateStats(Nil, 0L)
    val table = readTable(spark, tablePath, committer)
    set.keys.foreach(c => require(table.columns.contains(c),
      s"UPDATE target column $c does not exist"))
    val touched = table.filter(predicate)
      .select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (touched.isEmpty) return UpdateStats(Nil, 0L)
    val scoped = ManifestTable.read(spark, tablePath, manifest,
      entriesOf(manifest, touched))
    val updated = scoped.filter(predicate).count()
    // one select evaluates every assignment against the PRE-update row
    val applied = scoped.select(scoped.columns.map { c =>
      set.get(c).fold(col(c))(e => when(predicate, e).otherwise(col(c)).as(c))
    }.toIndexedSeq: _*)
    commitReplace(stageReplace(spark, applied, tablePath, partCol, touched,
      committer, manifestRead = Some(manifest)), committer)
    UpdateStats(touched, updated)
  }

  case class MergeStats(touchedPartitions: Seq[String], updatedRows: Long,
                        deletedRows: Long, insertedRows: Long)

  /** Multi-action MERGE — the lakehouse `MERGE INTO` statement, composing
    * what [[deleteWhere]]/[[updateWhere]]/[[upsertPartitionsAtomic]] do
    * separately into ONE partition-granular copy-on-write pass:
    *
    * {{{
    * MERGE INTO table t USING source s ON <t.keys = s.keys>
    *   WHEN MATCHED AND <deleteCond>  THEN DELETE
    *   WHEN MATCHED AND <updateCond>  THEN UPDATE SET <set>
    *   WHEN NOT MATCHED               THEN INSERT *
    * }}}
    *
    * Clause order is fixed delete-then-update (first-clause-wins with the
    * delete clause first — the compliance-sweep shape); a matched row
    * firing neither clause passes through byte-identical. SQL NULL
    * semantics throughout: a condition evaluating NULL does not fire its
    * clause. Conditions and SET expressions see the matched PAIR — target
    * columns at their natural (logical) names, source columns under the
    * `__src_` prefix — and SET evaluates against the pre-update row, so
    * `a = __src_b, b = a` is consistent.
    *
    * Scale shape: the join and rewrite touch ONLY the partitions the
    * source names (`partCol` is part of every source row; the key →
    * partition contract is [[upsertPartitionsAtomic]]'s), the source side
    * of the match is unhinted (size check picks broadcast vs shuffle),
    * inserts may open brand-new partitions, and the whole multi-action
    * result publishes in one atomic manifest flip — crash leaves the
    * previous snapshot in force. Pending MoR sidecars of the touched
    * partitions fold in (the rewrite materializes them).
    */
  def mergeInto(spark: SparkSession, tablePath: String, partCol: String,
                keys: Seq[String], source: DataFrame,
                deleteCond: Option[org.apache.spark.sql.Column] = None,
                updateCond: Option[org.apache.spark.sql.Column] = None,
                set: Map[String, org.apache.spark.sql.Column] = Map.empty,
                insertNotMatched: Boolean = true,
                committer: SnapshotCommitter = AtomicRenameCommitter): MergeStats = withOp(committer, tablePath, "merge") {
    require(keys.nonEmpty, "MERGE needs ON key columns")
    require(deleteCond.isDefined || set.nonEmpty || insertNotMatched,
      "MERGE with no clauses is a no-op — refuse loudly")
    require(!set.contains(partCol),
      s"cannot assign the partition column $partCol — a partition-moving " +
        "update is a delete + insert, not an in-place rewrite")
    val manifest = committer.readManifest(tablePath)
    require(dataEntries(manifest).nonEmpty, s"no committed table at $tablePath")
    val touched = touchedPartitionsOf(source, partCol, keys)
    val scoped = ManifestTable.read(spark, tablePath, manifest,
      entriesOf(manifest, touched)).localCheckpoint(true)
    val targetCols = scoped.columns.toSeq
    val missing = targetCols.filterNot(source.columns.contains)
    require(missing.isEmpty,
      s"MERGE source must carry the full target schema (INSERT *); " +
        s"missing: ${missing.mkString(",")}")
    set.keys.foreach(c => require(targetCols.contains(c),
      s"MERGE SET target column $c does not exist"))
    require(source.columns.forall(!_.startsWith("__")),
      "MERGE source columns must not start with __ (reserved for the pair view)")
    // two source rows matching one target row would fan the target out —
    // the standard MERGE ambiguity error, checked up front (one aggregate
    // over the O(source) side)
    val dup = source.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).head(1)
    require(dup.isEmpty,
      s"MERGE source has duplicate ON keys (e.g. ${dup.headOption.getOrElse("")}) — " +
        "a target row may match at most one source row")
    // the matched pair: target names natural, source names __src_-prefixed
    val srcPref = source.select(
      (keys.map(col) ++ source.columns.filterNot(keys.contains)
        .map(c => col(c).as(s"__src_$c"))).toIndexedSeq: _*)
      .withColumn("__matched", lit(true))
    val joined = scoped.join(srcPref, keys, "left").localCheckpoint(true)
    // SQL clause semantics: fire only on TRUE; delete wins over update
    val delF = coalesce(col("__matched") && deleteCond.getOrElse(lit(false)),
      lit(false))
    val updF =
      if (set.isEmpty) lit(false)
      else !delF && coalesce(
        col("__matched") && updateCond.getOrElse(lit(true)), lit(false))
    val inserts =
      if (!insertNotMatched) srcPref.limit(0)
      else srcPref.join(scoped.select(keys.map(col): _*), keys, "left_anti")
    val insertRows =
      if (!insertNotMatched) scoped.limit(0)
      else inserts.select(targetCols.map(c =>
        (if (keys.contains(c)) col(c) else col(s"__src_$c")).as(c)): _*)
    val counts = joined.agg(
      sum(when(delF, 1L).otherwise(0L)).as("d"),
      sum(when(updF, 1L).otherwise(0L)).as("u")).head()
    val (nDel, nUpd) =
      (Option(counts.get(0)).fold(0L)(_ => counts.getLong(0)),
        Option(counts.get(1)).fold(0L)(_ => counts.getLong(1)))
    val nIns = insertRows.count()
    // one select evaluates every assignment against the PRE-update row
    val applied = joined.filter(!delF).select(targetCols.map { c =>
      set.get(c).fold(col(c))(e => when(updF, e).otherwise(col(c)).as(c))
    }.toIndexedSeq: _*)
    commitReplace(stageReplace(spark, applied.unionByName(insertRows),
      tablePath, partCol, touched, committer,
      manifestRead = Some(manifest)), committer)
    MergeStats(touched, nUpd, nDel, nIns)
  }

  /** Atomic WHOLE-TABLE overwrite snapshot — the reference's CTAS shape
    * with the manifest protocol's crash guarantees: stage the new table
    * under an immutable `batch-<uuid>/data` dir, flip the one-entry
    * manifest, GC the superseded snapshot one cycle late. `SaveMode
    * .Overwrite` straight at the table path is delete-then-write — a crash
    * between the delete and the write's commit leaves NO readable table;
    * this form leaves the previous snapshot in force through any crash,
    * and readers ([[readTable]]) never see staging. The unpartitioned
    * companion to [[replacePartitionsAtomic]] for small whole-rebuild
    * tables (dims); partitioned facts want the partition-granular forms.
    * It is [[stageTableWrite]] followed by [[commitReplace]].
    */
  def writeTableAtomic(spark: SparkSession, data0: DataFrame,
                       tablePath: String,
                       committer: SnapshotCommitter = AtomicRenameCommitter,
                       meta: Map[String, String] = Map.empty): Unit = withOp(committer, tablePath, "write") {
    commitReplace(stageTableWrite(spark, data0, tablePath, committer, meta),
      committer)
  }

  /** The staging half of [[writeTableAtomic]]. */
  private[graft] def stageTableWrite(spark: SparkSession, data0: DataFrame,
                                     tablePath: String,
                                     committer: SnapshotCommitter,
                                     meta: Map[String, String] = Map.empty): StagedReplace = {
    val manifest = committer.readManifest(tablePath)
    val data = evolvedPhysical(data0, manifest)
    val batchDirName = startStaging(tablePath, manifest, committer)
    val rel = s"$batchDirName/data"
    data.write.mode(SaveMode.Overwrite).parquet(s"$tablePath/$rel")
    enforceChecks(manifest, tablePath, batchDirName,
      spark.read.parquet(s"$tablePath/$rel"))
    // write-time change feed across the overwrite (no-op unless enabled):
    // a whole-table rebuild's change set is inherently O(table) — the
    // same order as the write itself
    val cdfEntry =
      if (dataEntries(manifest).isEmpty) Map.empty[String, String]
      else stageCdf(manifest, tablePath, batchDirName,
        ManifestTable.read(spark, tablePath, manifest, dataEntries(manifest)),
        toLogical(spark.read.parquet(s"$tablePath/$rel"), manifest))
    // metadata rides the SAME manifest flip — one atomic commit covers the
    // new snapshot and (e.g.) the batch-id ledger, which is what makes
    // replay-skip decisions crash-consistent with the data they describe
    // declarations carry over (dropped names too: retained old VERSIONS
    // still carry data dirs with those physical names); per-partition and
    // `__stats.*` entries describe the replaced data and drop
    val carried = Set(CdfKeysKey, RangeColsKey, BloomColsKey, BloomItemsKey,
      BloomFppKey, ColMapKey, DropColsKey)
    StagedReplace(tablePath, manifest, batchDirName,
      manifest.filter { case (k, _) => k.startsWith(CheckPrefix) || carried(k) } +
        ("all" -> rel) + (SchemaKey -> data.schema.json) ++
        // footer-proved row count: metadata COUNT(*) / DESCRIBE DETAIL /
        // INSERT accounting work on snapshot tables like on partitioned
        // ones (one footer read per staged file, already-written bytes)
        footerEntriesForDir(spark, Nil, tablePath, "all", rel) ++ cdfEntry ++
        meta.map { case (k, v) => s"__$k" -> v })
  }

  /** INSERT INTO for the manifest stack: stage `data` under an immutable
    * uniquely-keyed batch dir and commit `manifest + (append-<uuid> → rel)`
    * — existing entries untouched, so the table is append-only and every
    * append is one atomic flip (the log/ledger shape; [[writeTableAtomic]]
    * is the REPLACE twin). CHECK constraints validate the staged bytes
    * before the flip and the add-only/widening schema-evolution gate
    * applies, exactly like the other write paths. Not for tables managed
    * by the partition-keyed mutators (their manifest keys are partition
    * values; mixing the two key families makes partition surgery
    * ill-defined) — an appended table is read whole or time-traveled.
    * It is [[stageAppend]] followed by [[commitReplace]].
    */
  def appendTableAtomic(spark: SparkSession, data0: DataFrame,
                        tablePath: String,
                        committer: SnapshotCommitter = AtomicRenameCommitter,
                        meta: Map[String, String] = Map.empty): Unit =
    withOp(committer, tablePath, "append") {
      commitReplace(stageAppend(spark, data0, tablePath, committer, meta),
        committer)
    }

  /** The staging half of [[appendTableAtomic]]. */
  private[graft] def stageAppend(spark: SparkSession, data0: DataFrame,
                                 tablePath: String,
                                 committer: SnapshotCommitter,
                                 meta: Map[String, String] = Map.empty): StagedReplace = {
    val manifest = committer.readManifest(tablePath)
    require(!manifest.contains("all") &&
      manifest.keys.forall(k => k.startsWith("__") || k.startsWith("append-")),
      s"append target $tablePath is managed by a non-append write path")
    val data = evolvedPhysical(data0, manifest)
    val batchDirName = startStaging(tablePath, manifest, committer)
    val entry = s"append-${batchDirName.stripPrefix("batch-")}"
    val rel = s"$batchDirName/data"
    data.write.mode(SaveMode.Overwrite).parquet(s"$tablePath/$rel")
    enforceChecks(manifest, tablePath, batchDirName,
      spark.read.parquet(s"$tablePath/$rel"))
    StagedReplace(tablePath, manifest, batchDirName,
      dropCarriedCdf(manifest) + (entry -> rel) +
        (SchemaKey -> committedSchema(manifest)
          .fold(data.schema)(withNullsOf(data.schema, _)).json) ++
        // footer-proved row count for the new entry: existing entries
        // keep their stamps, so the metadata COUNT(*) stays provable
        // across appends (and INSERT INTO's inserted_rows is exact)
        footerEntriesForDir(spark, Nil, tablePath, entry, rel) ++
        meta.map { case (k, v) => s"__$k" -> v })
  }

  /** The staging half of [[upsertPartitionsAtomic]]: merge the delta into
    * the committed state of its touched partitions and [[stageReplace]]
    * the result. Nothing is visible until [[commitReplace]].
    */
  private[graft] def stageUpsert(
      spark: SparkSession, delta: DataFrame, tablePath: String,
      partCol: String, keys: Seq[String], order: Seq[String],
      committer: SnapshotCommitter = AtomicRenameCommitter): StagedReplace = {
    val touched = touchedPartitionsOf(delta, partCol, keys)
    val manifest = committer.readManifest(tablePath)
    // evolution gate BEFORE the existing read: the pruned scan binds the
    // delta's schema (add-only ⇒ it is the widest — pre-evolution rows
    // back-fill the added columns as null), so a delta that silently
    // dropped a committed column would otherwise drop it from the merge.
    // Comparison and file read happen in PHYSICAL names (files never
    // rename); the merge itself stays logical
    val deltaPhys = toPhysical(delta, manifest)
    val deltaPhysSchema = committedSchema(manifest)
      .map(validateEvolution(_, deltaPhys.schema)).getOrElse(deltaPhys.schema)
    // a narrow late-arriving delta upcasts to the committed width here, so
    // the merge and the staged files carry the widened types throughout
    val deltaW = toLogical(castToMerged(deltaPhys, deltaPhysSchema), manifest)

    // manifest-level pruning: only the touched partitions' committed
    // entries are listed/read — I/O is O(delta partitions), not O(table).
    // The read is sidecar-aware: pending MoR deletes must not resurrect —
    // and pending MoR deltas must not vanish — through the merge (the
    // rewrite below materializes both for good)
    val existing = ManifestTable.read(spark, tablePath, manifest,
      entriesOf(manifest, touched), Some(deltaPhysSchema))
    stageReplace(spark, mergeByKey(existing, deltaW, keys, order), tablePath,
      partCol, touched, committer, manifestRead = Some(manifest))
  }

  /** Atomically REPLACE a set of partitions with `data` (which must
    * contain only rows of `parts`) — the per-partition CTAS snapshot:
    * stage to an immutable batch dir, flip the manifest once, GC one
    * cycle late. A partition in `parts` with no rows in `data` is
    * DROPPED from the table (its manifest entry is removed), which is
    * what makes this safe for rebuild-style refreshes where a
    * partition's content can shrink to nothing. It is [[stageReplace]]
    * followed by [[commitReplace]], like [[upsertPartitionsAtomic]].
    */
  def replacePartitionsAtomic(spark: SparkSession, data: DataFrame,
                              tablePath: String, partCol: String,
                              parts: Seq[String],
                              committer: SnapshotCommitter = AtomicRenameCommitter,
                              extraMeta: Map[String, String] = Map.empty): Unit =
    withOp(committer, tablePath, "replace_partitions") {
      commitReplace(stageReplace(spark, data, tablePath, partCol, parts,
        committer, extraMeta), committer)
    }

  /** A write staged under its own batch dir, not yet visible: `manifest`
    * is the committed state it was built against, `newManifest` what
    * [[commitReplace]] publishes; `parts` are the raw partition values a
    * partition write replaces or touches.
    */
  private[graft] final case class StagedReplace(
      tablePath: String, manifest: Map[String, String], batchDirName: String,
      newManifest: Map[String, String], parts: Seq[String] = Nil) {

    /** Footer-proved rows of the staged partitions. */
    def writtenRows: Long = dataEntries(newManifest).collect {
      case (p, rel) if rel.startsWith(s"$batchDirName/") =>
        newManifest(s"$RowsKeyPrefix$p").toLong
    }.sum
  }

  /** The start of every staging half: collect crashed stagings and data
    * the previous commit superseded (its one-cycle reader grace ends
    * here; manifest-referenced dirs stay), then name a fresh batch dir.
    */
  private[graft] def startStaging(tablePath: String,
                                  manifest: Map[String, String],
                                  committer: SnapshotCommitter): String = {
    SnapshotGc.gcUnreferenced(tablePath,
      liveDirRefs(manifest) ++ committer.retainedReferences(tablePath),
      committer.gcGraceMs)
    s"batch-${java.util.UUID.randomUUID().toString.take(8)}"
  }

  /** The write seam: a LOGICAL frame in PHYSICAL names (files never
    * rename), gated add-only+widening against the committed schema, with
    * narrow columns upcast before staging.
    */
  private def evolvedPhysical(data0: DataFrame,
                              manifest: Map[String, String]): DataFrame = {
    val dataRaw = toPhysical(data0, manifest)
    committedSchema(manifest)
      .map(old => castToMerged(dataRaw, validateEvolution(old, dataRaw.schema)))
      .getOrElse(dataRaw)
  }

  /** CHECK enforcement on the physical-named STAGED bytes, in the
    * logical names constraints are authored in: a violation deletes the
    * staging and throws, the previous manifest untouched.
    */
  private def enforceChecks(manifest: Map[String, String], tablePath: String,
                            batchDirName: String, staged: => DataFrame): Unit = {
    val checks = checksOf(manifest)
    if (checks.nonEmpty) {
      val bad = violationCounts(toLogical(staged, manifest), checks)
      if (bad.nonEmpty) {
        TableFs.delete(s"$tablePath/$batchDirName")
        throw new CheckViolationException(bad, checks)
      }
    }
  }

  /** The staging half of a partition replace: stage `data` under a fresh
    * batch dir ([[startStaging]]), run every check and stats job on the
    * staged bytes, and build the new manifest `(manifest -- parts) ++
    * written`. Staging alone is the crash window the commit must
    * tolerate, and it can run beside writes to other tables.
    */
  private[graft] def stageReplace(
      spark: SparkSession, data0: DataFrame, tablePath: String,
      partCol0: String, parts: Seq[String],
      committer: SnapshotCommitter,
      extraMeta: Map[String, String] = Map.empty,
      manifestRead: Option[Map[String, String]] = None): StagedReplace = {
    require(extraMeta.keys.forall(_.startsWith("__")),
      "extraMeta entries are manifest METADATA and must be __-prefixed")
    // normalize RAW partition values to manifest keys up front: staged dir
    // names (and therefore every committed key) are Hive-escaped
    val partsEsc = parts.map(partKey)
    // a caller that already read the manifest (and built its inputs
    // against that read) passes it down: a second read here would RESET a
    // CAS committer's observation, silently blessing any commit that
    // interleaved between the two reads — the lost-update window the CAS
    // precondition exists to close
    val manifest = manifestRead.getOrElse(committer.readManifest(tablePath))
    val data = evolvedPhysical(data0, manifest)
    val partCol = physicalName(manifest, partCol0)
    val batchDirName = startStaging(tablePath, manifest, committer)
    data.withColumn("__part", col(partCol).cast("string"))
      .write.mode(SaveMode.Overwrite).partitionBy("__part")
      .parquet(s"$tablePath/$batchDirName")
    val writtenParts = stagedDirNames(s"$tablePath/$batchDirName", "__part=")
    require(writtenParts.subsetOf(partsEsc.toSet),
      s"data carries partitions outside the replace set: ${writtenParts -- partsEsc.toSet}")

    // ONE shared read of the staged bytes feeds every post-staging job
    // (CHECK validation, zone maps, bloom filters) — persisted when more
    // than one consumer runs, so the write path scans the staging once,
    // not once per concern
    val checks = checksOf(manifest)
    val statCols = (rangeStatsCols(manifest) ++ bloomStatsCols(manifest))
      .filter(data.columns.contains)
    // a declared generated partition column is an invariant, enforced on
    // the staged bytes like a CHECK (the pruner's soundness depends on it)
    val genPart = genPartOf(manifest).filter { case (pc, src, _) =>
      data.columns.contains(src) && data.columns.contains(pc)
    }
    val cdfEnabled = manifest.contains(CdfKeysKey)
    val consumers = (if (checks.nonEmpty) 1 else 0) +
      (if (statCols.nonEmpty) 1 else 0) + (if (genPart.isDefined) 1 else 0) +
      (if (cdfEnabled) 1 else 0)
    val stagedDf =
      if (writtenParts.isEmpty || consumers == 0) None
      else Some(writtenParts.toSeq.sorted.map { p =>
        spark.read.parquet(s"$tablePath/$batchDirName/__part=$p")
          .withColumn("__part", lit(p))
      }.reduce(_ unionByName _))
    if (consumers > 1) stagedDf.foreach(
      _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      stagedDf.foreach(st =>
        enforceChecks(manifest, tablePath, batchDirName, st.drop("__part")))
      // generated-partition invariant on the staged bytes (physical
      // names): a row whose partition value isn't transform(src) would
      // make later interval pruning skip live data — refuse the commit
      genPart.foreach { case (pc, src, t) =>
        stagedDf.foreach { staged =>
          val drifted = staged.filter(!(t.column(col(src)).cast("string") <=>
            col(pc).cast("string"))).limit(1).count()
          if (drifted > 0) {
            TableFs.delete(s"$tablePath/$batchDirName")
            throw new IllegalArgumentException(
              s"generated-partition violation: staged rows where " +
                s"$pc != ${t.name}($src), commit aborted")
          }
        }
      }

      // zone-map entries for the rewritten partitions (empty unless enabled)
      val ranges = stagedDf.map(stagedRangeEntries(spark, manifest, _,
        data.columns.toSeq)).getOrElse(Map.empty[String, String])
      // per-FILE stats + per-partition row counts from the freshly
      // written footers (one local metadata read per file, no data scan)
      val fileRanges = stagedFooterEntries(spark, manifest, tablePath,
        batchDirName, writtenParts, data.columns.toSeq)
      // bloom sidecars land inside the staged dirs before the flip (no-op
      // unless enabled)
      stagedDf.foreach(writeStagedBloomSidecars(spark, manifest,
        s"$tablePath/$batchDirName", _, data.columns.toSeq))
      // write-time change feed: net change rows of exactly the replaced
      // partitions (pre = their committed MoR-applied state, post = the
      // staged bytes) land in the batch dir and bind to this commit under
      // the same flip (no-op Map unless enabled)
      val cdfEntry =
        if (!cdfEnabled) Map.empty[String, String]
        else {
          val preEntries = partsEsc.flatMap(p => manifest.get(p).map(p -> _)).toMap
          // a table enabled BEFORE its first data commit has no committed
          // schema to bind an empty read to — the incoming frame's empty
          // slice is that state
          val emptyState = toLogical(data.limit(0), manifest)
          val pre =
            if (preEntries.nonEmpty) ManifestTable.read(spark, tablePath, manifest, preEntries)
            else emptyState
          stageCdf(manifest, tablePath, batchDirName, pre,
            stagedDf.map(st => toLogical(st.drop("__part"), manifest))
              .getOrElse(emptyState))
        }

      // replaced partitions re-point to the new batch dir (one with no rows
      // left drops out, and its stale zone map goes with it); untouched
      // partitions keep their entries
      // a replaced partition's pending MoR deletes AND deltas are
      // MATERIALIZED by this rewrite (its source read was sidecar-aware)
      // — the sidecar entries drop with the same flip
      val staleFileRanges = manifest.keySet.filter(k =>
        partsEsc.exists(p => k.startsWith(s"$FileRangeKeyPrefix$p/") ||
          k == s"$FileStatsKeyPrefix$p"))
      val newManifest = (manifest -- partsEsc -- partsEsc.map(p => s"$RangeKeyPrefix$p")
          -- partsEsc.map(p => s"$DelKeyPrefix$p")
          -- partsEsc.map(p => s"$DeltaKeyPrefix$p")
          -- partsEsc.map(p => s"$RowsKeyPrefix$p")
          -- staleFileRanges // rewritten partitions: old file names die
          - CdfRelKey - CdfBaseKey) ++ // the change log is strictly per-commit
        writtenParts.map(v => v -> s"$batchDirName/__part=$v") ++ ranges ++
        fileRanges ++ cdfEntry ++
        extraMeta + // e.g. a tail cursor — atomic with the data it describes
        // the schema rides the same flip
        (SchemaKey -> committedSchema(manifest)
          .fold(data.schema)(withNullsOf(data.schema, _)).json) +
        (PartColKey -> partCol) // lets metadata DDL protect the partitioning
      StagedReplace(tablePath, manifest, batchDirName, newManifest, parts)
    } finally {
      if (consumers > 1) stagedDf.foreach(_.unpersist())
    }
  }

  /** The commit half of every staged write: check the staging survived,
    * publish its manifest with one flip, then release superseded data one
    * cycle late.
    */
  private[graft] def commitReplace(staged: StagedReplace,
                                   committer: SnapshotCommitter): Unit = {
    import staged._
    // the time since staging (post-staging jobs, or a caller that commits
    // only after other tables did) can outlast a concurrent writer's GC
    // grace window (the batch dir's mtime froze when staging finished):
    // refresh the staging's age and VERIFY every reference into it — data
    // entries and sidecars alike — survived before publishing it; a
    // collected staging must fail loudly here, not surface later as
    // dangling manifest entries
    val batchDir = s"$tablePath/$batchDirName"
    if (TableFs.isDirectory(batchDir)) TableFs.touch(batchDir)
    val missing = newManifest.collect { case (k, rel) if isDirRef(k) &&
      rel.startsWith(s"$batchDirName/") && !TableFs.isDirectory(s"$tablePath/$rel") => k }
    if (missing.nonEmpty) throw new IllegalStateException(
      s"staged dirs vanished before commit (concurrent GC passed " +
        s"the grace window?): ${missing.toSeq.sorted.mkString(",")}")
    committer.commit(tablePath, newManifest)
    SnapshotGc.gcUnreferenced(tablePath, liveDirRefs(manifest) ++
      liveDirRefs(newManifest) ++ committer.retainedReferences(tablePath),
      committer.gcGraceMs)
  }

  // ---- table lifecycle: RESTORE / shallow CLONE / DESCRIBE HISTORY ----

  /** Run `body` with `op` noted as the label for `tablePath`'s next commit
    * on a history-keeping committer (no-op otherwise). Outermost label
    * wins — `deleteWhere` → `replacePartitionsAtomic` records the delete,
    * not the mechanism — and the label is cleared when the operation ends,
    * committed or failed.
    */
  private[graft] def withOp[T](committer: SnapshotCommitter, tablePath: String,
                               op: String)(body: => T): T =
    committer match {
      case v: graft.streaming.VersionedCommitter =>
        val noted = v.noteOpIfEmpty(tablePath, op)
        try body finally { if (noted) v.clearOp(tablePath) }
      case _ => body
    }

  case class RestoreStats(restoredFrom: Long, newVersion: Long,
                          dataEntries: Int)

  /** RESTORE TABLE ... TO VERSION: roll the table back to `toVersion` by
    * committing that version's manifest as a NEW version. History stays
    * append-only — the bad commits remain as-of-readable for the
    * post-mortem, the restore itself is one more audited entry, and a
    * second restore can undo the first. Pure manifest surgery: no data
    * moves or rewrites, because every retained version's data dirs are
    * already GC-protected ([[graft.streaming.SnapshotCommitter.retainedReferences]]).
    * Throws if `toVersion` has been expired past retention (its files may
    * be gone — an unrestorable point must fail loudly, not resurrect a
    * manifest whose data the GC released).
    */
  def restoreTable(tablePath: String, toVersion: Long,
                   committer: graft.streaming.VersionedCommitter): RestoreStats = {
    val m = committer.readManifestAsOf(tablePath, toVersion)
    withOp(committer, tablePath, s"restore(v$toVersion)") {
      // a restored manifest carries the SOURCE version's change log — for
      // the restore commit it describes the wrong transition entirely
      committer.commit(tablePath, dropCarriedCdf(m))
    }
    RestoreStats(toVersion, committer.versions(tablePath).last,
      dataEntries(m).size)
  }

  case class RepartitionStats(newPartCol: String, partitions: Int)

  /** PARTITION-SPEC CHANGE: atomically re-lay the table out under
    * `newPartCol` — the answer to "we partitioned by ingest bucket, the
    * queries filter by day". One pass reads the current state (pending
    * MoR sidecars folded in), stages it partitioned by the new column,
    * and ONE manifest flip publishes the new layout: readers see
    * old-layout-or-new, never mixed, and history keeps every pre-change
    * version readable in its OWN contemporaneous layout (time travel
    * crosses the spec change). Declared table config (schema, column
    * maps, constraints, zone-map/bloom declarations, MoR key config)
    * carries over and the per-partition skipping metadata is REBUILT for
    * the new layout by the staging path; the old layout's per-partition
    * entries and pending sidecars are dropped (their content is already
    * folded into the staged bytes).
    *
    * vs. Iceberg's lazy spec evolution (new spec applies to new writes
    * only): this is the eager rewrite — one honest table-sized job now,
    * in exchange for never carrying multi-spec read/prune complexity.
    * At 100 TB you schedule it like any compaction; the flip itself is
    * O(1). Requires a history-keeping committer: retained versions are
    * what make the in-flight read of the old layout GC-safe.
    */
  def repartitionTable(spark: SparkSession, tablePath: String,
                       newPartCol: String,
                       committer: graft.streaming.VersionedCommitter): RepartitionStats =
    withOp(committer, tablePath, s"repartition($newPartCol)") {
      val manifest = committer.readManifest(tablePath)
      require(dataEntries(manifest).nonEmpty, s"no committed table at $tablePath")
      val table = readTable(spark, tablePath, committer)
      require(table.columns.contains(newPartCol),
        s"no column '$newPartCol' to repartition $tablePath by")
      val pcPhys = physicalName(manifest, newPartCol)
      // the new partition values — bounded by the same cap a sane layout
      // obeys anyway (a million-way partitioning is a modeling error)
      val values = table.select(col(newPartCol).cast("string")).distinct()
        .collect().map(_.getString(0))
      require(!values.contains(null),
        s"partition column $newPartCol carries NULLs — not partitionable")
      require(values.length <= 10000,
        s"$newPartCol has ${values.length} distinct values — too many partitions")
      // carry table-level config; drop old-layout per-partition metadata
      // and pending sidecars (folded into the staged read above), and the
      // generated-partition declaration — it described the OLD layout's
      // partition column, not the new one
      val cleaned = manifest.filter { case (k, _) =>
        k.startsWith("__") && !k.startsWith(RangeKeyPrefix) &&
          !k.startsWith(FileRangeKeyPrefix) && !k.startsWith(FileStatsKeyPrefix) &&
          !k.startsWith(RowsKeyPrefix) &&
          !k.startsWith(DelKeyPrefix) && !k.startsWith(DeltaKeyPrefix) &&
          k != GenPartKey
      } + (PartColKey -> pcPhys)
      // the `cleaned` manifest deliberately hides the old layout's data
      // entries, so a change log staged against it would read as
      // all-inserts — garbage (repartition's true delta is EMPTY). Pull
      // the enablement out of the staging's view and ride it back in via
      // extraMeta, so the feed stays ENABLED but this commit logs nothing
      // and tableChanges recomputes the (empty) pruned diff instead.
      commitReplace(stageReplace(spark, table, tablePath, newPartCol,
        values.toSeq, committer,
        manifestRead = Some(dropCarriedCdf(cleaned) - CdfKeysKey),
        extraMeta = cleaned.get(CdfKeysKey).map(CdfKeysKey -> _).toMap), committer)
      RepartitionStats(newPartCol, values.length)
    }

  case class CloneStats(srcVersion: Long, dataEntries: Int, copiedBytes: Long)

  /** SHALLOW CLONE: publish `dstPath` as an independent table whose
    * manifest references `srcPath`'s committed data files IN PLACE —
    * zero bytes copied (`copiedBytes` is always 0; it exists so callers
    * can assert the zero-copy property). `version` clones an as-of state
    * (default: the current manifest) — the cheap dev/test-branch and
    * what-if pattern table formats ship as `CREATE TABLE ... SHALLOW CLONE`.
    *
    * Mechanics: every path-valued manifest entry (data dirs and MoR
    * `__del.`/`__delta.` sidecars) is rewritten relative to `dstPath`
    * (`../src/batch-…`); inline metadata (schema, checks, stats, column
    * maps) carries over verbatim, so the clone inherits constraints and
    * column-mapping state. The clone then EVOLVES independently: mutators
    * stage clone-local `batch-…` dirs and drop source refs from the
    * manifest as partitions are replaced, and the clone's staging GC only
    * ever scans clone-local dirs — it can never collect source data.
    *
    * The one cross-table caveat (shared with Delta/Iceberg shallow
    * clones): the SOURCE's GC does not know about clones, so expiring
    * source history / VACUUM on the source can release files a clone
    * still references. Clone from a TAGGED source version (tags are
    * retention pins) when the clone must outlive source retention.
    * Same-filesystem paths assumed (the rewrite is `Path.relativize`).
    */
  def cloneTable(srcPath: String, dstPath: String,
                 srcCommitter: graft.streaming.VersionedCommitter,
                 version: Option[Long] = None,
                 dstCommitter: SnapshotCommitter = AtomicRenameCommitter): CloneStats = {
    val srcVersion = version.getOrElse(
      srcCommitter.versions(srcPath).lastOption.getOrElse(
        sys.error(s"no committed history to clone at $srcPath")))
    val m = srcCommitter.readManifestAsOf(srcPath, srcVersion)
    val srcAbs = java.nio.file.Paths.get(srcPath).toAbsolutePath.normalize
    val dstAbs = java.nio.file.Paths.get(dstPath).toAbsolutePath.normalize
    require(srcAbs != dstAbs, "cannot clone a table onto itself")
    val rewritten = m.map { case (k, v) =>
      if (isDirRef(k) || k.startsWith(FileStatsKeyPrefix))
        k -> dstAbs.relativize(srcAbs.resolve(v)).toString
      else k -> v
    }
    withOp(dstCommitter, dstPath, s"clone($srcPath@v$srcVersion)") {
      dstCommitter.commit(dstPath, dropCarriedCdf(rewritten))
    }
    CloneStats(srcVersion, dataEntries(rewritten).size, 0L)
  }

  // ---- ANALYZE: committed column statistics + the stats-driven plan seam ----

  private val StatsRowcountKey = "__stats.rowcount"
  private val StatsColPrefix = "__stats.col." // __stats.col.<logical> -> nulls\tndv\tmin\tmax

  case class ColumnStats(column: String, nNulls: Long, nDistinct: Long,
                         min: Option[String], max: Option[String])
  case class TableStats(rowCount: Long, columns: Seq[ColumnStats])

  // Option[String] encoding for committed min/max: manifest VALUES may
  // carry tabs (split limit 2) but never newlines — URL-encode the value
  // and prefix so a literal string "N" can't masquerade as a null
  private def encOpt(o: Option[String]): String =
    o.fold("N")(v => "V" + java.net.URLEncoder.encode(v, "UTF-8"))
  private def decOpt(s: String): Option[String] =
    if (s == "N") None else Some(java.net.URLDecoder.decode(s.stripPrefix("V"), "UTF-8"))

  /** ANALYZE TABLE: compute exact table statistics — row count and, per
    * atomic-typed column, null count, exact distinct count, and min/max —
    * and COMMIT them as manifest metadata riding one new version (labeled
    * `analyze` in history), so every later reader/planner gets them for
    * free with the manifest it already loads. Two aggregation jobs over
    * one scan shape, the [[graft.operators.Quality.profileColumns]]
    * split: the distinct pass keeps its expand on HashAggregate
    * (primitive buffers), the min/max pass is grouping-free; both return
    * ONE row to the driver. Exact NDV is a full-shuffle aggregate — the
    * right default at ANALYZE cadence; swap the KMV sketch
    * ([[graft.functions.expr.Sketches]]) in where approximate NDV
    * suffices. Stats describe the state at analyze time and go stale as
    * commits land (standard warehouse semantics — re-run on cadence);
    * [[readTableCbo]] treats them as advisory sizing, never correctness.
    */
  def analyzeTable(spark: SparkSession, tablePath: String,
                   committer: SnapshotCommitter = AtomicRenameCommitter,
                   cols: Seq[String] = Nil): TableStats =
    withOp(committer, tablePath, "analyze") {
      val manifest = committer.readManifest(tablePath)
      val df = readTable(spark, tablePath, committer)
      import org.apache.spark.sql.types._
      val atomic = df.schema.fields.filter(_.dataType match {
        case _: NumericType | StringType | BooleanType | DateType |
             TimestampType | TimestampNTZType | BinaryType => true
        case _ => false
      }).map(_.name).toSeq
      val target = if (cols.isEmpty) atomic else {
        val missing = cols.filterNot(atomic.contains)
        require(missing.isEmpty,
          s"cannot analyze non-atomic or unknown columns: ${missing.mkString(",")}")
        cols
      }
      require(target.nonEmpty, s"no analyzable columns at $tablePath")
      val minMax = df.agg(
        count(lit(1)).as("n_rows"),
        target.flatMap { c =>
          Seq((count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
            min(col(c)).cast("string").as(s"${c}__min"),
            max(col(c)).cast("string").as(s"${c}__max"))
        }: _*).head()
      val distincts = df.agg(
        countDistinct(col(target.head)).as(s"${target.head}__d"),
        target.tail.map(c => countDistinct(col(c)).as(s"${c}__d")): _*).head()
      val nRows = minMax.getAs[Long]("n_rows")
      val colStats = target.map { c =>
        ColumnStats(c, minMax.getAs[Long](s"${c}__nulls"),
          distincts.getAs[Long](s"${c}__d"),
          Option(minMax.getAs[String](s"${c}__min")),
          Option(minMax.getAs[String](s"${c}__max")))
      }
      val entries = colStats.map(s => s"$StatsColPrefix${s.column}" ->
        s"${s.nNulls}\t${s.nDistinct}\t${encOpt(s.min)}\t${encOpt(s.max)}")
      // drop stats for columns no longer analyzed (renamed/dropped since)
      val cleaned = manifest.filterNot(_._1.startsWith(StatsColPrefix))
      committer.commit(tablePath,
        dropCarriedCdf(cleaned ++ entries) + (StatsRowcountKey -> nRows.toString))
      TableStats(nRows, colStats)
    }

  private val PartStatsKey = "__pstats"

  case class IncrementalAnalyzeStats(stats: TableStats,
                                     recomputedPartitions: Seq[String])

  /** INCREMENTAL ANALYZE — stats maintenance proportional to CHANGE, not
    * table size: per-partition key statistics (rows, nulls, min/max, and
    * the MERGEABLE KMV bottom-k NDV sketch) live in one `_stats` sidecar
    * file keyed by each partition's content fingerprint (data dir + MoR
    * sidecar refs); a re-ANALYZE re-aggregates ONLY partitions whose
    * fingerprint moved and merges the rest from the sidecar — at 100 TB
    * that is the difference between a full-table NDV shuffle per stats
    * refresh and one O(changed-days) job. The merged table stats commit
    * under the SAME `__stats.*` keys the exact [[analyzeTable]] writes,
    * so every consumer (readTableCbo's broadcast decision,
    * [[graft.plans.StatsJoinReorder]], DESCRIBE STATISTICS) reads them
    * unchanged.
    *
    * Scope: `keyCols` must be NON-NEGATIVE LONG columns (ids/keys — the
    * columns join reordering needs NDV for; [[Sketches.mhash61]] fails
    * fast on negatives). NDV is the KMV estimate — deterministic and
    * exactly replayable cross-engine (the merged bottom-k of
    * per-partition bottom-ks IS the global bottom-k), exact below k.
    * Nulls/min/max/rowcount are exact. For exact-NDV full-column stats,
    * the one-shot [[analyzeTable]] remains. A logical column rename
    * changes the requested names and marks every partition stale (the
    * sidecar's column set no longer matches) — conservative, never wrong.
    */
  def analyzeTableIncremental(spark: SparkSession, tablePath: String,
                              committer: SnapshotCommitter,
                              keyCols: Seq[String],
                              k: Int = 256): IncrementalAnalyzeStats =
    withOp(committer, tablePath, "analyze_incr") {
      require(keyCols.nonEmpty, "incremental analyze needs key columns")
      val manifest = committer.readManifest(tablePath)
      val data = dataEntries(manifest)
      require(data.nonEmpty, s"no committed table at $tablePath")
      // fail FAST on what is checkable without a scan: the TYPE always (a
      // string/double key would die mid-job in the executor hash after
      // the scan cost is paid), the NON-NEGATIVE half of the contract
      // whenever committed stats already prove a violation (a prior
      // ANALYZE min < 0 means mhash61 WILL throw mid-job — refuse up
      // front); without committed stats the sign check necessarily
      // happens in-job, where mhash61 raises the same contract error
      locally {
        val schema = readTablePartitions(spark, tablePath, Nil, committer).schema
        val bad = keyCols.filterNot(c => schema.fields.find(_.name == c)
          .exists(_.dataType == org.apache.spark.sql.types.LongType))
        require(bad.isEmpty,
          s"incremental analyze key columns must be LONG (ids/keys): " +
            s"${bad.mkString(",")} — use analyzeTable for full-column stats")
        val provenNegative = cboColStatsOf(manifest).toSeq.flatMap {
          case (_, byName) => keyCols.filter(c =>
            byName.get(c).flatMap(_.min).flatMap(_.toLongOption).exists(_ < 0L))
        }
        require(provenNegative.isEmpty,
          s"incremental analyze key columns must be NON-NEGATIVE; committed " +
            s"stats show min < 0 for: ${provenNegative.mkString(",")}")
      }
      import graft.functions.expr.Sketches

      def fingerprint(p: String): String = Seq(
        manifest.get(p), manifest.get(s"$DelKeyPrefix$p"),
        manifest.get(s"$DeltaKeyPrefix$p")).flatten.mkString("|")

      // sidecar line: p \t fp \t rows \t col␁nulls␁minEnc␁maxEnc␁h,h,… ␀ …
      final case class ColStat(nulls: Long, min: Option[String],
                               max: Option[String], kmv: Array[Long])
      final case class PartStat(fp: String, rows: Long,
                                cols: Map[String, ColStat])
      def parseSidecar(rel: String): Map[String, PartStat] =
        TableFs.readStringOpt(s"$tablePath/$rel") match {
          case None => Map.empty // vanished = recompute everything
          case Some(body) => parseSidecarBody(body)
        }
      def parseSidecarBody(body: String): Map[String, PartStat] = {
        val lines = body
          .split("\n").filter(_.nonEmpty)
        // sketches taken at a different k do NOT merge with this run's: a
        // smaller-k sketch truncated at 64 read into a k=256 merge would
        // land in the "exact below k" branch and commit a wildly wrong
        // NDV — a k mismatch marks every partition stale instead
        if (!lines.headOption.contains(s"#k=$k")) return Map.empty
        lines.drop(1).map { line =>
            val Array(p, fp, rows, colsBlob) = line.split("\t", 4)
            val cols = colsBlob.split("\u0002").filter(_.nonEmpty).map { cb =>
              val parts = cb.split("\u0001", 5)
              val kmv =
                if (parts(4).isEmpty) Array.empty[Long]
                else parts(4).split(",").map(_.toLong)
              parts(0) -> ColStat(parts(1).toLong, decOpt(parts(2)),
                decOpt(parts(3)), kmv)
            }.toMap
            p -> PartStat(fp, rows.toLong, cols)
          }.toMap
      }
      val prior = manifest.get(PartStatsKey).map(parseSidecar)
        .getOrElse(Map.empty)

      val parts = data.keys.toSeq.sorted
      val stale = parts.filter { p =>
        prior.get(p) match {
          case Some(ps) => ps.fp != fingerprint(p) ||
            ps.cols.keySet != keyCols.toSet
          case None => true
        }
      }

      // ONE job over the stale partitions, grouped by partition value:
      // exact rows/nulls/min/max + the bottom-k hash set per key column
      val pcPhys = manifest.getOrElse(PartColKey,
        sys.error(s"no partition column committed at $tablePath"))
      val pcLogical = toLogicalName(manifest, pcPhys)
      val fresh: Map[String, PartStat] =
        if (stale.isEmpty) Map.empty
        else {
          val src = readTablePartitions(spark, tablePath, stale, committer)
          val aggs = count(lit(1)).as("__rows") +: keyCols.flatMap { c =>
            Seq((count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
              min(col(c)).cast("string").as(s"${c}__min"),
              max(col(c)).cast("string").as(s"${c}__max"),
              Sketches.kmvSet(Sketches.mhash61(col(c)), k).as(s"${c}__kmv"))
          }
          val rows = src.groupBy(col(pcLogical).cast("string").as("__p"))
            .agg(aggs.head, aggs.tail: _*).collect() // one row per partition
          val computed = rows.map { r =>
            val p = partKey(r.getAs[String]("__p"))
            val cols = keyCols.map { c =>
              c -> ColStat(r.getAs[Long](s"${c}__nulls"),
                Option(r.getAs[String](s"${c}__min")),
                Option(r.getAs[String](s"${c}__max")),
                r.getAs[scala.collection.Seq[Long]](s"${c}__kmv").toArray)
            }.toMap
            p -> PartStat(fingerprint(p), r.getAs[Long]("__rows"), cols)
          }.toMap
          // a partition whose presented rows all vanished emits no group
          // row: record it as empty so its fingerprint reads fresh
          val empties = stale.filterNot(computed.contains).map { p =>
            p -> PartStat(fingerprint(p), 0L,
              keyCols.map(_ -> ColStat(0L, None, None, Array.empty[Long])).toMap)
          }
          computed ++ empties
        }

      val all: Map[String, PartStat] =
        parts.map(p => p -> fresh.getOrElse(p, prior(p))).toMap

      // merge: exact sums, long-ordered min/max, global bottom-k estimate
      // (keys are contract-enforced LONG, so the string forms parse back)
      val nRows = all.values.map(_.rows).sum
      val colStats = keyCols.map { c =>
        val per = all.values.map(_.cols(c)).toSeq
        val mins = per.flatMap(_.min)
        val maxs = per.flatMap(_.max)
        ColumnStats(c, per.map(_.nulls).sum,
          Sketches.kmvMergeEstimate(per.map(_.kmv), k),
          if (mins.isEmpty) None else Some(mins.minBy(_.toLong)),
          if (maxs.isEmpty) None else Some(maxs.maxBy(_.toLong)))
      }

      // write the new sidecar, commit stats + pointer in one flip, then
      // drop the superseded sidecar (stats are ADVISORY: an as-of reader
      // of an older version finds no stats = no CBO, never a wrong answer)
      TableFs.mkdirs(s"$tablePath/_stats")
      val rel = s"_stats/pstats-${java.util.UUID.randomUUID().toString.take(8)}.tsv"
      val body = (s"#k=$k" +: parts.map { p =>
        val ps = all(p)
        val colsBlob = keyCols.map { c =>
          val cs = ps.cols(c)
          Seq(c, cs.nulls.toString, encOpt(cs.min), encOpt(cs.max),
            cs.kmv.mkString(",")).mkString("\u0001")
        }.mkString("\u0002")
        s"$p\t${ps.fp}\t${ps.rows}\t$colsBlob"
      }).mkString("\n")
      TableFs.writeString(s"$tablePath/$rel", body)
      val entries = colStats.map(c => s"$StatsColPrefix${c.column}" ->
        Seq(c.nNulls.toString, c.nDistinct.toString, encOpt(c.min),
          encOpt(c.max)).mkString("\t")).toMap
      val cleaned = manifest.filterNot(_._1.startsWith(StatsColPrefix))
      committer.commit(tablePath, dropCarriedCdf(cleaned ++ entries) +
        (StatsRowcountKey -> nRows.toString) + (PartStatsKey -> rel))
      manifest.get(PartStatsKey).foreach(old =>
        TableFs.delete(s"$tablePath/$old"))
      IncrementalAnalyzeStats(TableStats(nRows, colStats.sortBy(_.column)),
        stale.map(org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName))
    }

  /** The committed statistics, if the table has been ANALYZEd. */
  def tableStats(tablePath: String,
                 committer: SnapshotCommitter = AtomicRenameCommitter): Option[TableStats] = {
    val manifest = committer.readManifest(tablePath)
    manifest.get(StatsRowcountKey).map { n =>
      val cols = manifest.toSeq.collect {
        case (k, v) if k.startsWith(StatsColPrefix) =>
          val c = k.stripPrefix(StatsColPrefix)
          val Array(nulls, ndv, mn, mx) = v.split("\t", 4)
          ColumnStats(c, nulls.toLong, ndv.toLong, decOpt(mn), decOpt(mx))
      }.sortBy(_.column)
      TableStats(n.toLong, cols)
    }
  }

  /** Committed CBO inputs straight off a manifest snapshot: (exact
    * rowcount, column → NDV) — keyed by BOTH the logical stats name and
    * its current physical name, so consumers matching either side of the
    * rename seam (the raw relation is physical-named, the read surface
    * logical-named) resolve the same numbers. None = never ANALYZEd.
    */
  private[graft] def cboStatsOf(manifest: Map[String, String]): Option[(Long, Map[String, Long])] =
    manifest.get(StatsRowcountKey).map { n =>
      val byLogical = manifest.toSeq.collect {
        case (k, v) if k.startsWith(StatsColPrefix) =>
          k.stripPrefix(StatsColPrefix) -> v.split("\t", 4)(1).toLong
      }
      val byPhysical = byLogical.map { case (c, d) =>
        physicalName(manifest, c) -> d
      }
      (n.toLong, (byLogical ++ byPhysical).toMap)
    }

  /** Per-column CBO stats line: NDV, null count, and the committed
    * min/max renderings — what range-predicate selectivity estimation
    * needs beyond [[cboStatsOf]]'s NDV.
    */
  private[graft] case class CboColStats(ndv: Long, nulls: Long,
                                        min: Option[String], max: Option[String])

  /** [[cboStatsOf]] extended with null counts and value ranges: (exact
    * rowcount, column → (ndv, nulls, min, max)), keyed by BOTH the
    * logical stats name and its current physical name. None = never
    * ANALYZEd.
    */
  private[graft] def cboColStatsOf(manifest: Map[String, String]): Option[(Long, Map[String, CboColStats])] =
    manifest.get(StatsRowcountKey).map { n =>
      val byLogical = manifest.toSeq.collect {
        case (k, v) if k.startsWith(StatsColPrefix) =>
          val Array(nulls, ndv, mn, mx) = v.split("\t", 4)
          k.stripPrefix(StatsColPrefix) ->
            CboColStats(ndv.toLong, nulls.toLong, decOpt(mn), decOpt(mx))
      }
      val byPhysical = byLogical.map { case (c, d) =>
        physicalName(manifest, c) -> d
      }
      (n.toLong, (byLogical ++ byPhysical).toMap)
    }

  /** The committed statistics as a tall frame (one row per analyzed
    * column) — the DESCRIBE-statistics read surface, and what the
    * correctness harness diffs against an independent recompute.
    */
  def statsAsDataFrame(spark: SparkSession, tablePath: String,
                       committer: SnapshotCommitter = AtomicRenameCommitter): DataFrame = {
    import spark.implicits._
    val st = tableStats(tablePath, committer).getOrElse(
      sys.error(s"no committed statistics at $tablePath — run analyzeTable"))
    st.columns.map(c => (c.column, st.rowCount, c.nNulls, c.nDistinct,
        c.min.orNull, c.max.orNull))
      .toDF("col_name", "n_rows", "n_nulls", "n_distinct", "min_s", "max_s")
  }

  /** Stats-driven scan: [[readTable]], wrapped in a `broadcast()` hint
    * when the committed row count × the schema's estimated row width fits
    * under `thresholdBytes` — the cost-based small-side decision a
    * catalog-backed warehouse makes from ANALYZE output, here made from
    * the manifest's own stats. Without stats (or over threshold) the
    * frame is returned unhinted and the planner falls back to its
    * file-size estimate — stale/absent stats degrade the PLAN, never the
    * result. The hint rides the plan through joins, so
    * `fact.join(readTableCbo(dim))` broadcasts exactly when the dim's
    * measured size says it should.
    */
  def readTableCbo(spark: SparkSession, tablePath: String,
                   committer: SnapshotCommitter = AtomicRenameCommitter,
                   thresholdBytes: Long = 10L << 20): DataFrame = {
    val df = readTable(spark, tablePath, committer)
    tableStats(tablePath, committer) match {
      case Some(st) =>
        val width = df.schema.fields.map(_.dataType.defaultSize.toLong).sum
        if (st.rowCount * width <= thresholdBytes) broadcast(df) else df
      case None => df
    }
  }

  /** DESCRIBE HISTORY: one row per retained version — (version, operation
    * label from the committer's OPS log, #data partitions, exact row
    * count). Row counts here are recomputed with as-of reads (one
    * manifest-pruned count job per retained version — exact and
    * fixture-oracle-able); a 100-TB deployment would additionally persist
    * per-commit rowcount deltas as manifest metadata and serve history
    * from those, the way [[analyzeTable]] persists column stats.
    */
  def tableHistory(spark: SparkSession, tablePath: String,
                   committer: graft.streaming.VersionedCommitter): DataFrame = {
    import spark.implicits._
    val ops = committer.ops(tablePath)
    val rows = committer.versions(tablePath).map { v =>
      val m = committer.readManifestAsOf(tablePath, v)
      val data = dataEntries(m)
      val nRows =
        if (data.isEmpty) 0L
        else ManifestTable.read(spark, tablePath, m, data).count()
      (v, ops.getOrElse(v, "commit"), data.size.toLong, nRows)
    }
    rows.toDF("version", "operation", "n_partitions", "n_rows")
  }
}
