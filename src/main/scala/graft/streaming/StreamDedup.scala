package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming form of the reference's incremental semantics
  * (SURVEY.md §2.9). The reference is cron-driven micro-batch: 10-minute
  * replication with a 20-minute lookback (deliberate overlap ⇒ duplicates,
  * reference README.md:364,382) repaired downstream by keep-latest dedup
  * (sql/bq_fact_vitals.sql:14-17). In continuous form:
  *
  *  - the 20-minute lookback becomes the watermark delay (bounds dedup
  *    state exactly like the lookback bounds reprocessing);
  *  - the downstream dedup becomes `dropDuplicates("event_id")` with that
  *    watermark — state is evicted once an event can no longer reappear;
  *  - the daily group-by-date rollup (A6) becomes a 1-day tumbling window.
  *
  * Scale: dedup state is hash-partitioned on event_id across executors;
  * the watermark keeps per-executor state bounded by (rate × delay).
  */
object StreamDedup {

  /** Exactly-once repair for an overlapping-replication stream. */
  def dedupStream(events: DataFrame, watermarkDelay: String = "20 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicates("event_id")

  /** Tumbling daily counts per event_type with late-data tolerance. */
  def dailyCounts(events: DataFrame, watermarkDelay: String = "20 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("day_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Gap-based session aggregation via the NATIVE `session_window` function
    * — the idiomatic Spark form of sessionization when per-session
    * aggregates are all that's needed (state merging, watermark eviction
    * and out-of-order handling come from the engine; reserve
    * [[Stateful.streamingSessions]] for bespoke per-session semantics a
    * built-in aggregate can't express). Works over batch and streaming
    * input alike; in streaming, append mode emits a session once the
    * watermark passes its close. `session_window.end` is last-event + gap,
    * so `session_end_us` here is the batch operator's `max(ts)` + gap.
    * Boundary: an event EXACTLY gap after its predecessor CONTINUES the
    * session — its window [prev+gap, prev+2·gap) touches the open
    * session's close and Spark's session merge treats touching as
    * overlapping (verified empirically) — matching
    * `Analytics.sessionize`'s strict `>` break condition (StreamingSpec
    * pins an exact-gap case on both).
    */
  def sessionCounts(events: DataFrame, gapMinutes: Int = 30,
                    watermarkDelay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"))

  /** The run-log base projection shared by every streaming monitoring view:
    * the same nested dot paths, try_cast status guard, and 2xx success band
    * as the batch view (Monitoring.resultsFromRunLog) — stateless, so it
    * composes under any streaming output mode. Columns a view doesn't use
    * are pruned by Catalyst.
    */
  private def runLogResults(runLogStream: DataFrame): DataFrame =
    runLogStream
      .select(
        col("timestamp"),
        col("resource.labels.job_id").as("job_name"),
        expr("try_cast(httpRequest.status AS BIGINT)").as("status"),
        col("httpRequest.requestUrl").as("request_url"),
        col("severity"))
      .filter(col("status").isNotNull)
      .withColumn("is_success", col("status").between(200, 299))

  /** Streaming form of the run-log daily monitoring rollup: the batch view
    * (Monitoring.dailySummaryFromRunLog) expressed over a file-discovered
    * log stream with a watermarked 1-day tumbling window. The watermark
    * bounds per-job aggregation state to (open windows × jobs); late log
    * records inside the delay still land in their day.
    */
  def streamingRunLogDailySummary(runLogStream: DataFrame,
                                  watermarkDelay: String = "1 hour"): DataFrame =
    runLogResults(runLogStream)
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(window(col("timestamp"), "1 day"), col("job_name"))
      .agg(
        count(lit(1)).as("total_runs"),
        sum(when(col("is_success"), 1L).otherwise(0L)).as("success_runs"))
      .select(col("window.start").cast("date").as("event_date"), col("job_name"),
        col("total_runs"), col("success_runs"))

  /** Streaming form of the 7-day rolling summary (A8 continuous): the batch
    * view is "trailing week per job, relative to today" (Monitoring
    * .sevenDaySummaryFromRunLog: day_partition >= today−7, i.e. 8 calendar
    * days inclusive); the streaming analog maintains EVERY trailing window
    * at once as a sliding event-time window of 8 days advancing 1 day —
    * the row whose `window_end` is tomorrow is the batch view's answer,
    * and past rows are the view's history. Watermark bounds state to
    * (open windows/event ≤ 8) × jobs; the same integer fixed-point rate
    * as the batch side keeps stream ≡ batch exact, not approximate.
    */
  def streamingRunLog7dSummary(runLogStream: DataFrame,
                               watermarkDelay: String = "1 hour"): DataFrame =
    runLogResults(runLogStream)
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(window(col("timestamp"), "8 days", "1 day"), col("job_name"))
      .agg(
        count(lit(1)).as("runs_7d"),
        sum(when(col("is_success"), 1L).otherwise(0L)).as("success_7d"))
      .withColumn("success_rate_7d",
        graft.functions.FxMath.ratio(col("success_7d"), col("runs_7d"), 4))
      .select(
        col("window.start").cast("date").as("window_start"),
        col("window.end").cast("date").as("window_end"),
        col("job_name"), col("runs_7d"), col("success_7d"),
        col("success_rate_7d"))

  /** Streaming form of the last-status view (W2 continuous): keep-latest
    * per job as a `max_by` aggregate — the same map-side-combining shape as
    * the batch Dedup.keepLatestAgg rewrite, with streaming state bounded to
    * ONE row per job (no watermark needed: the state never grows with
    * input, only with the job universe). Same (timestamp, request_url)
    * survivor total order as Monitoring.lastStatusFromRunLog.
    */
  def streamingRunLogLastStatus(runLogStream: DataFrame): DataFrame =
    runLogResults(runLogStream)
      .groupBy(col("job_name"))
      .agg(max_by(
        struct(col("timestamp"), col("status"), col("is_success")),
        struct(col("timestamp"), col("request_url"))).as("__last"))
      .select(col("job_name"), col("__last.timestamp").as("timestamp"),
        col("__last.status").as("status"),
        col("__last.is_success").as("is_success"))

  /** Streaming form of the errors view (P6 continuous): stateless
    * nested-field extract + failure filter, append mode, zero state. The
    * batch view's newest-first ORDER BY is presentation-only and has no
    * streaming analog (a global sort over an unbounded stream is
    * undefined); readers sort their window.
    */
  def streamingRunLogErrors(runLogStream: DataFrame): DataFrame =
    runLogResults(runLogStream)
      .filter(!col("is_success"))
      .select("timestamp", "job_name", "status", "request_url", "severity")

  /** foreachBatch MERGE analog (SURVEY.md §2.9 "streaming: dropDuplicates…
    * or foreachBatch + MERGE"): each micro-batch is merged into a
    * day-partitioned parquet snapshot by key — existing rows are replaced
    * by newer versions, keep-latest per key. This is the upsert shape for
    * sinks without native MERGE; on a table format with MERGE INTO the same
    * foreachBatch body becomes one SQL statement.
    *
    * Rewrites are bounded to the day partitions the batch touches (plus the
    * previous day, because the replication lookback is shorter than a day,
    * so a superseded version of a key can sit at most one partition behind
    * its replacement). Untouched days are never read or rewritten — per
    * batch the I/O is O(touched days), not O(snapshot), which is the
    * difference between a merge and a full-table rewrite on a growing
    * 100 TB snapshot.
    *
    * Commit protocol (object-store-safe — the miniature of what Iceberg/
    * Delta commits do, replacing the earlier local-rename day swap):
    *
    *  1. data is IMMUTABLE: each merge writes its output days under a
    *     fresh `batch-<uuid>/day_part=<day>/` dir and nothing ever mutates
    *     an existing data object;
    *  2. visibility is ONE POINTER: the `MANIFEST` file maps each day to
    *     the batch dir that currently owns it; readers
    *     ([[readSnapshot]]) scan only manifest-referenced paths, so an
    *     uncommitted or orphaned batch dir is invisible by construction;
    *  3. commit is ONE ATOMIC REPLACE of that pointer (temp file +
    *     `ATOMIC_MOVE` locally ≡ a single-object PUT on S3/GCS, which is
    *     atomic-replace there);
    *  4. GC runs AFTER commit with a ONE-CYCLE retention window: the
    *     post-commit sweep keeps everything either manifest (old or new)
    *     references, so a reader that resolved paths just before the flip
    *     finishes its scan; a day dir superseded by merge N is deleted at
    *     merge N+1's start, along with any crashed predecessor's
    *     uncommitted staging.
    *
    * The pointer-flip mechanism itself is the [[SnapshotCommitter]] seam:
    * atomic rename here, a conditional put on S3-class stores (see the
    * trait doc for the contract and the fault-injection spec that pins it).
    *
    * A crash anywhere in the window between data write and pointer flip
    * leaves the old manifest — and therefore exactly the old committed
    * state — in force: no day is ever lost or doubled
    * (`FileStreamSpec` kills a merge inside that window and proves both).
    * Single writer assumed with the default committer (one foreachBatch
    * sink); pass a [[CasCommitter]] to turn a concurrent writer's
    * interleaved commit into a retryable [[ConcurrentCommitException]]
    * instead — the conditional-put contract, as with any
    * filesystem-pointer table format without a CAS service.
    */
  def mergeBatchIntoSnapshot(spark: org.apache.spark.sql.SparkSession,
                             batch: DataFrame, snapshotPath: String,
                             key: String, orderCol: String,
                             committer: SnapshotCommitter = AtomicRenameCommitter): Seq[String] = {
    val days = batchDays(batch, orderCol)
    if (days.isEmpty) return Seq.empty // empty micro-batch: nothing to commit
    val staged = stageMerge(spark, batch, snapshotPath, key, orderCol, days, committer)
    commitMerge(staged, committer)
    staged.readDays
  }

  /** The `yyyyMMdd` days present in `batch` by `orderCol` — partition
    * METADATA, not data: each input partition returns its distinct days and
    * the driver merges them, one job with no shuffle (a `distinct()` costs
    * a shuffle-map job plus a result job).
    */
  private[graft] def batchDays(batch: DataFrame, orderCol: String): Seq[String] = {
    val day = org.apache.spark.sql.Encoders.STRING
    batch.select(date_format(col(orderCol), "yyyyMMdd")).as(day)
      .mapPartitions(_.toSet.iterator)(day)
      .collect().toSeq.distinct
  }

  /** Read a snapshot's committed state: exactly the manifest-referenced
    * data dirs (`snap_day` rides in the data columns, so no partition
    * discovery is needed over the mixed batch-dir layout).
    */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession,
                   snapshotPath: String,
                   committer: SnapshotCommitter = AtomicRenameCommitter): DataFrame = {
    val manifest = committer.readManifest(snapshotPath)
    require(manifest.nonEmpty, s"no committed snapshot at $snapshotPath")
    spark.read.parquet(manifest.values.map(rel => s"$snapshotPath/$rel").toSeq: _*)
  }

  /** The state of `days` under `manifest` alone: only those days' entries
    * are resolved and listed, so the read is O(days), not O(snapshot) like
    * [[readSnapshot]]. `None` when none of the days is committed; each
    * caller decides what that means. The known schema spares a
    * footer-sampling job per read (and prunes to its columns).
    */
  private[graft] def readSnapshotDays(spark: org.apache.spark.sql.SparkSession,
                                      snapshotPath: String,
                                      manifest: Map[String, String], days: Seq[String],
                                      schema: org.apache.spark.sql.types.StructType)
      : Option[DataFrame] = {
    val paths = days.flatMap(manifest.get).map(rel => s"$snapshotPath/$rel")
    if (paths.isEmpty) None
    else Some(spark.read.schema(schema).parquet(paths: _*))
  }

  /** Manifest read via the default committer (spec/back-compat surface;
    * the protocol impl lives in [[AtomicRenameCommitter]]).
    */
  private[graft] def readManifest(snapshotPath: String): Map[String, String] =
    AtomicRenameCommitter.readManifest(snapshotPath)

  /** Staging GC — shared with the atomic partition upsert; see
    * [[SnapshotGc.gcUnreferenced]] for the retention contract.
    */
  private def gcUnreferenced(snapshotPath: String, liveRel: Set[String]): Unit =
    SnapshotGc.gcUnreferenced(snapshotPath, liveRel)

  /** A merge written under its own immutable batch dir but not yet
    * visible: `manifest` is the committed state it was merged against,
    * `schema` the schema of the rows it wrote, `readDays` the days it read
    * (batch days + their predecessors) — exactly the days whose snapshot
    * content could change, which downstream incremental maintenance
    * ([[StreamStar]]) uses as its rebuild scope.
    */
  private[graft] final case class StagedMerge(
      snapshotPath: String, manifest: Map[String, String],
      schema: org.apache.spark.sql.types.StructType,
      readDays: Seq[String], batchDirName: String, writtenDays: Set[String])

  /** The data half of a merge: read the committed state of the batch's
    * days and their predecessors, keep-latest it with the batch and write
    * the result under a fresh `batch-<uuid>` dir. Nothing is visible until
    * [[commitMerge]] flips the manifest, so staging alone is the crash
    * window a durable commit must tolerate (`FileStreamSpec` stops there),
    * and it can run beside writes to other tables. `batchDays` is
    * [[batchDays]] of the batch, non-empty.
    */
  private[graft] def stageMerge(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, snapshotPath: String,
      key: String, orderCol: String, batchDays: Seq[String],
      committer: SnapshotCommitter): StagedMerge = {
    require(batchDays.nonEmpty, "an empty batch has nothing to stage")
    val dayFmt = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
    val withDay = batch.withColumn("snap_day", date_format(col(orderCol), "yyyyMMdd"))
    val readDays = (batchDays ++ batchDays.map(d =>
      java.time.LocalDate.parse(d, dayFmt).minusDays(1).format(dayFmt)))
      .distinct.sorted

    val manifest = committer.readManifest(snapshotPath)
    // GC leftovers of a crashed predecessor (uncommitted batch dirs) and
    // day dirs superseded by the PREVIOUS merge, whose one-cycle reader
    // grace window ends here
    gcUnreferenced(snapshotPath,
      manifest.values.toSet ++ committer.retainedReferences(snapshotPath))

    // manifest-level pruning — the object-store equivalent of partition
    // pruning: only the touched days' committed paths are ever listed/read
    val existing = readSnapshotDays(spark, snapshotPath, manifest, readDays,
      withDay.schema).getOrElse(withDay.limit(0))
    val merged = graft.operators.Dedup.keepLatestAgg(
      existing.unionByName(withDay), Seq(key), Seq(col(orderCol)))

    // stage into an immutable, uniquely-named batch dir; `day_part` is a
    // COPY of snap_day because partitionBy strips its column from the data
    // files, and readers of individual day dirs still need the value
    val batchDirName = s"batch-${java.util.UUID.randomUUID().toString.take(8)}"
    val batchDir = s"$snapshotPath/$batchDirName"
    merged.withColumn("day_part", col("snap_day"))
      .write.mode("overwrite").partitionBy("day_part").parquet(batchDir)
    val writtenDays = TableFs.list(batchDir)
      .filter(f => f.isDirectory && f.getPath.getName.startsWith("day_part="))
      .map(_.getPath.getName.stripPrefix("day_part=")).toSet
    StagedMerge(snapshotPath, manifest, withDay.schema, readDays,
      batchDirName, writtenDays)
  }

  /** The visibility half of a merge: touched days re-point to the staged
    * batch dir (a read day whose rows were all superseded away simply
    * drops out), untouched days keep their existing entries; then release
    * superseded data. This merge stages no change log of its own, so a
    * carried `__cdf` (a snapshot table someone enabled the feed on) is
    * dropped like every non-logging commit does — see Upsert.dropCarriedCdf
    */
  private[graft] def commitMerge(staged: StagedMerge,
                                 committer: SnapshotCommitter): Unit = {
    import staged._
    val newManifest = graft.pipeline.Upsert.dropCarriedCdf(
      (manifest -- readDays)) ++
      writtenDays.map(d => d -> s"$batchDirName/day_part=$d")
    committer.commit(snapshotPath, newManifest)
    // release superseded data ONE CYCLE LATE: keep everything either
    // manifest references, so in-flight readers of the just-replaced
    // snapshot never lose files mid-scan (see gcUnreferenced)
    gcUnreferenced(snapshotPath, manifest.values.toSet ++
      newManifest.values ++ committer.retainedReferences(snapshotPath))
  }
}
