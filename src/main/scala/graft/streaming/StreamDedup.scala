package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.pipeline.Upsert

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
  *
  * The foreachBatch MERGE ([[mergeBatchIntoSnapshot]]) keeps its snapshot
  * as an ordinary [[graft.pipeline.Upsert]] manifest table: this object
  * owns only the merge's semantics (which days a batch can change, and
  * keep-latest per key), no storage layout, commit or read code.
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
    * day-partitioned snapshot by key — existing rows are replaced by newer
    * versions, keep-latest per key. This is the upsert shape for sinks
    * without native MERGE; on a table format with MERGE INTO the same
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
    * The snapshot is an ordinary [[graft.pipeline.Upsert]] manifest table
    * partitioned by `snap_day` (`yyyyMMdd` of `orderCol`): [[stageMerge]]
    * stages the merged days, [[graft.pipeline.Upsert.commitReplace]] flips
    * the manifest. Commit protocol, crash guarantees, schema metadata,
    * per-day row counts, time travel and the readers
    * ([[graft.pipeline.Upsert.readTable]],
    * [[graft.pipeline.Upsert.readTablePartitions]]) are the ones every
    * manifest table has. A crash between the two halves leaves the old
    * manifest — and therefore exactly the old committed state — in force:
    * no day is ever lost or doubled (`FileStreamSpec` stops a merge there
    * and proves both). Single writer assumed with the default committer
    * (one foreachBatch sink); pass a [[CasCommitter]] to turn a concurrent
    * writer's interleaved commit into a retryable
    * [[ConcurrentCommitException]] instead. Returns the days read, which
    * are the days whose snapshot content could change.
    */
  def mergeBatchIntoSnapshot(spark: org.apache.spark.sql.SparkSession,
                             batch: DataFrame, snapshotPath: String,
                             key: String, orderCol: String,
                             committer: SnapshotCommitter = AtomicRenameCommitter): Seq[String] = {
    val days = batchDays(batch, orderCol)
    if (days.isEmpty) return Seq.empty // empty micro-batch: nothing to commit
    val staged = stageMerge(spark, batch, snapshotPath, key, orderCol, days, committer)
    Upsert.commitReplace(staged, committer)
    staged.parts
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

  /** The data half of a merge: keep-latest the batch into the committed
    * state of its days and their predecessors, and stage the result as a
    * replace of exactly those days. Nothing is visible until
    * [[graft.pipeline.Upsert.commitReplace]], so staging alone is the
    * crash window a durable commit must tolerate (`FileStreamSpec` stops
    * there), and it can run beside writes to other tables. The staged
    * `parts` are the days read (batch days + their predecessors) — exactly
    * the days whose snapshot content could change, which downstream
    * incremental maintenance ([[StreamStar]]) uses as its rebuild scope.
    * `batchDays` is [[batchDays]] of the batch, non-empty.
    */
  private[graft] def stageMerge(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, snapshotPath: String,
      key: String, orderCol: String, batchDays: Seq[String],
      committer: SnapshotCommitter): Upsert.StagedReplace = {
    require(batchDays.nonEmpty, "an empty batch has nothing to stage")
    val dayFmt = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
    val withDay = batch.withColumn("snap_day", date_format(col(orderCol), "yyyyMMdd"))
    val readDays = (batchDays ++ batchDays.map(d =>
      java.time.LocalDate.parse(d, dayFmt).minusDays(1).format(dayFmt)))
      .distinct.sorted
    // the read and the commit share one manifest read: a second read would
    // reset a CAS committer's observation
    val manifest = committer.readManifest(snapshotPath)
    val existing =
      if (Upsert.dataEntries(manifest).isEmpty) withDay.limit(0)
      else Upsert.readTablePartitions(spark, snapshotPath, readDays, manifest)
    val merged = Dedup.keepLatestAgg(
      existing.unionByName(withDay, allowMissingColumns = true),
      Seq(key), Seq(col(orderCol)))
    Upsert.stageReplace(spark, merged, snapshotPath, "snap_day", readDays,
      committer, manifestRead = Some(manifest))
  }
}
