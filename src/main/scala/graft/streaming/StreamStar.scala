package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Dedup, Dims, Star}
import graft.pipeline.{JoinAll, Upsert}

/** The reference's scheduled refresh DAG (land → fact → dims → star,
  * reference README.md:688-692, 15-min/hourly cadence) as ONE continuous
  * streaming program: a `foreachBatch` sink that, per micro-batch,
  *
  *  1. collects the batch's day set ONCE — the scope of every step below;
  *  2. merges the batch into the keep-latest FACT snapshot, an ordinary
  *     manifest table partitioned by `snap_day`, split into staging (an
  *     immutable `batch-<uuid>` dir, invisible until its manifest flip)
  *     and commit ([[StreamDedup.stageMerge]] /
  *     [[Upsert.commitReplace]], O(touched days) I/O);
  *  3. maintains the DIMS through the same manifest protocol
  *     ([[Upsert.writeTableAtomic]]), so a crash mid-dim-write leaves the
  *     previous committed dim readable; dims land ON DISK before the star
  *     reads them, preserving the materialized-inputs plan shape that
  *     keeps the star's joins AQE-skew-splittable
  *     ([[graft.pipeline.Pipeline.starFromMaterialized]] scaladoc). With
  *     incremental dims the dim writes run concurrently with the fact's
  *     staging, and the fact flips only after every dim committed
  *     (`dims ‖ fact staging → fact flip → star replace`, see
  *     [[upsertStarBatch]] for why the fact must not flip first); in
  *     full-rebuild mode the dims are whole-table snapshots of the merged
  *     fact — the reference's own CTAS-per-cycle shape (every dim
  *     aggregate here is min/max/count: map-side-combining, one shuffle
  *     of O(distinct keys)) — written concurrently after the fact flip;
  *  4. rebuilds ONLY the touched days of the star — the day set the fact
  *     merge read (batch days + predecessors) is re-derived from just
  *     those days' partitions of the merged fact
  *     ([[Upsert.readTablePartitions]]) and atomically REPLACES those
  *     `date_key` partitions ([[Upsert.replacePartitionsAtomic]]): per
  *     batch the star work is O(touched days), not O(star), and a crash
  *     anywhere leaves the previous committed star in force.
  *
  * Late/duplicate tolerance comes from the fact merge (keep-latest with
  * previous-day read), and end-state equivalence with the batch pipeline
  * — `Pipeline.run`'s star over the same events — is pinned by
  * `StreamStarSpec`, including a checkpoint-restart replay. Exactly-once
  * visibility: a replayed micro-batch (restart after a crash between any
  * two commits) re-runs the tick idempotently — dims skip by their
  * batch-id ledger, merge ties go to the delta and the star replace is a
  * pure function of the merged fact, so re-execution converges
  * (`IncrementalDimsSpec` injects a failure into a dim's and into the
  * fact's commit and replays).
  *
  * At 100 TB: the fact merge and the star scale with the delta;
  * incremental dims scale with dim + batch, full-rebuild dims with
  * distinct dim keys (users) — the one O(corpus) aggregate, the same cost
  * the reference pays per cycle.
  */
object StreamStar {

  /** Canonical layout under one root. */
  case class StarPaths(root: String) {
    val factSnap: String = s"$root/fact_snap"
    val dimUser: String = s"$root/dim_user"
    val dimEventType: String = s"$root/dim_event_type"
    val dimDate: String = s"$root/dim_date"
    val star: String = s"$root/fact_events_star"
  }

  /** One micro-batch of the continuous refresh. Idempotent under
    * micro-batch replay.
    *
    * `incrementalDims = false` (default): dims are FULLY REBUILT from the
    * merged fact each batch — always correct, O(fact) per cycle, the
    * reference's own CTAS cadence. The fact merge commits first, then the
    * three dim rebuilds run concurrently, then the star replace; a replay
    * recomputes every dim from the same merged fact.
    *
    * `incrementalDims = true`: dims absorb only the batch's genuinely-new
    * rows via the mergeable forms ([[Dims.mergeDimUser]] family) —
    * O(dim + batch) per cycle, independent of fact size, which is what
    * survives a 100 TB fact at a 15-minute cadence. The tick runs
    *
    *   dims ‖ fact staging → fact manifest flip → star replace:
    *
    * the stale dims' writes (each committing its own manifest) and the
    * fact merge's staging write (a fresh `batch-<uuid>` dir, invisible
    * until its flip) run at the same time ([[JoinAll]]); the fact flips
    * only after every dim branch has committed and every branch has
    * finished. The fact must never flip first: the dims' genuinely-new
    * rows are the batch anti-joined against the PRE-merge fact, so a
    * replay after an early fact flip would find the batch already in the
    * fact and under-count every dim that had not committed yet.
    * Exactly-once under replay comes from a per-table batch-id LEDGER
    * riding each dim's atomic manifest commit ([[Upsert.writeTableAtomic]]
    * `meta`): a replayed batch id skips exactly the dim tables that
    * already committed it, and re-stages the fact against the same
    * pre-merge state — a crash between any two commits resumes without
    * double-counting. Requires `batchId` (foreachBatch provides it); the
    * first batch seeds dims by full rebuild.
    *
    * The batch's day set is collected once and drives the dims' pre-merge
    * fact read, the fact merge and the star's replace set.
    */
  def upsertStarBatch(spark: SparkSession, batch: DataFrame,
                      root: String,
                      committer: SnapshotCommitter = AtomicRenameCommitter,
                      batchId: Option[Long] = None,
                      incrementalDims: Boolean = false): Unit = {
    val p = StarPaths(root)
    // ALL THREE dims must be committed before the incremental path engages:
    // a crash mid-SEED (some dims committed, some not) must replay down the
    // full-rebuild path, which overwrites the partial seed correctly —
    // absorb-into-a-missing-dim would fail instead
    val dimsExist = Seq(p.dimUser, p.dimEventType, p.dimDate)
      .forall(committer.readManifest(_).nonEmpty)
    val incremental = incrementalDims && dimsExist
    if (incrementalDims)
      require(batchId.isDefined,
        "incrementalDims needs a batchId for the exactly-once ledger")

    val days = StreamDedup.batchDays(batch, "ts")
    if (days.isEmpty) return // empty micro-batch: nothing to commit
    val stageFact = () => StreamDedup.stageMerge(spark, batch, p.factSnap,
      "event_id", "ts", days, committer)

    val staged =
      if (incremental)
        absorbBatchIntoDims(spark, batch, days, p, batchId.get, committer, stageFact)
      else stageFact()
    // incremental: every dim has committed by now (see above for why the
    // fact must not flip first)
    Upsert.commitReplace(staged, committer)
    if (!incremental) {
      // full rebuild (or first-batch seed): whole-rebuild dim snapshots of
      // the merged fact through the SAME manifest protocol as the fact and
      // star — a crash mid-dim-write leaves the previous committed dim in
      // force (plain SaveMode.Overwrite is delete-then-write: a crash in
      // that window leaves NO readable dim), so every table in the DAG
      // carries the commit guarantee
      val fact = Upsert.readTable(spark, p.factSnap, committer)
      val meta = batchId.map(id => Map("batch" -> id.toString)).getOrElse(Map.empty)
      JoinAll(spark)(Seq(
        () => Upsert.writeTableAtomic(spark, Dims.dimUser(fact), p.dimUser, committer, meta),
        () => Upsert.writeTableAtomic(spark, Dims.dimEventType(fact), p.dimEventType,
          committer, meta),
        () => Upsert.writeTableAtomic(spark, Dims.dimDate(fact), p.dimDate, committer, meta)))
    }

    // star delta: the touched days of the MERGED fact — only their
    // manifest entries are resolved, so the read is O(touched days) —
    // joined through the on-disk dims, then an atomic replace of exactly
    // those partitions. `readDays` (not just days with surviving rows) is
    // the replace set, so a day whose rows all moved forward is dropped,
    // not left stale.
    val readDays = staged.parts
    val factManifest = committer.readManifest(p.factSnap)
    if (!readDays.exists(factManifest.contains)) throw new IllegalStateException(
      s"no committed day of ${readDays.mkString(",")} at ${p.factSnap}")
    val factTouched = Upsert.readTablePartitions(spark, p.factSnap, readDays,
      factManifest).drop("snap_day")
    val starDelta = Star.factStar(
      factTouched,
      Upsert.readTable(spark, p.dimUser, committer),
      Upsert.readTable(spark, p.dimEventType, committer),
      Upsert.readTable(spark, p.dimDate, committer))
    Upsert.replacePartitionsAtomic(spark, starDelta, p.star, "date_key",
      readDays, committer)
  }

  /** Incremental dim maintenance for one micro-batch, concurrent with the
    * fact merge's staging (`stageFact`) and BEFORE its commit: extract the
    * batch's genuinely-new rows once (in-batch keep-latest, then anti-join
    * against the PRE-merge committed fact restricted to the batch's home
    * `days` — an event's home day is `day(ts)`, so that scope is exact),
    * persisted for the dims that read it, and absorb them into each stale
    * dim via its mergeable form. Each dim commits the batch id in its own
    * manifest ledger; a replayed id skips exactly the tables that already
    * applied it. Returns the staged fact merge only once every branch has
    * finished; a failing branch is rethrown after the others finished, so
    * the caller never flips the fact over a dim that did not commit.
    */
  private def absorbBatchIntoDims(spark: SparkSession, batch: DataFrame,
                                  days: Seq[String], p: StarPaths, batchId: Long,
                                  committer: SnapshotCommitter,
                                  stageFact: () => Upsert.StagedReplace)
      : Upsert.StagedReplace = {
    // the fact is committed: it flips before the seed's dims are written,
    // and this path runs only once every dim exists
    val oldIds = Upsert.readTablePartitions(spark, p.factSnap, days, committer)
      .select("event_id")
    val newEvents = Dedup.keepLatestAgg(batch, Seq("event_id"), Seq(col("ts")))
      .join(oldIds, Seq("event_id"), "left_anti")
      .persist()

    val ledger = Map("batch" -> batchId.toString)
    def absorb(path: String, merge: (DataFrame, DataFrame) => DataFrame): Option[() => Unit] =
      if (Upsert.tableMeta(path, committer).get("batch").contains(batchId.toString)) None
      else Some(() => Upsert.writeTableAtomic(spark,
        merge(Upsert.readTable(spark, path, committer), newEvents), path, committer, ledger))
    val dimWrites = Seq(
      absorb(p.dimUser, Dims.mergeDimUser),
      absorb(p.dimEventType, Dims.mergeDimEventType),
      absorb(p.dimDate, Dims.mergeDimDate)).flatten
    val branches: Seq[() => Option[Upsert.StagedReplace]] =
      (() => Some(stageFact())) +: dimWrites.map(w => () => { w(); None })
    try JoinAll(spark)(branches).head.get
    finally newEvents.unpersist()
  }

  /** Wire an events stream into the continuous star refresh. The default
    * `AvailableNow` trigger drains what has landed and stops — the
    * cron-window analog; pass `ProcessingTime` for a resident refresher.
    */
  def maintainStar(spark: SparkSession, events: DataFrame, root: String,
                   checkpoint: String,
                   trigger: Trigger = Trigger.AvailableNow(),
                   incrementalDims: Boolean = false): StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        upsertStarBatch(spark, batch, root, batchId = Some(id),
          incrementalDims = incrementalDims)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
}
