package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keep-latest-per-key deduplication (operator W1 in SURVEY.md §2.5).
  *
  * The reference repairs the duplicates produced by its overlapping
  * 20-minute-lookback / 10-minute-cadence replication with
  * `ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY created_at DESC)`
  * + `QUALIFY rn = 1` (reference sql/bq_fact_vitals.sql:14-17). Spark has no
  * QUALIFY; the idiomatic rewrite is filter-over-window, which Catalyst plans
  * as a single hash-partitioned sort — one shuffle on the dedup key.
  *
  * Scale notes:
  *  - The shuffle partitions by `keys`, so 100 TB dedups scale linearly with
  *    executors; no driver-side state.
  *  - Tiebreakers must make the survivor deterministic (SURVEY.md §7 risks):
  *    callers append a unique column (e.g. the key itself) to `order`.
  *  - AQE handles skewed keys (a hot event_id) by splitting oversized
  *    partitions; dedup keys here are near-unique so skew is not expected.
  */
object Dedup {

  /** Generic QUALIFY-rewrite: keep the first row per `keys` under `order`. */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Keep-latest via hash aggregation instead of a window sort:
    * `max_by(struct(all columns), struct(order columns))` needs no per-group
    * sort and gets map-side partial aggregation — duplicates combine before
    * the shuffle, so the exchange carries ~one row per key. At 10M rows this
    * ran ~3× faster than the window form; at 100 TB the shuffle-volume win
    * (bounded by distinct keys, not input rows) matters more. `order` must
    * be a total order per key for a deterministic survivor.
    */
  def keepLatestAgg(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, struct(order: _*)).as("__row"))
      .select("__row.*")
  }

  /** W1 instance: latest event per event_id (ts asc under max_by ≡ ts desc
    * rank-1; event_id is unique so ties cannot occur across groups).
    */
  def latestEvents(events: DataFrame): DataFrame =
    keepLatestAgg(events, Seq("event_id"), Seq(col("ts"), col("value")))

  /** Exact content dedup: group by a content hash, keep the minimum id —
    * the batch form used for document-level exact dedup at scale (hash
    * group-by shuffles on the 256-bit digest: uniform, skew-free).
    */
  def exactByContent(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(col(contentCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** The exact survivors of a `(doc_id, text, …)` frame: the rows whose
    * `doc_id` is the minimum id of their content group,
    * `docs ⋉ exactByContent(docs).keep_id`. `observed` wraps the
    * per-content aggregate before the semi-join — the one place where
    * each input row and each survivor is counted exactly once
    * ([[graft.pipeline.Curation.curate]] hangs its funnel there).
    */
  def exactSurvivors(docs: DataFrame,
                     observed: DataFrame => DataFrame = identity): DataFrame =
    docs.join(observed(exactByContent(docs, "text", "doc_id"))
      .select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")

  /** Incremental EXACT dedup with a Bloom prefilter — the scalable form of
    * "is this document already in the corpus": a Bloom filter over the
    * corpus content hashes (built once per cycle, ~1.2 GB for 10⁹ docs at
    * 1% fpp — broadcastable) splits the arriving batch WITHOUT touching
    * the corpus: no-false-negatives means a bloom-miss is DEFINITELY new
    * and skips verification entirely; only the bloom-hits (true dups +
    * fpp·batch false positives) go through the exact anti-join. The
    * verification join's left side shrinks from |batch| to ~|dups|, which
    * at production dup rates (a few %) removes ~all of the join's probe
    * volume; the result is EXACT regardless of fpp (`DedupSpec` forces a
    * saturated bloom and the output doesn't change). Returns the batch
    * rows whose content is NOT present in the corpus.
    *
    * The membership probe is Spark's own runtime-filter expression
    * `BloomFilterMightContain` (the engine used to carry its one Scala
    * UDF here): the driver-built sketch is serialized and bound as a
    * foldable BINARY literal — exactly the shape Spark's
    * InjectRuntimeFilter produces from a scalar subquery — so the probe
    * is codegen'd, deserializes the filter once per task via a plan
    * reference object, and ships with the (torrent-broadcast) task
    * binary rather than a separate broadcast variable. Zero UDFs remain
    * in the engine's row path.
    */
  def bloomNewContent(corpus: DataFrame, batch: DataFrame,
                      contentCol: String, fpp: Double = 0.01): DataFrame = {
    // the bloom keys on the codegen'd 64-bit content hash (Spark 4's
    // sketch builder is long-keyed); a 64-bit collision is just one more
    // false positive for the verification join, which compares the full
    // 256-bit hash — exactness never rests on the sketch.
    // Materialized ONCE (localCheckpoint): the count job, the sketch
    // build, and the verification join all read it — unmaterialized, each
    // would re-scan and re-hash the whole corpus
    val hashes = corpus.select(sha2(col(contentCol), 256).as("h"),
      xxhash64(col(contentCol)).as("xh")).localCheckpoint(true)
    // expectedNumItems: corpus row count (cheap on the checkpointed
    // hashes; a real deployment carries this in table stats)
    val n = math.max(1L, hashes.count())
    val bloom = hashes.stat.bloomFilter("xh", n, fpp)
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    def might(value: Column): Column = bloomMightContain(bloomBytes, value)
    val withH = batch
      .withColumn("__h", sha2(col(contentCol), 256))
      // null content: xxhash64(null) is null, might_contain yields null,
      // and a null __maybe would fail BOTH branch filters — the row would
      // silently vanish. Null content is definitionally "not present in
      // the corpus" here (SQL equality never matches null), so route it
      // to the definitely-new branch
      .withColumn("__maybe",
        coalesce(might(xxhash64(col(contentCol))), lit(false)))
    val definitelyNew = withH.filter(!col("__maybe"))
    val verifiedNew = withH.filter(col("__maybe"))
      .join(hashes.select(col("h").as("__h")).distinct(), Seq("__h"), "left_anti")
    // unionByName: the using-column join moved __h to the front of
    // verifiedNew, so a positional union would misalign the schemas
    definitelyNew.unionByName(verifiedNew).drop("__h", "__maybe")
  }

  /** `might_contain(bloomBytes, value)` as a codegen'd Catalyst
    * expression — the sketch-routing predicate shared by
    * [[bloomNewContent]] and [[graft.streaming.CuratedStore]]'s persisted
    * bloom sidecar. */
  private[graft] def bloomMightContain(bloomBytes: Array[Byte],
                                       value: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(
      BloomFilterMightContain(
        Literal(bloomBytes, org.apache.spark.sql.types.BinaryType),
        ColumnBridge.expression(value)))
  }
}
