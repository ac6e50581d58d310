package graft.pipeline

import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.{Dedup, DedupApprox, Par, TextOps}
import graft.sources.Tables

/** End-to-end training-data curation pipeline (BASELINE.json north star):
  * documents → exact dedup → near-dup pruning → quality filter → language
  * tag + token stats → curated corpus + corpus summary.
  *
  * Every stage is a key-partitioned DataFrame transformation:
  *  - exact dedup: hash group-by on the content sha256 (uniform shuffle key);
  *  - near-dup pruning: prefix-filtered exact Jaccard join (candidates via
  *    rare-shingle inverted index, never all-pairs), then greedy survivor
  *    selection — a doc is dropped iff it appears as the higher id of a
  *    surviving pair (left_anti join, no driver-side state);
  *  - quality/language/token columns: narrow codegen'd projections.
  */
object Curation {

  case class CurationResult(stage: String, docs: Long)

  /** What [[curate]] returns: the `curated` frame, the checkpointed
    * `exact` survivors (MEMORY_AND_DISK blocks the caller may reuse — the
    * incremental-admission corpus reads them instead of recomputing the
    * dedup chain — and releases with [[Par.release]] once its sink has
    * run), and the stage [[funnel]].
    */
  final class Curated private[Curation] (val curated: DataFrame,
                                         val exact: DataFrame,
                                         observations: Seq[Observation]) {

    /** `input / exact_dedup / near_dedup / quality_filter` document
      * counts ([[curate]] says which job fills each). Read before an action
      * on `curated` has finished, this throws `IllegalStateException`
      * rather than wait on a query that may never run.
      */
    def funnel: Seq[CurationResult] = {
      val counts = observations
        .flatMap(ListenerBus.observed(curated.sparkSession.sparkContext, _)).toMap
      Seq("input", "exact_dedup", "near_dedup", "quality_filter")
        .map(stage => CurationResult(stage, counts(stage).asInstanceOf[Long]))
    }
  }

  /** Curate `documents` (`doc_id`, `text`): exact dedup (min id per
    * content) → near-dup pruning (a doc drops iff it is the higher id of a
    * pair at `jaccardThreshold`) → quality gate at `minQuality` →
    * language and token enrichment.
    *
    * One lineage, no extra jobs for the funnel: its counts come from
    * `Dataset.observe` on the stages themselves. `input` and `exact_dedup`
    * (`sum(dup_count)` and `count(*)` over the content aggregate) are
    * filled by the eager exact checkpoint before this returns; `near_dedup`
    * and `quality_filter` (row counts of the anti-join and of the gate)
    * by the first action on the curated frame. Each call observes through
    * its own unnamed `Observation`s, so curations sharing a plan or a
    * session never collide on a metric name.
    */
  def curate(documents: DataFrame, jaccardThreshold: Double = 0.8,
             minQuality: Double = 0.3): Curated = {
    val exactObs, nearObs, gateObs = Observation()
    // parallelism floor for the per-row-heavy stages (sha256 hashing,
    // shingling, tokenization): a single-file input otherwise pins them
    // all to one task (guide §2.5); a no-op on multi-file production input
    val docs = Par.fanOutScan(documents)

    // 1. exact content dedup, materialized ONCE (eager, like
    // admitBatchWith's batchExact): the near-dup join below fans this
    // subtree into five consumers (freq aggregate, both prefix self-join
    // sides, both refine sides) plus the anti-join left side — left lazy,
    // AQE runs the independent stages concurrently and each re-executes
    // the scan+hash+semi-join subtree (the round-21 profile showed the
    // fan-out exchange computed twice and ~3 s of duplicated single-task
    // hash stages inside curation_disk). MEMORY_AND_DISK blocks,
    // intra-query only; released by the caller or the ContextCleaner once
    // the frame is dropped. At 100 TB this is the one full-corpus
    // materialization the pipeline keeps (the guide §5 trade: not
    // fault-tolerant — a lost executor re-runs the query; the committed
    // CuratedStore is the durable form).
    val exact = Dedup.exactSurvivors(docs, _.observe(exactObs,
      sum(col("dup_count")).as("input"), count(lit(1)).as("exact_dedup")))
      .localCheckpoint(true)

    // 2. near-dup pruning: drop the higher doc_id of every pair
    val dupHigh = DedupApprox.jaccardJoin(exact, jaccardThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
    val nearDeduped = exact.join(dupHigh, Seq("doc_id"), "left_anti")
      .observe(nearObs, count(lit(1)).as("near_dedup"))

    // 3. quality filter + enrichment (language, token counts) — DIRECT
    // column expressions on the near-deduped frame (see gateAndEnrich)
    val curated = gateAndEnrich(nearDeduped, minQuality)
      .observe(gateObs, count(lit(1)).as("quality_filter"))
    new Curated(curated, exact, Seq(exactObs, nearObs, gateObs))
  }

  /** The quality gate + enrichment tail shared by [[curate]] and
    * [[admitBatchWith]]: one narrow projection computing the
    * [[TextOps.textQuality]] score (same expressions — the gate is
    * bit-identical to filtering on the joined score), the gate, and the
    * language/token-count columns. No join, no shuffle — codegen
    * subexpression elimination shares the tokenization across the three
    * derived columns.
    */
  private def gateAndEnrich(docs: DataFrame, minQuality: Double): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val nTok = size(toks).cast("long")
    val nStop = TextFns.stopwordCount(toks, Seq("the", "a")).cast("long")
    val nDist = size(array_distinct(toks)).cast("long")
    docs
      .withColumn("quality_score",
        graft.functions.FxMath.ratio(nDist * (nTok - nStop), nTok * nTok, 4))
      .filter(col("quality_score") >= minQuality)
      .withColumn("predicted_lang", TextFns.langId(toks))
      .withColumn("n_tokens", nTok)
  }

  /** Incremental admission — the production shape of [[curate]]
    * for a corpus that grows over time: a new batch is curated AGAINST
    * the committed corpus without recomputing it. Requires ids ordered
    * across batches (every seed doc_id < every batch doc_id — the
    * natural monotone-id ingest); then the drop-the-higher-id
    * rule makes prior curation immune to later batches, so
    * `seed curation ∪ admitted batches ≡ whole-corpus curation` exactly.
    *
    * Per-batch cost is O(batch + candidates), never O(corpus):
    *  - exact dedup: within-batch hash group-by, then the Bloom-routed
    *    verification join against the seed's exact survivors
    *    ([[Dedup.bloomNewContent]] — the sketch routes, the 256-bit
    *    anti-join decides);
    *  - near-dup: [[graft.operators.DedupIndex.probeDelta]] against the
    *    persisted prefix index of the seed's EXACT survivors (the greedy
    *    pair universe — near-dup-dropped and quality-dropped seed docs
    *    still suppress batch twins, exactly like the batch form). The
    *    probe's candidate generator is the SAME exact prefix-filter
    *    scheme as the batch path's `jaccardJoin` (under the index's
    *    frozen shingle order), so the batch-recompute equivalence is
    *    deterministic, not LSH-recall-probabilistic; the index read is
    *    shingle-bucket partition-pruned, batch↔batch pairs come from the
    *    same probe;
    *  - quality/language/token enrichment: the identical narrow
    *    projections.
    * The caller extends the index with the batch's exact survivors
    * ([[graft.operators.DedupIndex.appendToIndex]]) so the NEXT batch
    * sees this one as corpus.
    */
  def admitBatch(spark: SparkSession, seedExact: DataFrame,
                 indexPath: String, batch: DataFrame,
                 jaccardThreshold: Double = 0.8,
                 minQuality: Double = 0.3): (DataFrame, DataFrame) =
    admitBatchWith(
      kept => Dedup.bloomNewContent(seedExact, kept, "text"),
      ex => graft.operators.DedupIndex
        .probeDelta(spark, indexPath, ex, jaccardThreshold),
      batch, minQuality)

  /** The admission pipeline with its two corpus-facing stages injected —
    * the seam [[graft.streaming.CuratedStore]] uses to swap the full
    * exact-table Bloom build for its persisted bloom + bucketed hash
    * index, and the plain-dir index probe for the manifest-resolved
    * fragment view, WITHOUT forking the admission semantics (within-batch
    * min-id exact dedup → `newContent` vs the corpus → drop the higher id
    * of every `probe` pair → quality gate + enrichment).
    *
    * `newContent(kept)` must return the subset of `kept` whose content is
    * absent from the committed corpus; `probe(batchExact)` the near-dup
    * pairs `(doc_a < doc_b)` with at least one side in `batchExact`.
    */
  def admitBatchWith(newContent: DataFrame => DataFrame,
                     probe: DataFrame => DataFrame,
                     batch: DataFrame,
                     minQuality: Double = 0.3): (DataFrame, DataFrame) = {
    // 1. exact dedup: min-id within the batch, then content new vs corpus.
    //    Fanned out before the checkpoint (guide §2.5): a single-file batch
    //    otherwise pins the checkpoint's blocks — and every downstream
    //    tokenization/shingling pass over them — to one or two tasks; a
    //    no-op when the batch already scans wide.
    val batchWide = Par.fanOutScan(batch)
    val batchExact = newContent(Dedup.exactSurvivors(batchWide))
      .localCheckpoint(true) // consumed by the probe, the anti-join, and the caller's index append
    // 2. near-dup: a batch doc drops iff it is the HIGHER id of any
    //    exact-survivor pair — seed ids are all lower, batch↔batch pairs
    //    canonicalize doc_a < doc_b, so the drop set is just doc_b
    val dupHigh = probe(batchExact)
      .select(col("doc_b").as("doc_id")).distinct()
    val nearDeduped = batchExact.join(dupHigh, Seq("doc_id"), "left_anti")
    // 3. the same quality gate + enrichment as the batch form (shared
    //    expressions — no quality self-join, see gateAndEnrich)
    (gateAndEnrich(nearDeduped, minQuality), batchExact)
  }

  /** Curated corpus → model-ready tensors: vocabulary-encode every token
    * position and assign concat-and-chunk packs — the full
    * curate → encode → pack tail of a training-data pipeline in one
    * composition. Returns (token stream, pack assignments): the token
    * stream is `(doc_id, pos, token_id)` and joins to its pack via
    * `doc_id` (both sides carry deterministic keys, so the join is
    * reproducible anywhere).
    */
  def prepareTrainingData(curated: DataFrame, vocabSize: Int = 32768,
                          ctxTokens: Long = 2048,
                          shards: Int = 32): (DataFrame, DataFrame) =
    (TextOps.tokenIds(curated, vocabSize),
      TextOps.packDocuments(curated, ctxTokens, shards))

  /** Corpus-level rollup of the curated output. */
  def summary(curated: DataFrame): DataFrame =
    curated.groupBy(col("predicted_lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(avg(col("quality_score")), 4).as("avg_quality"))

  def run(spark: SparkSession, srcDir: String, outDir: String): Seq[CurationResult] = {
    val c = curate(Tables.documents(spark, srcDir))
    c.curated.write.mode(SaveMode.Overwrite).parquet(s"$outDir/curated_documents")
    // the write was the last consumer of the exact checkpoint: release its
    // blocks, nothing else the session may cache
    Par.release(c.exact)
    summary(spark.read.parquet(s"$outDir/curated_documents"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/corpus_summary")
    c.funnel
  }
}
