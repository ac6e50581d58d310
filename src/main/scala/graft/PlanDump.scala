package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.LinkedBlockingQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan dumper: `explain("formatted")` of named `SparkEntry` queries, for
  * human reading. Runs under the bench's session ([[Session]] at
  * `SPARK_GRAFT_CPUS`, data from `SPARK_GRAFT_SF_DIR`, default sf0.1).
  * Each query is materialized through the noop SINK — the bench's own
  * action — and that write's QueryExecution is dumped, so adaptive plans
  * are FINAL (isFinalPlan=true): which joins AQE chose to broadcast at
  * runtime (the TPC-H joins carry no hints since the round-5 sweep — the
  * planner/AQE picks the build side from measured sizes), AQEShuffleRead
  * coalescing, and runtime skew splits.
  *
  * Usage: `runMain graft.PlanDump [q1,q2,... [out.md]]`. With no arguments
  * it writes PLANS.md from the headline list plus the skew probe; with a
  * query list it writes those queries to `out.md` (default PLANS.md).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = Session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val headline = Seq(
      "q1_pricing", "q6_forecast", "q2_min_balance", "q3_top_orders",
      "q5_region_revenue", "q10_returns", "q17_small_qty", "q19_brand_revenue",
      "q22_wealthy_inactive",
      "fact_dedup", "fact_star", "star_daily_user", "mon_7d_summary",
      "mon_daily_summary", "mon_errors", "sim_join_jaccard", "dedup_minhash",
      "dedup_exact", "dedup_embedding_lsh", "ann_cosine_topk", "ann_ivf_topk",
      "ann_ivfpq_topk", "retrieval_bm25",
      "q_asof_join", "tok_top_bigrams", "quality_deciles", "tok_idf",
      "doc_pack_chunks", "q_range_join", "doc_token_ids", "doc_chunks",
      "q4_priority_count", "q7_nation_volume", "q8_mkt_share", "q14_promo",
      "q21_waiting_suppliers", "q9_nation_profit", "q11_important_parts",
      "q16_supplier_cnt", "q20_excess_stock",
      "doc_repetition", "doc_contamination",
      "q_window_topk", "mm_real_media", "chunk_dedup", "pii_redact",
      "scd2_dim_user", "doc_span_dedup", "domain_token_budget",
      "doc_rare_bigrams", "emb_quantize",
      "dedup_clusters", "q_pivot", "q_unpivot", "q_full_outer",
      "tok_collocations", "q_window_analytics", "q_group_median",
      "semantic_dedup", "semantic_dedup_spill", "mon_results_runlog",
      "mon_daily_summary_runlog",
      "pipeline_star_disk", "skew_salted_rollup", "skew_salted_join",
      "mm_pixel_stats", "q_zorder_scan", "q_funnel", "q_retention",
      "view_sql_daily_type", "partition_introspection",
      // replayable sketches (round 12): partial/final TypedImperative
      // aggregation shape — the KMV/sample state merges map-side like any
      // hash aggregate (streaming drains are excluded: their returned
      // plan is just the sink read-back)
      "q_approx_distinct", "q_approx_distinct_est", "q_approx_quantiles",
      "corpus_token_quantiles_sample",
      // round 12: graph ranking + sparse-cosine / blocked-ER joins +
      // explicit grouping sets (the table_* time-travel queries are
      // excluded: their returned plan is just the committed-table
      // read-back, the build being imperative upserts)
      "graph_pagerank", "sim_join_cosine", "er_blocked_match",
      "q_grouping_sets", "graph_triangles", "dedup_incremental",
      "recs_copurchase", "recs_lift", "markov_transitions",
      "dedup_exact_incremental", "sketch_merge_7d",
      // round 13: profiling/densification family + PCA projection and the
      // PCA-bottleneck ANN (reduced candidates, exact re-rank)
      "profile_columns", "quality_outliers", "q_gapfill_daily",
      "q_locf_daily", "emb_pca_project", "ann_pca_topk",
      // round 14: IVF composed with the PCA bottleneck, and the bucketed
      // star read back from disk (the table_compacted /
      // table_schema_evolution / stream_stream_join returns are
      // sink/committed-table read-backs — their work is imperative or
      // streaming, so their plans say nothing)
      "ann_ivf_pca_topk", "star_bucketed_disk",
      // the declarative manifest read: the scan plans over the custom
      // FileIndex with the range predicate pushed — the plan itself is
      // the evidence that pruning happens inside scan planning
      "table_zone_pruned_auto",
      // round 15: the bloom consult in scan planning (the = lookup lists
      // only the admitting buckets), the MV rewrite (the plan's scan IS
      // the rollup, not events — the rewrite's whole claim), and the
      // unblocked edit-distance join (prefix-token inverted-index
      // self-join + verify; the table_* / mv_incremental returns are
      // committed-table read-backs and say nothing)
      "table_bloom_pruned_auto", "q_mv_rewrite", "er_editdist_join",
      // round 15b: the distributed block prefix sum (per-block windows +
      // broadcast offsets — NO single-partition WindowExec), the native
      // session_window aggregate (one shuffle, no analytic-window pair),
      // and the incremental IVF probe (partition-pruned postings scan
      // over the seeded+admitted index)
      "doc_pack_global", "q_session_window", "ann_ivf_incremental",
      // round 16: the stats-driven join reorder (the selective users dim
      // joins FIRST — the plan shape IS the rule's claim; both dims
      // broadcast, so only the reorder distinguishes the orders), the
      // reduced-space IVF-PQ probe (partition-pruned postings of 4-byte
      // codes + LUT ADC + exact re-rank), and the per-file-stats
      // checkpointed week read (file pruning through the __fstats
      // sidecar inside one surviving partition)
      "q_cbo_reorder", "ann_ivfpq_pca_topk", "table_file_pruned",
      // round 17: the manifest-diff-pruned CDC (the diff's scans list
      // ONLY the changed partition's dirs in both as-of states), the
      // write-time change-log read (a single parquet scan of the staged
      // log — no join anywhere in the plan), and the grown BM25 index
      // probe (partition-pruned postings + partial-df sum)
      "table_changes", "table_changes_logged", "retrieval_bm25_incremental",
      // round 17b: the bigram-LM scorer (one corpus pass builds the pair
      // table, context counts re-aggregate THAT — two unhinted model
      // joins + one broadcast vocab aggregate feed the per-doc rollup),
      // label-filtered hard-negative mining (the predicate fused into
      // the broadcast scoring scan), and the read-side SQL surface (the
      // plan is the manifest-table read under the pinned version — the
      // rewrite leaves no trace, which is the point)
      "doc_lm_perplexity", "emb_hard_negatives", "table_select_sql",
      // round 18: the bucketed-edge PageRank round (NO exchange keyed by
      // src above the committed edge scan — only the rank-frame and
      // aggregate exchanges keyed by node), the margin-adaptive
      // semantic-dedup (sample-cut filter over the ranked-assignment
      // window feeding the same pair/closure tail), and the end-to-end
      // curation pipeline's survivor plan (prefix-filtered candidate join
      // → left_anti drop → narrow enrichment)
      "graph_pagerank_bucketed", "semantic_dedup_adaptive", "curation_disk",
      // round 19: the catalog SQL front door (the CATALOG() relation
      // plans as the pinned-version manifest-table read — name
      // resolution leaves no trace) and the warm×bucketed rank twin
      // (warm rounds over the committed exchange-free edge scan; the
      // dumped plan is the returned frame — per-round join plans are
      // asserted in GraphSpec)
      "table_txn_catalog_sql", "graph_pagerank_warm_bucketed",
      // the RRF hybrid: two k-bounded retriever subtrees feeding a
      // union + one map-side-combining sum + the bounded top-k aggregate
      // — the fusion adds no corpus-scale operator of its own
      "retrieval_hybrid_rrf",
      // round 20: the BOTH-SIDES-PERSISTED hybrid (each retriever
      // subtree is a bucket-pruned index probe — the two partition
      // filters in one plan are the composition's whole claim), the
      // weighted fusion twin (one extra multiply on the integer terms),
      // and the delta-absorbed split-layout warm rank (the returned
      // frame; the exchange-free edges ⋈ deg round plan is asserted in
      // GraphSpec)
      "retrieval_hybrid_persisted", "retrieval_hybrid_weighted",
      "graph_pagerank_warm_delta")
    val names = args.headOption.fold(headline)(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val out = args.lift(1).getOrElse("PLANS.md")
    val sb = new StringBuilder
    sb ++= s"# PLANS — FINAL physical plans ($dir)\n\n"
    sb ++= "Generated by `graft.PlanDump`. Every query is run through the noop sink\n"
    sb ++= "and that write's QueryExecution dumped, so these are the FINAL adaptive plans\n"
    sb ++= "(isFinalPlan=true): broadcast sides on the hint-free TPC-H joins are\n"
    sb ++= "AQE's runtime choices from measured sizes, not forced hints (the only\n"
    sb ++= "surviving `broadcast()` hints sit over nation/region, 1-row aggregates,\n"
    sb ++= "dim-keyed aggregates, or driver-held model state — policed by\n"
    sb ++= "`HintPolicySpec`). What to look for: `PushedFilters` on every filtered\n"
    sb ++= "scan, `BroadcastHashJoin` on every dim/small side, paired\n"
    sb ++= "partial/final `HashAggregate`s, `AQEShuffleRead` coalescing, and no\n"
    sb ++= "`Exchange` a layout choice could have avoided.\n"
    // the noop write runs its own QueryExecution (df's stays unexecuted,
    // its adaptive plan never final), delivered to a listener afterwards
    val written = new LinkedBlockingQueue[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.isInstanceOf[V2WriteCommand]) written.put(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      val plan = written.take().explainString(FormattedMode)
      sb ++= s"\n## $name\n\n```\n$plan```\n"
    }
    if (args.isEmpty) sb ++= skewProbeSection(spark)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plandump] wrote $out (${names.size} queries)")
    spark.stop()
  }

  /** The `SkewStatefulSpec` probe's final plan: the REAL `Star.factStar`
    * user join over a materialized dim, broadcast disabled (the 100-TB
    * dim_user regime), 90% of the fact on one user — dumped so the
    * `skew=true` split is visible evidence in this file, not only a test
    * assertion.
    */
  private def skewProbeSection(spark: SparkSession): String = {
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val events = spark.range(300000).select(
        col("id").as("event_id"),
        when(col("id") % 10 =!= 0, lit(7L))
          .otherwise(pmod(col("id"), lit(1000))).as("user_id"),
        concat(lit("type_"), pmod(col("id"), lit(3))).as("event_type"),
        timestamp_seconds(lit(1700000000L) + pmod(col("id"), lit(172800))).as("ts"),
        (col("id") % 97).cast("double").as("value"))
      val dimDir = Files.createTempDirectory("graft-plandump-dim").toString
      graft.operators.Dims.dimUser(events).write
        .mode("overwrite").parquet(dimDir)
      val star = graft.operators.Star.factStar(events,
        spark.read.parquet(dimDir),
        graft.operators.Dims.dimEventType(events),
        graft.operators.Dims.dimDate(events))
      star.queryExecution.toRdd.count()
      val plan = star.queryExecution.executedPlan.toString
      "\n## fact_star under skew (probe: hint-free user join, broadcast off, 90%-hot user)\n\n" +
        "The `SkewStatefulSpec` scenario — grep for `skew=true`: AQE split the\n" +
        "hot user's partition because the materialized dim side is a bare\n" +
        "shuffle stage (see `Pipeline.starFromMaterialized`).\n\n```\n" + plan + "\n```\n"
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
