package graft

import java.nio.file.Files

import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Components, Dedup}
import graft.pipeline.Curation

/** Curation pipeline semantics: exact dups collapse to the lowest id,
  * near-dups are pruned greedily, low-quality docs are filtered, stats add up.
  */
class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = (1 to 40).map(i => s"tok$i").mkString(" ")
  private val nearDup = ((1 to 39).map(i => s"tok$i") :+ "changed").mkString(" ")
  private val junk = Seq.fill(30)("the a").mkString(" ") // all stopwords, tiny TTR

  private def fiveDocs = Seq(
    (1L, base), (2L, base),      // exact dup pair → keep 1
    (3L, nearDup),               // near dup of 1 → pruned
    (4L, junk),                  // low quality → filtered
    (5L, (100 to 140).map(i => s"uniq$i").mkString(" "))
  ).toDF("doc_id", "text")

  test("curation drops exact dups, near dups, and low-quality docs") {
    val c = Curation.curate(fiveDocs, jaccardThreshold = 0.5, minQuality = 0.3)
    // the near-dup and gate counts exist only once a query ran the frame
    intercept[IllegalStateException](c.funnel)
    val ids = c.curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 5L))
    assert(c.funnel.map(s => s.stage -> s.docs) == Seq(
      "input" -> 5L, "exact_dedup" -> 4L, "near_dedup" -> 3L, "quality_filter" -> 2L))
  }

  test("cluster policy collapses transitive near-dup chains; greedy keeps unlinked survivors") {
    // suffix-extension chain: d2 = d1 + 6 tokens, d3 = d2 + 6 tokens.
    // 3-shingle Jaccards: J(1,2) = 38/44 ≈ 0.864, J(2,3) = 44/50 = 0.88,
    // J(1,3) = 38/50 = 0.76 → at 0.8 the pair graph is the chain 1-2-3
    val d1 = (1 to 40).map(i => s"tok$i").mkString(" ")
    val d2 = d1 + " " + (1 to 6).map(i => s"ext$i").mkString(" ")
    val d3 = d2 + " " + (7 to 12).map(i => s"ext$i").mkString(" ")
    val docs = Seq(
      (1L, d1), (2L, d2), (3L, d3),
      (5L, (100 to 140).map(i => s"uniq$i").mkString(" "))
    ).toDF("doc_id", "text")
    def greedy(d: DataFrame, threshold: Double): Set[Long] =
      Curation.curate(d, threshold, minQuality = 0.0).curated
        .select("doc_id").as[Long].collect().toSet
    // cluster semantics: every component keeps its canonical (min-id) doc;
    // docs in no pair are singletons and are kept
    def cluster(d: DataFrame, threshold: Double): Set[Long] =
      d.select("doc_id").as[Long].collect().toSet --
        Components.dedupClusters(d, threshold).filter(!col("is_canonical"))
          .select("doc_id").as[Long].collect()
    // sanity: the pair set is exactly the chain — 1~3 is below threshold
    val pairs = graft.operators.DedupApprox.jaccardJoin(docs, 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L)))
    assert(greedy(docs, 0.8) == Set(1L, 5L)) // 2 and 3 are doc_b's
    assert(cluster(docs, 0.8) == Set(1L, 5L)) // component {1,2,3} → 1
    // where the policies genuinely differ: c overlaps a and b, a∩b = ∅ —
    // greedy keeps a and b (c is the only doc_b), cluster collapses all
    // three into one component and keeps only the min id
    val a = (1 to 20).map(i => s"x$i").mkString(" ") // 18 shingles
    val b = (1 to 20).map(i => s"y$i").mkString(" ") // 18 shingles, disjoint
    val c = a + " " + b // 38 shingles: J(a,c) = J(b,c) = 18/38 ≈ 0.474
    val vee = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val veePairs = graft.operators.DedupApprox.jaccardJoin(vee, 0.4)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(veePairs == Set((1L, 3L), (2L, 3L)))
    assert(greedy(vee, 0.4) == Set(1L, 2L))
    assert(cluster(vee, 0.4) == Set(1L))
  }

  test("fixture corpus curation keeps most docs and sums tokens") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val c = Curation.curate(docs)
    val sum = Curation.summary(c.curated).collect()
    val stages = c.funnel
    assert(stages.last.docs > 400, s"unexpectedly aggressive: $stages")
    assert(sum.map(_.getAs[Long]("n_docs")).sum == stages.last.docs)
    assert(sum.forall(_.getAs[Long]("total_tokens") > 0))
  }

  test("curate → encode → pack composition is consistent end to end") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val c = Curation.curate(docs)
    val (tokenStream, packs) = Curation.prepareTrainingData(
      c.curated, vocabSize = 200, ctxTokens = 256, shards = 8)
    // every curated doc appears in exactly one pack row and its token
    // stream length equals the pack row's token count
    val packed = packs.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    val nDocs = c.funnel.last.docs
    assert(packed.size == nDocs)
    val streamCounts = tokenStream.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamCounts == packed, "token stream and pack token counts must agree")
    // ids stay within [0, vocabSize]
    val ids = tokenStream.agg(
      org.apache.spark.sql.functions.min("token_id"),
      org.apache.spark.sql.functions.max("token_id")).first()
    assert(ids.getLong(0) >= 0L && ids.getLong(1) <= 200L)
  }

  test("incremental admission ≡ whole-corpus curation (ordered ids)") {
    val other = (1 to 40).map(i => s"w$i").mkString(" ")
    val otherNear = ((1 to 39).map(i => s"w$i") :+ "x").mkString(" ")
    val seed = Seq(
      (1L, base), (2L, base),   // exact dup within seed → keep 1
      (3L, junk),               // quality-dropped in seed — must STILL
                                //   suppress batch twins of its text
      (4L, other))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, base),              // exact dup of seed 1 → dropped
      (11L, junk),              // exact dup of quality-dropped seed 3 → dropped
      (12L, otherNear),         // near-dup of seed 4 → dropped
      (13L, nearDup),           // near-dup of seed 1 → dropped
      (14L, "fresh unique tokens " + (1 to 30).map(i => s"z$i").mkString(" ")),
      (15L, "fresh unique tokens " + (1 to 30).map(i => s"z$i").mkString(" ")) // exact dup of 14 within batch
    ).toDF("doc_id", "text")
    val union = seed.unionByName(batch)

    val idx = java.nio.file.Files.createTempDirectory("graft-curidx").toString + "/i"
    graft.operators.DedupIndex.buildIndex(Dedup.exactSurvivors(seed), idx)

    val seedCurated = Curation.curate(seed).curated
    val (admitted, batchExact) = Curation.admitBatch(spark, Dedup.exactSurvivors(seed), idx, batch)
    val incremental = seedCurated.select("doc_id")
      .unionByName(admitted.select("doc_id"))
      .as[Long].collect().toSet
    val full = Curation.curate(union).curated
      .select("doc_id").as[Long].collect().toSet
    assert(incremental == full,
      s"admission must reproduce the batch recompute: inc=$incremental full=$full")
    assert(incremental == Set(1L, 4L, 14L),
      "exact twins (incl. of a quality-dropped seed doc), near-dups, and " +
        "the within-batch dup must all drop")
    // the lifecycle's third step: the batch's exact survivors extend the
    // index so the NEXT batch sees them as corpus
    graft.operators.DedupIndex.appendToIndex(batchExact, idx)
    val (admitted2, _) = Curation.admitBatch(spark, Dedup.exactSurvivors(union), idx,
      Seq((20L, "fresh unique tokens " + (1 to 29).map(i => s"z$i")
        .mkString(" ") + " zz")).toDF("doc_id", "text")) // near-dup of 14
    assert(admitted2.select("doc_id").as[Long].collect().isEmpty,
      "a later batch must see the admitted batch as corpus")
  }

  test("Curation.run spends a bounded number of Spark jobs and observes its funnel") {
    val src = Files.createTempDirectory("graft-cur-jobs").toString
    fiveDocs.write.parquet(graft.sources.Tables.path(src, "documents"))
    val out = Files.createTempDirectory("graft-cur-out").toString
    val group = "curation-run"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (Option(s.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "one curation run")
    val stages =
      try Curation.run(spark, src, out)
      finally {
        spark.sparkContext.clearJobGroup()
        ListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(stages.map(s => s.stage -> s.docs) == Seq(
      "input" -> 5L, "exact_dedup" -> 4L, "near_dedup" -> 3L, "quality_filter" -> 2L))
    // 27 jobs when each stage count was a count() job over a persisted or
    // checkpointed stage; 18 once the funnel is observed on the stages
    // themselves and fills during the checkpoint and the sink
    assert(jobs.get <= 18, s"jobs per Curation.run: ${jobs.get}")
  }

  /** Leaves of `plan`, seeing through AQE wrappers and reused exchanges. */
  private def leaves(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec        => leaves(q.plan)
    case r: ReusedExchangeExec    => leaves(r.child)
    case p if p.children.isEmpty  => Seq(p)
    case p                        => p.children.flatMap(leaves)
  }

  test("the curated sink scans only checkpoints: the exact-dedup subtree runs once") {
    val written = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand])
          written.put(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val c = Curation.curate(graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"))
    spark.listenerManager.register(qeListener)
    try {
      c.curated.write.format("noop").mode("overwrite").save()
      ListenerBus.drain(spark.sparkContext) // delivers the write's callback
    } finally spark.listenerManager.unregister(qeListener)
    val qe = written.poll()
    assert(qe != null, "the noop write's QueryExecution was not delivered")
    val plan = qe.executedPlan
    val ls = leaves(plan)
    assert(!ls.exists(_.isInstanceOf[FileSourceScanExec]), s"the sink re-read the input:\n$plan")
    // the exact checkpoint plus the posting table jaccardJoin checkpoints from it
    assert(ls.forall(_.isInstanceOf[RDDScanExec]), s"a leaf that is not a checkpoint:\n$plan")
    val exactRdds = c.exact.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(ls.exists { case r: RDDScanExec => exactRdds.contains(r.rdd.id); case _ => false },
      s"the sink does not read the exact checkpoint:\n$plan")
    assert(!plan.toString.contains("sha2"), s"the sink re-hashes content:\n$plan")
    assert(c.funnel.head.docs > 0)
  }
}
