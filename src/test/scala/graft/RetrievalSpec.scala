package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Retrieval

/** BM25 retrieval: exact scores on a hand-computable corpus, ranking
  * semantics (tf saturation, length normalization, idf weighting), and
  * the k/tie contracts. The cross-engine float contract itself is covered
  * by the `retrieval_bm25` DuckDB oracle row.
  */
class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  /** Reference scalar BM25 in the operator's exact micro-unit contract. */
  private def refMicro(corpus: Seq[(Long, String)], qTokens: Seq[String],
                       docId: Long, k1: Double = 1.2, b: Double = 0.75): Long = {
    val toks = corpus.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    val n = corpus.size.toLong
    val avgdl = toks.values.map(_.size.toLong).sum.toDouble / n
    val dl = toks(docId).size
    qTokens.distinct.map { t =>
      val tf = toks(docId).count(_ == t)
      if (tf == 0) 0L
      else {
        val df = toks.values.count(_.contains(t)).toLong
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        val tfn = (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        math.round(idf * tfn * 1000000.0)
      }
    }.sum
  }

  private val corpus = Seq(
    1L -> "spark shuffles data across the cluster",
    2L -> "spark spark spark spark tuning guide",
    3L -> "a very long document about nothing relevant to the query at all whatsoever truly nothing",
    4L -> "join strategies in spark explained",
    5L -> "gardening tips for tomatoes")

  private def run(q: String, k: Int = 5) =
    Retrieval.bm25TopK(docs(corpus: _*), Seq(0L -> q), k)
      .orderBy("rk").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))

  test("scores equal the scalar reference exactly, in micro-units") {
    val out = run("spark join")
    assert(out.nonEmpty)
    out.foreach { case (docId, micro, _) =>
      assert(micro == refMicro(corpus, Seq("spark", "join"), docId),
        s"doc $docId")
    }
  }

  test("a doc matching more query terms outranks tf-saturated repetition") {
    // doc 4 matches both 'spark' and 'join'; doc 2 has tf=4 of 'spark'
    // alone — saturation (k1) caps repetition below a second matched term
    val out = run("spark join")
    assert(out.head._1 == 4L, out.mkString(","))
    assert(out.map(_._1).contains(2L))
  }

  test("non-matching docs are absent; k bounds the output") {
    val out = run("spark join")
    assert(!out.map(_._1).contains(3L) && !out.map(_._1).contains(5L))
    assert(run("spark join", k = 1).map(_._1).toSeq == Seq(4L))
  }

  test("query-side repetition does not inflate the score") {
    assert(run("spark spark spark").toSeq == run("spark").toSeq)
  }

  test("equal scores tie-break by doc_id ascending") {
    val twin = Seq(
      1L -> "alpha beta",
      7L -> "alpha beta",
      3L -> "alpha beta")
    val out = Retrieval.bm25TopK(docs(twin: _*), Seq(0L -> "alpha"), 3)
      .orderBy("rk").collect().map(_.getLong(1)).toSeq
    assert(out == Seq(1L, 3L, 7L))
  }

  test("persisted text index answers identically to the inline path, reading only query-token buckets") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val path = java.nio.file.Files.createTempDirectory("graft-textidx").toString
    Retrieval.buildTextIndex(docs, path)
    val queries = Retrieval.DefaultQueries
    val fromIndex = Retrieval.bm25TopKFromIndex(spark, path, queries, 10)
    val inline = Retrieval.bm25TopK(docs, queries, 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(rows(fromIndex) == rows(inline),
      "same tokenizer + stats + integer scoring must answer identically from disk")
    // the query tokens' bucket IN-list must reach the postings scan as a
    // partition filter — non-matching buckets are pruned, never read
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"postings scan must prune on the bucket partition column:\n$plan")
  }

  test("append admission: seed-half build + odd-half admit ≡ full-corpus index") {
    val all = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val even = all.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0)
    val odd = all.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1)
    val grown = java.nio.file.Files.createTempDirectory("graft-textidx-inc").toString
    val full = java.nio.file.Files.createTempDirectory("graft-textidx-full").toString
    Retrieval.buildTextIndex(even, grown)
    Retrieval.appendToTextIndex(odd, grown)
    Retrieval.buildTextIndex(all, full)
    // corpus stats must be EXACTLY the full build's (avgdl is the same
    // two-long ieee division, never a drifted running double)
    val gs = spark.read.parquet(s"$grown/stats")
      .selectExpr("n_docs", "total_dl", "avgdl").head()
    val fs = spark.read.parquet(s"$full/stats")
      .selectExpr("n_docs", "total_dl", "avgdl").head()
    assert(gs == fs, s"grown stats $gs != full-build stats $fs")
    val queries = Retrieval.DefaultQueries
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val grownAns = Retrieval.bm25TopKFromIndex(spark, grown, queries, 10)
    assert(rows(grownAns) == rows(Retrieval.bm25TopKFromIndex(spark, full, queries, 10)),
      "admitting the odd half must answer identically to indexing the full corpus")
    // the appended index still serves probes from pruned buckets only
    val plan = grownAns.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"appended index must keep the bucket partition pruning:\n$plan")
    // an EMPTY batch is a clean no-op: stats untouched, answers unchanged
    Retrieval.appendToTextIndex(all.limit(0), grown)
    assert(spark.read.parquet(s"$grown/stats")
      .selectExpr("n_docs", "total_dl", "avgdl").head() == fs,
      "an empty admission must not disturb the corpus stats")
    assert(rows(Retrieval.bm25TopKFromIndex(spark, grown, queries, 10)) ==
      rows(grownAns))
  }

  test("rank is dense from 1 and ordered by score desc") {
    val out = run("spark join")
    assert(out.map(_._3).toSeq == (1 to out.length))
    assert(out.map(_._2).toSeq == out.map(_._2).sortBy(-_).toSeq)
  }

  test("RRF fusion: overlap sums both rank terms, order is by the exact integer sum, output k-bounded") {
    // planted ranked lists: doc 5 is rank 2 lexically AND rank 1
    // semantically — its two terms must beat doc 9's single rank-1 term
    val bm = Seq((0L, 9L, 1), (0L, 5L, 2), (0L, 7L, 3))
      .toDF("q_id", "doc_id", "rk")
    val co = Seq((0L, 5L, 1), (0L, 3L, 2))
      .toDF("q_id", "doc_id", "rk")
    val fused = Retrieval.rrfFuse(bm, co, k = 3)
      .orderBy("rk")
      .as[(Long, Long, Long, Int)].collect().toSeq
    def t(rk: Int): Long = { // half-up 1e6/(60+rk), the operator contract
      val den = 60L + rk; (2 * 1000000L + den) / (2 * den)
    }
    assert(fused == Seq(
      (0L, 5L, t(2) + t(1), 1), // both lists
      (0L, 9L, t(1), 2),        // lexical only
      (0L, 3L, t(2), 3)))       // semantic only; doc 7 (t(3)) cut by k=3
    // ties in the fused score break by doc_id ascending
    val tied = Retrieval.rrfFuse(
      Seq((1L, 8L, 1)).toDF("q_id", "doc_id", "rk"),
      Seq((1L, 4L, 1)).toDF("q_id", "doc_id", "rk"), k = 2)
      .orderBy("rk").as[(Long, Long, Long, Int)].collect().toSeq
    assert(tied == Seq((1L, 4L, t(1), 1), (1L, 8L, t(1), 2)))
  }

  test("weighted fusion: integer weights scale each side's terms; extreme weights reproduce that side's order") {
    val bm = Seq((0L, 9L, 1), (0L, 5L, 2), (0L, 7L, 3))
      .toDF("q_id", "doc_id", "rk")
    val co = Seq((0L, 5L, 1), (0L, 3L, 2))
      .toDF("q_id", "doc_id", "rk")
    def t(rk: Int): Long = { val den = 60L + rk; (2 * 1000000L + den) / (2 * den) }
    // (3, 1): every lexical term triples, the semantic terms stay — each
    // fused score is the exact weighted integer sum
    val weighted = Retrieval.rrfFuseWeighted(bm, co, k = 4, wA = 3L, wB = 1L)
      .orderBy("rk").as[(Long, Long, Long, Int)].collect().toSeq
    assert(weighted == Seq(
      (0L, 5L, 3 * t(2) + t(1), 1), // both lists, lexical side tripled
      (0L, 9L, 3 * t(1), 2),
      (0L, 7L, 3 * t(3), 3),
      (0L, 3L, t(2), 4)))           // semantic-only term unweighted by wB=1
    // monotonicity at the extremes: zero semantic weight reproduces the
    // lexical ranking exactly (and symmetrically)
    val lexOnly = Retrieval.rrfFuseWeighted(bm, co, k = 3, wA = 1L, wB = 0L)
      .orderBy("rk").as[(Long, Long, Long, Int)].collect().toSeq
    assert(lexOnly.map(r => (r._2, r._4)) == Seq((9L, 1), (5L, 2), (7L, 3)),
      "all-lexical weight must reproduce the BM25 order")
    val semOnly = Retrieval.rrfFuseWeighted(bm, co, k = 2, wA = 0L, wB = 1L)
      .orderBy("rk").as[(Long, Long, Long, Int)].collect().toSeq
    assert(semOnly.map(r => (r._2, r._4)) == Seq((5L, 1), (3L, 2)),
      "all-semantic weight must reproduce the cosine order")
    // unweighted rrfFuse ≡ weights (1, 1) — one arithmetic, two names
    assert(Retrieval.rrfFuse(bm, co, k = 3)
      .orderBy("rk").as[(Long, Long, Long, Int)].collect().toSeq ==
      Retrieval.rrfFuseWeighted(bm, co, k = 3, wA = 1L, wB = 1L)
        .orderBy("rk").as[(Long, Long, Long, Int)].collect().toSeq)
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuseWeighted(bm, co, k = 3, wA = 0L, wB = 0L)
    }
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuseWeighted(bm, co, k = 3, wA = -1L, wB = 1L)
    }
  }

  test("both-sides-persisted hybrid: each index probe prunes to its probed buckets and matches its in-memory twin") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val cents = graft.operators.Ann.loadCentroids(spark,
      SparkEntry.AnnIndexFixture)
    val bmIdx = java.nio.file.Files.createTempDirectory("graft-hyb-bm").toString
    val ivfIdx = java.nio.file.Files.createTempDirectory("graft-hyb-ivf").toString
    Retrieval.buildTextIndex(docs, bmIdx)
    graft.operators.Ann.buildIvfIndexWithCentroids(emb, ivfIdx, cents)
    val lex = Retrieval.bm25TopKFromIndex(spark, bmIdx,
      Retrieval.DefaultQueries, 10)
    val sem = graft.operators.Ann.ivfTopKFromIndex(spark, ivfIdx,
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3), 10)
      .withColumnRenamed("vec_id", "doc_id")
    // BOTH sides' postings scans carry the probed-bucket partition
    // filters — per-query index I/O is pruned buckets, never a corpus read
    for ((side, name) <- Seq((lex, "bm25"), (sem, "ivf"))) {
      val plan = side.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
        s"$name index probe must prune on its bucket partition column:\n$plan")
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    // the persisted composition answers exactly like the in-memory one
    // (the bit-identity that lets the registered query share the IVF
    // hybrid's DuckDB oracle)
    val inMemory = Retrieval.rrfFuse(
      Retrieval.bm25TopK(docs, Retrieval.DefaultQueries, 10),
      graft.operators.Ann.ivfTopKWithCentroids(emb, cents, 3, 10)
        .withColumnRenamed("vec_id", "doc_id"),
      10)
    assert(rows(Retrieval.rrfFuse(lex, sem, 10)) == rows(inMemory),
      "both-persisted hybrid must be bit-identical to the in-memory composition")
  }

  test("IVF semantic side drops into the fusion with bounded recall loss vs the exact hybrid") {
    // the scale composition: the semantic retriever swaps brute cosine
    // for the committed IVF index probe (approximate, recall-gated —
    // which is why this twin is a spec gate, not an oracle row)
    val spark2 = spark
    val dir = "/root/testdata/sf0.01"
    val emb = graft.sources.Tables.embeddings(spark2, dir)
    val docs = graft.sources.Tables.documents(spark2, dir)
    val exact = Retrieval.hybridRrfTopK(docs, emb, Retrieval.DefaultQueries, 10)
      .select("q_id", "doc_id").as[(Long, Long)].collect().toSet
    val cents = graft.operators.Ann.loadCentroids(spark2,
      SparkEntry.AnnIndexFixture)
    val approx = Retrieval.rrfFuse(
      Retrieval.bm25TopK(docs, Retrieval.DefaultQueries, 10),
      graft.operators.Ann.ivfTopKWithCentroids(emb, cents,
        Retrieval.DefaultQueries.size, 10)
        .withColumnRenamed("vec_id", "doc_id"),
      10).select("q_id", "doc_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8,
      f"hybrid recall with the IVF side fell to $recall%.2f vs the exact fusion")
  }
}
