package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann

/** ANN semantics: brute top-k is exactly the cosine ranking; the IVF scale
  * path keeps high recall against brute on the fixture corpus.
  */
class AnnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("brute top-k ranks by cosine (hand-checkable vectors)") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 9),   // query
      (1L, Array(1.0f, 0.1f), 9),   // nearly parallel → rank 1
      (2L, Array(1.0f, 1.0f), 9),   // 45° → rank 2
      (3L, Array(0.0f, 1.0f), 9),   // orthogonal → rank 3
      (4L, Array(-1.0f, 0.0f), 9)   // opposite → rank 4
    ).toDF("vec_id", "embedding", "label")
    val out = Ann.bruteTopK(vecs, nQueries = 1, k = 4)
      .orderBy("rk").collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(out == Seq(1L, 2L, 3L, 4L))
  }

  test("hard negatives exclude same-label vectors even when nearest") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 7),   // anchor, label 7
      (1L, Array(1.0f, 0.05f), 7),  // nearest of all — but same label
      (2L, Array(1.0f, 0.2f), 8),   // nearest other-label → rank 1
      (3L, Array(1.0f, 1.0f), 8),   // → rank 2
      (4L, Array(0.0f, 1.0f), 7)    // same label again: never emitted
    ).toDF("vec_id", "embedding", "label")
    val out = Ann.hardNegatives(vecs, nAnchors = 1, k = 3)
      .orderBy("rk").collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(out == Seq(2L, 3L), s"same-label vectors must never mine: $out")
  }

  test("IVF recall@5 vs brute is high on the fixture corpus") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val brute = pairs(Ann.bruteTopK(emb, 10, 5))
    val ivf = pairs(Ann.ivfTopK(emb, 10, 5))
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    info(s"recall@5=$recall with pinned defaults (C=10, nprobe=8, lloyd=4)")
    // pinned by the IvfSweep measurement: C tracks the data's natural
    // cluster count (10 labels) and nprobe buys the recall this weakly
    // clustered fixture won't give to clustering quality — the defaults
    // measure 0.92 here and 0.94 at sf0.1. Gate at the production floor.
    assert(recall >= 0.9, s"IVF recall $recall vs brute below 0.9 gate")
  }

  test("sf0.1 gate: IVF recall@5 vs brute with pinned defaults") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val brute = pairs(Ann.bruteTopK(emb, 10, 5))
    val ivf = pairs(Ann.ivfTopK(emb, 10, 5))
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    info(s"sf0.1 IVF recall@5=$recall")
    assert(recall >= 0.9, s"IVF recall $recall at sf0.1 below 0.9 gate")
  }

  test("IVF-PQ recall@5 vs brute is high on the fixture corpus") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val brute = pairs(Ann.bruteTopK(emb, 10, 5))
    val pq = pairs(Ann.ivfPqTopK(emb, 10, 5))
    val recall = brute.intersect(pq).size.toDouble / brute.size
    info(s"IVF-PQ recall@5=$recall (m=8, ksub=256, refine=20, nprobe=8)")
    // the exact re-rank means PQ only has to get the true neighbors into
    // the refine·k short list. Defaults pinned by the PqSweep measurement:
    // this fixture's embeddings are near-random (PQ's worst case — nothing
    // for the codebooks to exploit; avg ADC err 0.03-0.05 at ksub=256),
    // so 8-bit codebooks AND a 20× re-rank list are both needed: 0.92 here
    // / 0.98 at sf0.1 vs 0.48/0.32 at (ksub=16, refine=4)
    assert(recall >= 0.9, s"IVF-PQ recall $recall below 0.9 gate")
  }

  test("sf0.1 gate: IVF-PQ recall@5 vs brute with pinned defaults") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val brute = pairs(Ann.bruteTopK(emb, 10, 5))
    val pq = pairs(Ann.ivfPqTopK(emb, 10, 5))
    val recall = brute.intersect(pq).size.toDouble / brute.size
    info(s"sf0.1 IVF-PQ recall@5=$recall")
    assert(recall >= 0.9, s"IVF-PQ recall $recall at sf0.1 below 0.9 gate")
  }

  test("PQ encode is a valid deterministic code table; ADC approximates cosine") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val corpus = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val model = Ann.trainPq(corpus, m = 8, ksub = 256)
    assert(model.m == 8 && model.dsub == 8 && model.ksub <= 256)
    val enc = graft.functions.expr.VectorExpressions.pqEncode(col("emb"), model.codebooks)
    val codes = corpus.select(col("vec_id"), enc.as("codes")).collect()
    assert(codes.forall { r =>
      val c = r.getSeq[Int](1)
      c.length == 8 && c.forall(x => x >= 0 && x < model.ksub)
    })
    // determinism: a second evaluation of the same model yields identical codes
    val codes2 = corpus.select(col("vec_id"), enc.as("codes")).collect()
    assert(codes.map(_.toString).toSeq == codes2.map(_.toString).toSeq)
    // ADC vs exact cosine at the pinned 8-bit codebooks: PqSweep measures
    // avg err 0.032 / max 0.145 here (0.204 at sf0.1) on near-random
    // vectors — sanity-bound the max, not a tight guarantee
    val lut = graft.functions.expr.VectorExpressions.pqLutCosine(col("q_emb"), model.codebooks)
    val q = corpus.filter(col("vec_id") < 1)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      .withColumn("lut", lut)
    val joined = corpus.select(col("vec_id"), enc.as("codes"), col("emb"))
      .crossJoin(org.apache.spark.sql.functions.broadcast(q))
      .select(
        graft.functions.expr.VectorExpressions.pqAdcCosine(
          col("codes"), col("lut"), model.cwNorms2Flat, model.ksub).as("adc"),
        graft.functions.SimFns.cosine(col("emb"), col("q_emb")).as("exact"))
      .collect()
    val maxErr = joined.map(r => math.abs(r.getDouble(0) - r.getDouble(1))).max
    info(s"max |adc - exact| over ${joined.length} pairs = $maxErr")
    assert(maxErr < 0.25, s"ADC error $maxErr out of sanity range")
  }

  test("persisted IVF-PQ index answers identically to the inline path, reading only probed buckets") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    Ann.buildIvfPqIndex(emb, path)
    val queries = emb.filter(col("vec_id") < 10)
    val fromIndex = Ann.ivfPqTopKFromIndex(spark, path, queries, emb, k = 5)
    val inline = Ann.ivfPqTopK(emb, 10, 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos"), r.getAs[Int]("rk"))).toSet
    assert(rows(fromIndex) == rows(inline),
      "same seeds train the same models — disk must answer exactly like inline")
    val scan = fromIndex.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("bucket"),
      s"codes scan must prune on the bucket partition column:\n$scan")
  }

  test("appending a batch to the persisted IVF index answers like an index built on the union") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(col("vec_id") % 4 =!= 0)   // 3/4 indexed up front
    val batch = emb.filter(col("vec_id") % 4 === 0)  // the admitted delta
    val incPath = java.nio.file.Files.createTempDirectory("graft-ivf-inc").toString
    Ann.buildIvfIndex(base, incPath)
    Ann.appendToIvfIndex(batch, incPath)
    // reference: the same quantizer TRAINING INPUT matters — rebuild the
    // full index from base's training (same seeds, same corpus) would
    // retrain on base only; instead compare answers: the appended index
    // must rank the union exactly as an index whose postings are the union
    // under the SAME centroids
    val queries = emb.filter(col("vec_id") < 10)
    val fromAppended = Ann.ivfTopKFromIndex(spark, incPath, queries, k = 5)
    import spark.implicits._
    val cents = Ann.loadCentroids(spark, incPath)
    val inlineUnion = Ann.ivfTopKWithCentroids(emb, cents, 10, 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos"), r.getAs[Int]("rk"))).toSet
    assert(rows(fromAppended) == rows(inlineUnion),
      "append must be invisible to queries vs assigning the union inline")
    // and a REBUILD with the same (pre-trained) quantizer is bit-identical
    // to the incremental path it would replace — the re-index lifecycle's
    // exactness contract
    val rebuiltPath = java.nio.file.Files.createTempDirectory("graft-ivf-rb").toString
    Ann.buildIvfIndexWithCentroids(emb, rebuiltPath, cents)
    val fromRebuilt = Ann.ivfTopKFromIndex(spark, rebuiltPath, queries, k = 5)
    assert(rows(fromRebuilt) == rows(fromAppended),
      "rebuild-under-unchanged-quantizer must equal the incremental index")
  }

  test("Lloyd refinement keeps recall at the production floor (vs ++-init alone)") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val brute = pairs(Ann.bruteTopK(emb, 10, 5))
    def recall(iters: Int) = {
      val ivf = pairs(Ann.ivfTopK(emb, 10, 5, lloydIters = iters))
      brute.intersect(ivf).size.toDouble / brute.size
    }
    val (init, refined) = (recall(0), recall(4))
    info(s"recall@5: kmeans++-init=$init lloyd4=$refined")
    // Lloyd minimizes quantization error, not recall — a lucky seed set can
    // score higher than its converged refinement by a few points (measured
    // 0.96 → 0.92 here), so strict monotonicity is NOT a property of
    // k-means. What must hold: refinement never collapses recall below the
    // production floor the defaults are pinned to.
    assert(refined >= 0.9,
      s"Lloyd-refined recall $refined fell below the 0.9 floor (init=$init)")
    assert(init >= 0.8,
      s"++-init recall $init collapsed — seeding regression (refined=$refined)")
  }

  test("sf0.1 gate: spill-2 multi-assignment holds recall at nprobe=5") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val brute = pairs(Ann.bruteTopK(emb, 10, 5))
    val spilled = pairs(Ann.ivfTopK(emb, 10, 5, nprobe = 5, spill = 2))
    val recall = brute.intersect(spilled).size.toDouble / brute.size
    info(s"sf0.1 spill=2 nprobe=5 recall@5=$recall")
    // measured 1.00 (IvfSweep); also proves the duplicate-candidate dedup —
    // without it a vector probed via both its lists could fill two top-k
    // slots and recall/rank order would corrupt
    assert(recall >= 0.9, s"spilled IVF recall $recall below 0.9 gate")
    val perQuery = Ann.ivfTopK(emb, 10, 5, nprobe = 5, spill = 2)
      .groupBy("q_id").agg(org.apache.spark.sql.functions.countDistinct("vec_id"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
      .collect()
    assert(perQuery.forall(r => r.getLong(1) == r.getLong(2)),
      "spilled top-k must never contain the same vector twice")
  }

  test("spilled persisted index answers identically to the spilled inline path") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-spill").toString
    Ann.buildIvfIndex(emb, path, spill = 2)
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos"), r.getAs[Int]("rk"))).toSet
    // the spill factor rides in the centroid table, so the reader knows to
    // dedup replicated postings without being told
    val fromIndex = Ann.ivfTopKFromIndex(spark, path, queries, k = 5, nprobe = 5)
    val inline = Ann.ivfTopK(emb, 10, 5, nprobe = 5, spill = 2)
    assert(rows(fromIndex) == rows(inline))
  }

  test("v1 centroid table (no spill column) reads with spill defaulted to 1") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-v1").toString
    Ann.buildIvfIndex(emb, path)
    // rewrite the centroid table in the pre-spill on-disk format
    val v1 = spark.read.parquet(s"$path/centroids").select("c_id", "c_emb")
    v1.write.mode("overwrite").parquet(s"$path/centroids_v1")
    val fs = new java.io.File(s"$path/centroids")
    fs.listFiles().foreach(_.delete()); fs.delete()
    new java.io.File(s"$path/centroids_v1").renameTo(fs)
    val queries = emb.filter(col("vec_id") < 5)
    val out = Ann.ivfTopKFromIndex(spark, path, queries, k = 5)
    assert(out.count() == 25)
  }

  test("k-means++ seeding stops early when the pool is dominated by duplicates") {
    // 600 copies of one vector + 2 distinct outliers: D² mass hits zero
    // after the distinct directions are taken — seeding must not pad the
    // centroid set with copies (dead inverted lists), and search must
    // still work with the fewer centroids (nprobe > count clamps)
    val rows = (0L until 600L).map(i => (i, Array(1.0f, 0.0f, 0.0f))) ++
      Seq((600L, Array(0.0f, 1.0f, 0.0f)), (601L, Array(0.0f, 0.0f, 1.0f)))
    val emb = rows.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-dup").toString
    Ann.buildIvfIndex(emb, path, numCentroids = 10)
    val cents = spark.read.parquet(s"$path/centroids").select("c_emb").collect()
      .map(_.getSeq[Double](0).toList)
    assert(cents.length == cents.distinct.length,
      s"duplicate centroids trained: ${cents.length} total, ${cents.distinct.length} distinct")
    assert(cents.length <= 3, s"expected ≤3 centroids from 3 distinct directions, got ${cents.length}")
    val out = Ann.ivfTopK(emb, 3, 2, nprobe = 8)
    assert(out.count() > 0)
  }

  test("int8 quantization: hand-checkable values, zero-vector safe") {
    val vecs = Seq(
      (0L, Array(1.0f, -0.5f, 0.25f), 9),
      (1L, Array(0.0f, 0.0f, 0.0f), 9)
    ).toDF("vec_id", "embedding", "label")
    val out = Ann.quantizeEmbeddings(vecs).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("pos")) ->
        r.getAs[Long]("q")).toMap
    // scale 127/1.0: 1.0→127; -0.5·127=-63.5 → floor(-63.0)=-63 (half-up
    // toward +inf, the pinned floor(x+0.5) convention); 0.25·127=31.75→32
    assert(out == Map(
      (0L, 0) -> 127L, (0L, 1) -> -63L, (0L, 2) -> 32L,
      (1L, 0) -> 0L, (1L, 1) -> 0L, (1L, 2) -> 0L))
    val bounded = Ann.quantizeEmbeddings(
      graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001"))
    assert(bounded.filter(col("q") > 127 || col("q") < -127).count() == 0,
      "quantized values must fit a signed byte")
  }

  test("quantized search keeps high recall vs the float path") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val brute = pairs(Ann.bruteTopK(emb, 10, 5))
    val quant = pairs(Ann.quantizedTopK(emb, 10, 5))
    val recall = brute.intersect(quant).size.toDouble / brute.size
    info(s"int8 recall@5=$recall")
    assert(recall >= 0.9,
      s"int8 quantization recall $recall below 0.9 — rounding error should " +
        s"barely move cosine ranks")
  }

  test("hyperplane-LSH near-dup: exact-refined subset of brute with usable recall") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Ann.embeddingNearDup(emb, 0.4))
    val lsh = pairs(Ann.embeddingNearDupLsh(emb, 0.4))
    assert(brute.nonEmpty)
    assert(lsh.subsetOf(brute), "exact refine must eliminate false positives")
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    info(s"sf0.001 embedding-LSH recall=$recall at cos>=0.4")
    assert(recall >= 0.9, s"LSH recall $recall below 0.9 at the shipped threshold")
  }

  test("semantic dedup: bucket-local groups, min-id survivors, full cover") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Ann.loadCentroids(spark, SparkEntry.AnnIndexFixture)
    val out = Ann.semanticDedup(emb, cents, 0.4).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("bucket"),
        r.getAs[Long]("group_id"), r.getAs[Long]("n_members"),
        r.getAs[Boolean]("keep")))
    val n = emb.count()
    assert(out.length == n, "one keep/drop decision per vector, singletons included")
    val byGroup = out.groupBy(_._3)
    byGroup.foreach { case (gid, rows) =>
      assert(rows.map(_._1).min == gid, s"group $gid: survivor must be the min vec_id")
      assert(rows.count(_._5) == 1, s"group $gid: exactly one keeper")
      assert(rows.forall(_._4 == rows.length), s"group $gid: n_members must equal group size")
      assert(rows.map(_._2).distinct.length == 1,
        s"group $gid spans buckets — pairs must never cross clusters")
    }
    // within-cluster pairing can only LOSE pairs vs the brute near-dup —
    // the n²→Σnᵢ² trade — never invent them: every multi-member group
    // member must have a brute near-dup partner inside its own group
    val brute = Ann.embeddingNearDup(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dupGroups = byGroup.filter(_._2.length > 1)
    assert(dupGroups.nonEmpty, "fixture must contain semantic duplicates")
    dupGroups.foreach { case (gid, rows) =>
      val ids = rows.map(_._1).toSet
      ids.foreach { v =>
        assert(ids.exists(w => w != v &&
          (brute.contains((v min w, v max w)))),
          s"group $gid member $v has no exact near-dup partner in-group")
      }
    }
  }

  test("semantic dedup spill: strictly more duplicates found, never false ones") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Ann.loadCentroids(spark, SparkEntry.AnnIndexFixture)
    def dropped(df: org.apache.spark.sql.DataFrame) = df.collect()
      .filter(!_.getAs[Boolean]("keep")).map(_.getAs[Long]("vec_id")).toSet
    val d1 = dropped(Ann.semanticDedup(emb, cents, 0.4))
    val d2 = dropped(Ann.semanticDedupSpill(emb, cents, 0.4, spill = 2))
    // spill buckets contain the primary bucket, so every spill=1 pair is
    // rediscovered and the dropped set can only grow
    assert(d1.subsetOf(d2),
      s"spill=2 must not lose spill=1 duplicates: missing ${d1 -- d2}")
    // and the extra drops must be REAL near-dups (subset of the brute
    // pair graph's non-minimal members), not artifacts of wider buckets
    val brute = Ann.embeddingNearDup(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inBrute = brute.flatMap(p => Seq(p._1, p._2))
    assert((d2 -- d1).forall(inBrute.contains),
      "every additional spill-found duplicate must appear in a brute pair")
    info(s"sf0.001 semantic dedup drops: spill=1 ${d1.size}, spill=2 ${d2.size}")
  }

  test("adaptive spill: a Pareto budget point between fixed spill levels") {
    // the honest, measured contract (AdaptiveSpillSweep / BASELINE.md):
    // at spillMax=3 / budgetFrac=0.5 the margin-gated assignment spends
    // LESS candidate-pair budget (the Σnᵢ² kernel cost) than uniform
    // spill=2 while finding strictly more true pairs than spill=1 and at
    // least 3/4 of spill=2's — the knob buys recall per unit of pair
    // budget, it does not beat uniform spill at equal budget on this
    // diffuse-threshold fixture (the negative result is deliberate
    // documentation, see the operator's scaladoc)
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Ann.loadCentroids(spark, SparkEntry.AnnIndexFixture)
    val corpus = Ann.emb(emb)
    def candPairs(asg: org.apache.spark.sql.DataFrame): Long =
      asg.select(org.apache.spark.sql.functions.col("bucket"),
          org.apache.spark.sql.functions.col("vec_id").as("a"))
        .join(asg.select(org.apache.spark.sql.functions.col("bucket"),
          org.apache.spark.sql.functions.col("vec_id").as("b")), Seq("bucket"))
        .filter(org.apache.spark.sql.functions.col("a") <
          org.apache.spark.sql.functions.col("b")).count()
    def found(asg: org.apache.spark.sql.DataFrame) =
      Ann.semanticPairs(asg, 0.4).distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val s1 = Ann.assignBucketsSpill(corpus, cents, 1)
    val s2 = Ann.assignBucketsSpill(corpus, cents, 2)
    val ad = Ann.adaptiveSpillAssignments(corpus, cents,
      spillMax = 3, budgetFrac = 0.5)
    val truth = Ann.embeddingNearDup(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (c2, cAd) = (candPairs(s2), candPairs(ad))
    val (f1, f2, fAd) = (found(s1), found(s2), found(ad))
    assert(fAd.subsetOf(truth) && f2.subsetOf(truth),
      "bucket-local pairs are a subset of the exact pair graph by construction")
    assert(cAd <= c2,
      s"adaptive candidate budget $cAd must be within spill=2's $c2")
    assert(fAd.size > f1.size,
      s"adaptive ${fAd.size} must beat spill=1's ${f1.size} pairs")
    assert(4 * fAd.size >= 3 * f2.size,
      s"adaptive ${fAd.size} must keep >= 3/4 of spill=2's ${f2.size} pairs")
    info(s"pairs: truth ${truth.size}; spill1 ${f1.size}, " +
      s"spill2 ${f2.size} ($c2 cand), adaptive ${fAd.size} ($cAd cand)")
  }

  test("committed hyperplane fixture replays the seeded LSH exactly") {
    // the dedup_embedding_lsh oracle replays signatures from the parquet
    // planes; this pins the fixture ≡ the seeded generator (parquet
    // round-trips IEEE doubles exactly), so the shipped query and the
    // in-code default stay one algorithm
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val loaded = Ann.loadPlanes(spark, SparkEntry.AnnIndexFixture)
    val seeded = Ann.lshPlanes(16, 64, 7L)
    assert(loaded.length == seeded.length)
    assert(loaded.zip(seeded).forall { case (a, b) => a.sameElements(b) },
      "fixture planes must be bit-identical to the seeded generator")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(Ann.embeddingNearDupLshWithPlanes(emb, loaded, 0.4)) ==
      rows(Ann.embeddingNearDupLsh(emb, 0.4)))
  }

  test("persisted IVF index answers identically to the inline path, reading only probed buckets") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Ann.buildIvfIndex(emb, path)
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
    val fromIndex = Ann.ivfTopKFromIndex(spark, path, queries, k = 5)
    val inline = Ann.ivfTopK(emb, 10, 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos"), r.getAs[Int]("rk"))).toSet
    assert(rows(fromIndex) == rows(inline),
      "same centroids + same scoring must answer identically from disk")
    // the probed-bucket IN list must reach the scan as a partition filter —
    // unprobed inverted lists are pruned, never read
    val scan = fromIndex.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("bucket"),
      s"postings scan must prune on the bucket partition column:\n$scan")
  }

  test("sf0.1 gate: hyperplane-LSH near-dup recall vs exact pairs") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Ann.embeddingNearDup(emb, 0.4))
    val lsh = pairs(Ann.embeddingNearDupLsh(emb, 0.4))
    assert(exact.size > 500, s"fixture must contain near-dup pairs, got ${exact.size}")
    assert(lsh.subsetOf(exact), "exact refine must eliminate false positives")
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    info(s"sf0.1 embedding-LSH: recall=$recall (exact=${exact.size}, found=${lsh.size})")
    // the gate measures the regime the SHIPPED query runs (cos >= 0.4,
    // SparkEntry "dedup_embedding_lsh"): 1-bit multi-probe lifts the
    // per-band collision probability enough that the loose regime clears
    // 0.9 too (theory ~0.95 at exactly cos=0.4; pairs above threshold sit
    // higher still)
    assert(recall >= 0.9, s"embedding-LSH recall $recall below 0.9 at the shipped threshold")
  }

  test("embedding near-dup join is symmetric-free and thresholded") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.999f, 0.01f), 0),
      (2L, Array(0.0f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Ann.embeddingNearDup(vecs, 0.95).collect()
    assert(out.length == 1)
    assert((out.head.getAs[Long]("vec_a"), out.head.getAs[Long]("vec_b")) == (0L, 1L))
  }
}
