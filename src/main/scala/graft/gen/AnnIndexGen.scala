package graft.gen

import org.apache.spark.sql.SaveMode

import graft.operators.Ann

/** Deterministic ANN quantizer fixture: the coarse IVF centroids and PQ
  * codebooks trained ONCE on the sf0.01 embedding corpus and committed as
  * parquet, the production shape — a vector index's quantizer is trained on
  * a bounded sample and then reused across the (much larger, growing)
  * corpus, never retrained per query.
  *
  * Committing the trained model is what makes `ann_ivf_topk` /
  * `ann_ivfpq_topk` exactly oracle-able: given fixed centroids/codebooks,
  * bucket assignment, probe selection, ADC scoring, and the exact re-rank
  * are all deterministic arithmetic DuckDB can replay from the same parquet
  * (the `dedup_minhash` pattern — candidate generation verified exactly, not
  * just property-gated).
  *
  * Run: `sbt "runMain graft.gen.AnnIndexGen /root/testdata/sf0.01 fixtures/annidx"`
  * (idempotent: seeded training on a fixed corpus).
  */
object AnnIndexGen {
  val NumCentroids = 10
  val LloydIters = 4
  val M = 8
  val Ksub = 256

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.drop(1).headOption.getOrElse("fixtures/annidx")
    val spark = graft.Session(8)
    import spark.implicits._

    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>").as("emb"))
    val cents = Ann.trainCentroids(corpus, NumCentroids, LloydIters)
    cents.toSeq.map { case (id, e) => (id, e.toSeq) }
      .toDF("c_id", "c_emb")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$out/centroids")
    val pq = Ann.trainPq(corpus, M, Ksub)
    pq.codebooks.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (cw, code) => (sub, code, cw.toSeq) }
    }.toSeq.toDF("sub", "code", "cw")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$out/codebooks")
    // the LSH hyperplanes are data-independent (seeded Gaussians) but belong
    // in the same committed fixture: the near-dup oracle replays the
    // signature/band/multi-probe pipeline from this parquet, bit-for-bit
    val planes = Ann.lshPlanes(bits = 16, dim = 64, seed = 7L)
    planes.zipWithIndex.map { case (p, i) => (i, p.toSeq) }
      .toSeq.toDF("p_id", "p_vec")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$out/planes")
    println(s"[annidx] centroids=${cents.length} codebooks=${pq.codebooks.map(_.length).mkString(",")} planes=${planes.length}")
    spark.stop()
  }
}
