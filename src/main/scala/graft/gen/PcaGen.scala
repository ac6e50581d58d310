package graft.gen

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col

import graft.operators.Pca

/** Writes the committed PCA rotation fixture (`fixtures/pca`) — the same
  * committed-model device as [[AnnIndexGen]]: the rotation is trained ONCE
  * on the sf0.01 embedding corpus (deterministic moments + cyclic Jacobi,
  * sign-pinned eigenvectors) and frozen as parquet, so the projection
  * query is exactly replayable by DuckDB (`list_inner_product(emb, w) −
  * mu_dot_w` — the centering constant is precomputed here to keep the
  * float op order identical cross-engine).
  *
  * Layout:
  *  - `components`: comp INT, w ARRAY<DOUBLE>[dim], mu_dot_w DOUBLE,
  *    eigenvalue DOUBLE (rows 0..k−1, eigenvalue-descending)
  *  - `mean`: j INT, mu DOUBLE (for reconstruction / whitening tests)
  */
object PcaGen {
  val K = 8
  val MReduced = 4
  val KsubReduced = 256

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.drop(1).headOption.getOrElse("fixtures/pca")
    val spark = graft.Session(8)
    import spark.implicits._

    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val model = Pca.trainPca(corpus, K)
    val muDots = model.muDots
    model.components.zipWithIndex.map { case (w, c) =>
      (c, w.toSeq, muDots(c), model.eigenvalues(c))
    }.toSeq.toDF("comp", "w", "mu_dot_w", "eigenvalue")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$out/components")
    model.mean.zipWithIndex.map { case (m, j) => (j, m) }.toSeq
      .toDF("j", "mu")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$out/mean")
    // the reduced-space coarse quantizer (same nlist/Lloyd discipline as
    // AnnIndexGen): trained on the PCA-projected corpus so IVF assignment
    // and probing run entirely in the k-dim space (operators.Pca.ivfPcaTopK)
    val proj = corpus.select(col("vec_id"),
      graft.functions.expr.VectorExpressions.pcaProject(
        col("emb"), model.components, muDots).as("emb"))
    val rcents = graft.operators.Ann.trainCentroids(proj,
      AnnIndexGen.NumCentroids, AnnIndexGen.LloydIters)
    rcents.toSeq.map { case (id, e) => (id, e.toSeq) }.toDF("c_id", "c_p")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/centroids_reduced")
    // PQ codebooks trained IN the reduced space (the last composition of
    // the committed-model family: PCA rotation → reduced coarse quantizer
    // → reduced-subspace codebooks). m=4 over k=8 dims keeps dsub=2, and
    // ksub=256 (8-bit codes, 4 bytes/vector — 16× vs the 8-double
    // projections) is REQUIRED here: after the PCA bottleneck the
    // between-neighbor cosine gaps are already thin, so coarse 2-dim
    // codebooks (ksub=16 measured recall 0.54) lose true neighbors the
    // refine·k re-rank never sees; 256 codewords per 2-dim subspace make
    // ADC error negligible relative to the reduced-space gaps.
    val rpq = graft.operators.Ann.trainPq(proj, MReduced, KsubReduced)
    rpq.codebooks.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (cw, code) => (sub, code, cw.toSeq) }
    }.toSeq.toDF("sub", "code", "cw")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/codebooks_reduced")
    println(s"[pca] k=$K dim=${model.mean.length} " +
      s"reduced_centroids=${rcents.length} " +
      s"reduced_codebooks=${rpq.codebooks.map(_.length).mkString(",")} " +
      s"eigenvalues=${model.eigenvalues.map(v => f"$v%.4f").mkString(",")}")
    spark.stop()
  }
}
