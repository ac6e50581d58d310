package graft

import org.apache.spark.sql.functions._

import graft.operators.Ann

/** Dev sweep for the adaptive-spill operating point: candidate-pair
  * budget (the Σnᵢ² kernel cost) and true-pair recall vs fixed spill=2,
  * across (spillMax, budgetFrac). `sbt "Test/runMain graft.AdaptiveSpillSweep"`.
  */
object AdaptiveSpillSweep {
  def main(args: Array[String]): Unit = {
    val spark = TestSpark.spark
    spark.sparkContext.setLogLevel("WARN")
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val emb = graft.sources.Tables.embeddings(spark, s"/root/testdata/$sf")
      val cents = Ann.loadCentroids(spark, SparkEntry.AnnIndexFixture)
      val corpus = Ann.emb(emb)
      val truth = Ann.embeddingNearDup(emb, 0.4).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def stats(asg: org.apache.spark.sql.DataFrame): (Long, Long, Int) = {
        val rows = asg.count()
        val cand = asg.select(col("bucket"), col("vec_id").as("a"))
          .join(asg.select(col("bucket"), col("vec_id").as("b")), Seq("bucket"))
          .filter(col("a") < col("b")).count()
        val found = Ann.semanticPairs(asg, 0.4).distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        (rows, cand, found.size)
      }
      val (r1, c1, f1) = stats(Ann.assignBucketsSpill(corpus, cents, 1))
      val (r2, c2, f2) = stats(Ann.assignBucketsSpill(corpus, cents, 2))
      println(s"[sweep] $sf truth=${truth.size} spill1: rows=$r1 cand=$c1 found=$f1")
      println(s"[sweep] $sf truth=${truth.size} spill2: rows=$r2 cand=$c2 found=$f2")
      for (sm <- Seq(3, 4); bf <- Seq(0.5, 0.6, 0.7, 0.8, 0.9)) {
        val (r, c, f) = stats(Ann.adaptiveSpillAssignments(corpus, cents, sm, bf))
        val ok = c <= c2 && f >= f2
        println(s"[sweep] $sf adaptive(sm=$sm, bf=$bf): rows=$r cand=$c found=$f ${if (ok) "<< MEETS GATE" else ""}")
      }
    }
    spark.stop()
  }
}
