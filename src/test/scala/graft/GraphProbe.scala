package graft

/** Checkpoint-cadence probe for Graph.pageRank (BASELINE.md note): measures
  * the sf0.1 purchase-graph ranking at several lineage-cut intervals.
  * `sbt "Test/runMain graft.GraphProbe"`.
  */
object GraphProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session(32)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val edges = graft.operators.Graph.purchaseEdges(spark, dir)
      .localCheckpoint(true)
    for (every <- Seq(1, 2, 5, 10); pass <- 1 to 2) {
      val t0 = System.nanoTime()
      val n = graft.operators.Graph.pageRank(edges, 10, every).count()
      println(f"[graph-probe] checkpointEvery=$every pass=$pass rows=$n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
