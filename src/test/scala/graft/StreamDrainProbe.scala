package graft

/** Dev probe: times the heaviest streaming-drain queries at sf0.1 under
  * different `spark.sql.shuffle.partitions` (= state-store partition
  * count) — each stateful drain pays per-partition state-store files per
  * micro-batch, so oversized partition counts tax the fixed overhead.
  * Run: `GRAFT_DRAIN_PARTS=32,8 sbt "Test/runMain graft.StreamDrainProbe"`.
  */
object StreamDrainProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session(32)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val parts = sys.env.getOrElse("GRAFT_DRAIN_PARTS", "32,8")
      .split(",").toSeq.map(_.trim)
    val names = Seq("stream_stream_join", "stream_stream_join_outer",
      "stream_sessions", "stream_dedup", "stream_daily_counts")
    for (p <- parts; name <- names) {
      spark.conf.set("spark.sql.shuffle.partitions", p)
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[drain-probe] parts=$p%-3s $name%-26s min ${runs.min}%.2f s  runs ${runs.map(r => f"$r%.2f").mkString(",")}")
    }
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.stop()
  }
}
