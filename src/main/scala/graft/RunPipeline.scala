package graft

/** CLI entry for the dependency-ordered pipeline build:
  * `runMain graft.RunPipeline <srcDir> <outDir>` — lands events, builds the
  * deduped fact, dimensions, partitioned star, registers monitoring views,
  * and prints per-stage row counts.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir) = args
    val spark = Session(conf = Seq("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    graft.pipeline.Pipeline.run(spark, srcDir, outDir).foreach { s =>
      println(f"[pipeline] ${s.stage}%-20s rows=${s.rows}%-8d ${s.path}")
    }
    spark.stop()
  }
}
