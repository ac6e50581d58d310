package graft

/** CLI entry for the training-data curation pipeline:
  * `runMain graft.RunCuration <srcDir> <outDir>`.
  */
object RunCuration {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir) = args
    val spark = Session()
    graft.pipeline.Curation.run(spark, srcDir, outDir).foreach { s =>
      println(f"[curation] ${s.stage}%-16s docs=${s.docs}")
    }
    spark.read.parquet(s"$outDir/corpus_summary").show(20, truncate = false)
    spark.stop()
  }
}
