package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Optimization evidence dumper: `explain("formatted")` for the named
  * queries into `plans/<dir>/<query>_<suffix>.txt`, under the SAME session
  * configuration as [[Bench]] (master/shuffle partitions from
  * `SPARK_GRAFT_CPUS`) so the dumped plans are the plans the bench actually
  * runs. Each query is materialized through the noop SINK first — the
  * bench's own action (a `toRdd.count()` would plan a different,
  * RDD-conversion query) — and that same DataFrame's QueryExecution is
  * dumped, so adaptive plans are FINAL (isFinalPlan=true: runtime
  * broadcast choices, AQEShuffleRead coalescing).
  *
  * Usage: runMain graft.PlanDumpR21 <before|after> <q1>[,<q2>...] [dir]
  * (dir defaults to r21; `r20` writes the round-20 evidence files under
  * `plans/r20/`)
  */
object PlanDumpR21 {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDumpR21 <suffix> <q1,q2,...> [dir]")
    val suffix = args(0)
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length >= 3) args(2) else "r21"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.sources.Tables.NanosAsLongConf, "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val outDir = Paths.get(s"plans/$dir")
    Files.createDirectories(outDir)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"[plandump-r21] wrote plans/$dir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
