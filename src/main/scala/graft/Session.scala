package graft

import org.apache.spark.sql.SparkSession

import graft.sources.Tables

/** The one place a SparkSession is built. Every session the engine runs
  * under gets the same fixed semantics — the reference's warehouse runs in
  * UTC, so this one does too:
  *  - master `local[cpus]` and `cpus` shuffle partitions;
  *  - session timezone UTC (NTZ→LTZ casts name the instant DuckDB computes,
  *    see [[Tables.events]]);
  *  - [[Tables.NanosAsLongConf]] on, so timestamp[ns] parquet reads as
  *    raw nanos that `Tables` truncates to µs;
  *  - `spark.sql.extensions=graft.plans.GraftExtensions`: the optimizer
  *    rules, the lifecycle SQL parser and the native SQL functions install
  *    here, at build, and nowhere else;
  *  - the UI off and the log level at WARN.
  *
  * The only inputs are the CPU count and extra conf pairs for what a caller
  * adds on top (a warehouse dir, test filesystem schemes, µs parquet
  * output). Parquet writes keep Spark's INT96 default, so the fixture
  * generators' files keep their physical timestamp type.
  *
  * `refreshbench.Main.session` builds its own session with this same conf
  * plus its run-dir paths (`spark.local.dir`, `spark.sql.warehouse.dir`),
  * so the benchmark measures the sessions the engine builds.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, default 32: the width of the CLI mains' sessions. */
  val Cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def apply(cpus: Int = Cpus, conf: Seq[(String, String)] = Nil): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosAsLongConf, "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
