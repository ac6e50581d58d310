package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic run-log fixture generator — the engine's stand-in for the
  * reference's log-sink export tables (operator S8; reference
  * README.md:706-721): nested RECORD fields
  * (`resource.labels.job_id`, `httpRequest.status`,
  * monitoring/scheduler_executions_results_vw.sql:4-7), string-typed
  * statuses including unparsable values (exercises SAFE_CAST → try_cast),
  * and a `day_partition` column standing in for `_TABLE_SUFFIX` date
  * sharding (results_vw.sql:10-11).
  */
object RunLogGen {

  /** `n` log rows across `jobs` jobs, one execution every 10 minutes
    * starting at `startEpochSec`. ~1/13 rows carry an unparsable status
    * (client-abort style), matching the fixture spec in FIXTURES.md §A.
    */
  def runLog(spark: SparkSession, n: Long, startEpochSec: Long, jobs: Int = 3): DataFrame =
    spark.range(n).select(
      timestamp_seconds(lit(startEpochSec) + col("id") * 600).as("timestamp"),
      struct(struct(
        concat(lit("job-"), pmod(col("id"), lit(jobs))).as("job_id")).as("labels"))
        .as("resource"),
      struct(
        when(pmod(col("id"), lit(13)) === 0, lit("client-abort"))
          .when(pmod(col("id"), lit(7)) === 0, lit("500"))
          .otherwise(lit("200")).as("status"),
        concat(lit("https://svc.example/run/"), col("id")).as("requestUrl"))
        .as("httpRequest"),
      when(pmod(col("id"), lit(7)) === 0, lit("ERROR")).otherwise(lit("INFO"))
        .as("severity"),
      date_format(timestamp_seconds(lit(startEpochSec) + col("id") * 600), "yyyyMMdd")
        .as("day_partition"))

  /** Writes the committed run-log fixture (fixtures/runlog/run_log):
    * 12 days from 2024-01-01 UTC, `day_partition=`-sharded parquet — the
    * on-disk shape the reference's log sink exports (date-suffixed tables,
    * README.md:706-721). The S6 queries read it with an explicit schema so
    * the shard id stays a string, and their `>= today-7d` cutoff becomes a
    * Catalyst PartitionFilter over these directories.
    */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/runlog")
    val spark = graft.Session(4)
    runLog(spark, 12 * 144, 1704067200L)
      .repartition(1)
      .write.mode("overwrite").partitionBy("day_partition")
      .parquet(s"$out/run_log")
    println(s"[runlog-gen] wrote ${12 * 144} rows to $out/run_log")
    spark.stop()
  }
}
