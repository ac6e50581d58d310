package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic vitals generator — the engine's stand-in for the
  * reference's row-at-a-time FHIR-ish ingest service (operator S7/G1;
  * reference fastapi-ingest/_endpoint.py:12-34: uuid4 event ids, patients
  * uniform over {P001,P002,P003}, constant LOINC 8867-4 "Heart rate",
  * value uniform(60,100) rounded to 1 decimal, unit "beats/min", source
  * "synthetic", JSON note payload, server-side timestamps).
  *
  * Distributed + reproducible: built on spark.range (parallel, no driver
  * loop) with every random field derived by hashing the row number — NOT
  * `rand(seed)`, whose stream is re-seeded per partition and therefore
  * changes with the cluster's parallelism. Content-hash derivation makes
  * the generated rows a pure function of (id, seed): any partition count,
  * any executor count, any cluster regenerates bit-identical data, and the
  * committed snapshot at `fixtures/vitalsgen` pins that claim as a driver
  * CORRECTNESS row (`gen_vitals_replay`).
  */
object VitalsGen {

  /** Uniform value in [0, mod) as a pure function of (field tag, id, seed). */
  private def hashUniform(tag: String, seed: Long, mod: Int) =
    pmod(xxhash64(lit(tag), col("id"), lit(seed)), lit(mod.toLong))

  /** `n` events, one per minute starting at `startEpochSec`.
    *
    * `slices` > 0 forces an explicit spark.range partition count — only
    * used by tests proving the output is partition-count-invariant; the
    * default keeps the session's parallelism.
    */
  def vitals(spark: SparkSession, n: Long, startEpochSec: Long, seed: Long = 42L,
             slices: Int = 0): DataFrame = {
    val base = if (slices > 0) spark.range(0, n, 1, slices) else spark.range(n)
    base.select(
      // uuid4-shaped deterministic id from the row number (md5 → 8-4-4-4-12)
      concat_ws("-",
        substring(md5(concat(lit("evt"), col("id"))), 1, 8),
        substring(md5(concat(lit("evt"), col("id"))), 9, 4),
        substring(md5(concat(lit("evt"), col("id"))), 13, 4),
        substring(md5(concat(lit("evt"), col("id"))), 17, 4),
        substring(md5(concat(lit("evt"), col("id"))), 21, 12)).as("event_id"),
      element_at(
        array(lit("P001"), lit("P002"), lit("P003")),
        hashUniform("pat", seed, 3).cast("int") + 1).as("patient_id"),
      lit("8867-4").as("loinc_code"),
      lit("Heart rate").as("code_display"),
      // uniform over {60.0, 60.1, …, 100.0}: integer deci-units first so the
      // one-decimal contract is exact by construction, not by round()
      (hashUniform("val", seed, 401).cast("double") / 10.0 + 60.0).as("value_num"),
      lit("beats/min").as("unit"),
      timestamp_seconds(lit(startEpochSec) + col("id") * 60).as("effective_ts"),
      lit("synthetic").as("source"),
      to_json(struct(lit("fastapi demo").as("note"))).as("raw"))
  }

  /** One replication batch (operator S1): the windowed extract
    * `effective_ts >= hi - lookback` stamped with a load-time `created_at`
    * (the dedup tiebreaker, reference sql/postgres_ddl.sql:11). Overlapping
    * lookbacks across consecutive batches produce the duplicate rows the
    * W1 dedup must repair (reference README.md:364,382).
    */
  def extractBatch(oltp: DataFrame, hiEpochSec: Long, lookbackMinutes: Int): DataFrame =
    oltp
      .filter(col("effective_ts") >= timestamp_seconds(lit(hiEpochSec - lookbackMinutes * 60L)) &&
        col("effective_ts") < timestamp_seconds(lit(hiEpochSec)))
      .withColumn("created_at", timestamp_seconds(lit(hiEpochSec)))

  /** The committed determinism snapshot (fixtures/vitalsgen/vitals): two
    * days at one event/minute from 2024-01-01 UTC. `gen_vitals_replay`
    * regenerates this slice in-session and hash-compares against the
    * DuckDB read of these files, so any generator drift — an edited
    * formula, a Spark hash-function change, partition-dependent output —
    * fails a named CORRECTNESS row instead of silently shifting every
    * downstream test that builds on generated data.
    */
  val FixtureRows = 2880L
  val FixtureStartEpochSec = 1704067200L

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/vitalsgen")
    val spark = graft.Session(4)
    vitals(spark, FixtureRows, FixtureStartEpochSec)
      .repartition(1).sortWithinPartitions("effective_ts")
      .write.mode("overwrite").parquet(s"$out/vitals")
    println(s"[vitals-gen] wrote $FixtureRows rows to $out/vitals")
    spark.stop()
  }
}
