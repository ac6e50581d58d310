package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog of the fixture warehouse (`/root/testdata/sf*`; see TESTDATA.md /
  * FIXTURES.md). Explicit, engine-owned normalization happens here so every
  * operator downstream sees stable µs-precision timestamps and pruned scans.
  *
  * Design (SURVEY.md §1.2): schemas are declared/normalized at the source
  * boundary — never inferred mid-pipeline. The reference declares its OLTP
  * schema in DDL (reference sql/postgres_ddl.sql:1-12) and derives OLAP
  * schemas from queries; we mirror that: parquet footers carry the physical
  * schema, this object owns the logical normalization.
  */
object Tables {

  /** `events.ts` has shifted physical type across fixture generations:
    * timestamp[ns] (read as raw nanos via `spark.sql.legacy.parquet
    * .nanosAsLong`, truncated to µs here) and timestamp[µs]
    * isAdjustedToUTC=0 (read as TimestampNTZType by Spark's reader since
    * `spark.sql.parquet.inferTimestampNTZ` defaults true). Both are
    * normalized to the session-local TimestampType — [[graft.Session]]
    * pins the session timezone to UTC, so NTZ→LTZ names the same instant
    * DuckDB computes for the oracle. The normalized type
    * is asserted so a future fixture re-type fails loudly HERE, not 16
    * queries downstream.
    */
  val NanosAsLongConf = "spark.sql.legacy.parquet.nanosAsLong"

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Analyze-once relation cache, keyed by (session identity, path, reader
    * conf that changes the physical schema). A DataFrame is an immutable
    * plan, so handing the same instance to every query is safe — and it
    * skips the per-query file listing + parquet footer schema inference
    * that otherwise runs ~100 times per bench/verify pass. Queries are
    * still optimized independently; only the resolved relation (and the
    * events ns→µs normalization subtree) is reused.
    */
  private val relationCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]

  private def raw(spark: SparkSession, dir: String, name: String): DataFrame =
    relationCache.computeIfAbsent((spark, path(dir, name), ""),
      _ => spark.read.parquet(path(dir, name)))

  /** events with `ts` normalized to TimestampType (µs, truncated from ns).
    * Cached per (session, dir, nanosAsLong conf) — the conf changes how the
    * reader types the ns column, so it participates in the key.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // both reader confs change how the physical `ts` column is typed
    // (nanosAsLong: ns→LongType; inferTimestampNTZ: µs-NTZ→TimestampNTZType
    // vs TimestampType), so both participate in the cache key — a session
    // toggling either mid-run must not reuse a plan built under the other
    val conf = spark.conf.get(NanosAsLongConf, "false") + ":" +
      spark.conf.get("spark.sql.parquet.inferTimestampNTZ", "true")
    relationCache.computeIfAbsent((spark, path(dir, "events"), s"events:$conf"), _ => {
      val df = spark.read.parquet(path(dir, "events"))
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      // every arm below returns TimestampType (timestamp_micros, explicit
      // cast, checked passthrough) and the default throws, so no trailing
      // re-check is needed
      df.schema("ts").dataType match {
        case LongType =>
          // integral `div`, not `/`: long/int division goes through double and
          // can be off by one ulp at epoch-µs magnitudes
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          // µs NTZ fixture; session tz is pinned UTC so this cast is lossless
          // and instant-preserving vs the DuckDB oracle
          df.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType => df
        case other =>
          throw new IllegalStateException(
            s"events.ts: unexpected physical/read type $other at ${path(dir, "events")}; " +
              "extend Tables.events normalization for this fixture generation")
      }
    })
  }

  /** Like [[events]]' NTZ arm but for the plain timestamp columns of the
    * TPC-H-ish tables (`l_shipdate`, `o_orderdate`): the current fixture
    * generation writes µs isAdjustedToUTC=0, which Spark reads as
    * TimestampNTZType. Downstream comparisons only behave because every
    * session pins UTC — normalizing to the session TimestampType at the
    * boundary (lossless, instant-preserving under that pin) removes the
    * NTZ/LTZ asymmetry with `events.ts` and keeps FixtureSchemaSpec's pin
    * stable across fixture generations.
    */
  private def tsNormalized(spark: SparkSession, dir: String, name: String): DataFrame = {
    val conf = spark.conf.get("spark.sql.parquet.inferTimestampNTZ", "true")
    relationCache.computeIfAbsent((spark, path(dir, name), s"tsnorm:$conf"), _ => {
      import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
      val df = spark.read.parquet(path(dir, name))
      df.schema.fields.foldLeft(df) { (d, f) =>
        f.dataType match {
          case TimestampNTZType => d.withColumn(f.name, col(f.name).cast(TimestampType))
          case _ => d
        }
      }
    })
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = tsNormalized(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = tsNormalized(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = raw(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = raw(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = raw(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = raw(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = raw(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = raw(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = raw(spark, dir, "embeddings")
}
