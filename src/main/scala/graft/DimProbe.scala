package graft

import org.apache.spark.sql.functions._

import graft.operators.Dims

/** Scale probe behind the BASELINE.md "incremental dims" row: measures the
  * mergeable dim forms (`Dims.mergeDimUser`) against the full rebuild they
  * replace, across fact sizes at constant delta. The claim under test: the
  * full rebuild is O(fact) per refresh cycle, the merge is O(dim + delta)
  * — flat as the fact grows. Run: `sbt "runMain graft.DimProbe"`
  * (DIM_PROBE_N base rows, default 10M then 10x that; 100k users; 10k-row
  * delta).
  */
object DimProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session(32)
    val n = sys.env.getOrElse("DIM_PROBE_N", "10000000").toLong
    val users = 100000L
    val base = "/tmp/dim_probe"

    def events(rows: Long, firstId: Long) = spark.range(rows).select(
      (col("id") + firstId).as("event_id"),
      timestamp_seconds(lit(1704067200L) + pmod(col("id") * 37, lit(86400L * 30))).as("ts"),
      pmod(xxhash64(col("id")), lit(users)).as("user_id"),
      element_at(array(lit("click"), lit("view"), lit("purchase")),
        pmod(col("id"), lit(3)).cast("int") + 1).as("event_type"))

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val rows = f
      println(f"[dim-probe] $name%-40s ${(System.nanoTime() - t0) / 1e9}%6.2f s  ($rows rows)")
    }

    for (mult <- Seq(1L, 10L)) {
      val rows = n * mult
      val factPath = s"$base/fact_${mult}x"
      val dimPath = s"$base/dim_${mult}x"
      events(rows, 0).write.mode("overwrite").parquet(factPath)
      val fact = spark.read.parquet(factPath)
      time(s"full dimUser rebuild over ${rows / 1000000}M fact") {
        val d = Dims.dimUser(fact)
        d.write.mode("overwrite").parquet(dimPath); spark.read.parquet(dimPath).count()
      }
      val delta = events(10000, rows) // 10k genuinely new events
      time(s"mergeDimUser: 10k delta into ${rows / 1000000}M-fact dim") {
        val merged = Dims.mergeDimUser(spark.read.parquet(dimPath), delta)
        merged.write.mode("overwrite").parquet(s"$dimPath.merged")
        spark.read.parquet(s"$dimPath.merged").count()
      }
    }
    spark.stop()
  }
}
