package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Layout

/** Scale probe behind the BASELINE.md "z-order layout" row: measures
  * parquet row-group skipping (scan-node numOutputRows after execution)
  * for selective predicates over a z-ordered vs linearly-sorted copy of a
  * generated 2-D table. Run: `sbt "runMain graft.LayoutProbe"`
  * (LAYOUT_PROBE_N rows, default 20M; LAYOUT_PROBE_FILES files, default
  * 256 — at 100 TB the analog granularity is row groups within files,
  * which parquet stats prune identically).
  */
object LayoutProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session(32)
    val n = sys.env.getOrElse("LAYOUT_PROBE_N", "20000000").toLong
    val files = sys.env.getOrElse("LAYOUT_PROBE_FILES", "256").toInt
    val base = "/tmp/layout_probe"

    // two independent uniform dimensions — the honest case for z-order
    // (correlated dimensions only make skipping easier)
    val df = spark.range(n).select(
      col("id"),
      (pmod(xxhash64(lit("x"), col("id")), lit(100000L))).as("x"),
      (pmod(xxhash64(lit("y"), col("id")), lit(100000L)).cast("double")).as("y"))

    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[layout-probe] $name%-34s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    time(s"z-order write ${n / 1000000}M x $files files") {
      Layout.zorderWrite(df, s"$base/z", Seq("x", "y"), files)
    }
    time(s"linear write ${n / 1000000}M x $files files") {
      Layout.linearWrite(df, s"$base/lin", Seq("x", "y"), files)
    }

    def scanned(path: String, pred: org.apache.spark.sql.Column): Long = {
      val q = spark.read.parquet(path).filter(pred)
      q.queryExecution.toRdd.count()
      val p = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.metrics("numOutputRows").value
    }
    // 1% band on each dimension
    val px = col("x").between(40000L, 41000L)
    val py = col("y").between(40000.0, 41000.0)
    for ((label, pred) <- Seq(
        ("x-only 1% band", px), ("y-only 1% band", py), ("x AND y", px && py))) {
      val z = scanned(s"$base/z", pred)
      val lin = scanned(s"$base/lin", pred)
      println(f"[layout-probe] $label%-16s z-scan ${z * 100.0 / n}%6.2f%%   " +
        f"linear-scan ${lin * 100.0 / n}%6.2f%% of $n rows")
    }
    spark.stop()
  }
}
