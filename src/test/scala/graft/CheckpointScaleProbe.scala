package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.Upsert
import graft.streaming.VersionedCommitter

/** Scale probe behind the BASELINE.md "manifest checkpointing" row: with
  * per-file stats paged into per-partition sidecars, the MANIFEST the
  * committer renders per flip must stay O(#partitions) — flat in file
  * count — and a single-partition commit against a many-thousand-file
  * table must cost the same as against a small one (the flip re-renders
  * the manifest, never the sidecars of untouched partitions). The legacy
  * inline `__frange` encoding is measured alongside for the counterfactual.
  * `sbt "Test/runMain graft.CheckpointScaleProbe"`.
  */
object CheckpointScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session(32)
    import spark.implicits._

    def build(filesPerPart: Int, parts: Int): (String, VersionedCommitter) = {
      val path = Files.createTempDirectory("graft-ckpt-probe").toString + "/t"
      val c = new VersionedCommitter
      Upsert.enableRangeStats(path, Seq("v"), c)
      val rows = 100L * filesPerPart * parts
      Upsert.replacePartitionsAtomic(spark,
        spark.range(rows).select(col("id").as("v"),
            (col("id") % parts).cast("string").as("p"))
          .repartitionByRange(filesPerPart * parts, col("p"), col("v")),
        path, "p", (0 until parts).map(_.toString), committer = c)
      (path, c)
    }

    for (filesPerPart <- Seq(100, 1000, 2500)) {
      val parts = 4
      val t0 = System.nanoTime()
      val (path, c) = build(filesPerPart, parts)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val m = c.readManifest(path)
      val manifestEntries = m.size
      val manifestBytes = m.map { case (k, v) => k.length + v.length + 2 }.sum
      val sidecarBytes = (0 until parts).map { p =>
        new java.io.File(s"$path/${m(s"__fstats.$p")}").length()
      }.sum
      val nFiles = (0 until parts)
        .map(p => Upsert.fileStatsOf(path, m, p.toString).size).sum
      // one-partition commit against the big table: the flip cost
      val t1 = System.nanoTime()
      Upsert.upsertPartitionsAtomic(spark,
        Seq((-1L, "0")).toDF("v", "p"), path, "p",
        keys = Seq("v"), order = Seq("v"), committer = c)
      val flipSec = (System.nanoTime() - t1) / 1e9
      println(f"[ckpt-probe] files=$nFiles%6d manifest_entries=$manifestEntries%4d " +
        f"manifest_bytes=$manifestBytes%7d sidecar_bytes=$sidecarBytes%9d " +
        f"build=$buildSec%7.1fs one_part_commit=$flipSec%6.2fs " +
        f"legacy_manifest_bytes_would_be=${manifestBytes + sidecarBytes}%9d")
    }
    spark.stop()
  }
}
