package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Maintenance, Upsert}
import graft.streaming.AtomicRenameCommitter

/** Manifest-level zone maps: per-partition [min,max] ranges committed with
  * the data let a range-filtered read skip partitions without listing or
  * opening them; missing stats never wrongly skip; rewrites recompute;
  * compaction preserves entries verbatim (content unchanged).
  */
class ZoneMapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df(t: (String, Long, Long)*) =
    t.map { case (d, i, v) => (d, i, v) }.toDF("day", "id", "version")

  private def rows(d: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
    d.selectExpr("day", "id", "version").as[(String, Long, Long)].collect().toSet

  test("range-pruned reads skip non-intersecting partitions; exact filter still applies on top") {
    val path = Files.createTempDirectory("graft-zm").toString + "/t"
    Upsert.enableRangeStats(path, Seq("version"))
    Upsert.replacePartitionsAtomic(spark,
      df(("d1", 1L, 5L), ("d1", 2L, 10L), ("d2", 3L, 100L), ("d2", 4L, 110L),
        ("d3", 5L, 200L), ("d3", 6L, 210L)),
      path, "day", Seq("d1", "d2", "d3"))

    val m = AtomicRenameCommitter.readManifest(path)
    assert(Upsert.rangeOf(m, "d2", "version").contains((100.0, 110.0)))
    // the filtered read scans d2's files only...
    val q = Upsert.readTable(spark, path).filter(col("version").between(100L, 150L))
    assert(rows(q) == Set(("d2", 3L, 100L), ("d2", 4L, 110L)))
    assert(TestSpark.scannedFiles(q) == TestSpark.filesOf(path, "d2"))
    // ...and the empty-intersection read scans nothing, schema intact
    val none = Upsert.readTable(spark, path).filter(col("version").between(1000L, 2000L))
    assert(none.count() == 0 && none.columns.contains("version"))
    assert(TestSpark.scannedFiles(none) == 0L)
  }

  test("partitions without recorded stats are always read (never wrongly skipped)") {
    val path = Files.createTempDirectory("graft-zm").toString + "/t"
    // d9 committed BEFORE stats were enabled → no zone map for it
    Upsert.replacePartitionsAtomic(spark, df(("d9", 9L, 900L)), path, "day", Seq("d9"))
    Upsert.enableRangeStats(path, Seq("version"))
    Upsert.replacePartitionsAtomic(spark, df(("d1", 1L, 5L)), path, "day", Seq("d1"))

    val m = AtomicRenameCommitter.readManifest(path)
    assert(Upsert.rangeOf(m, "d9", "version").isEmpty)
    // pruning to d1's range keeps stat-less d9 (superset contract)
    val q = Upsert.readTable(spark, path).filter(col("version").between(0L, 10L))
    assert(rows(q) == Set(("d1", 1L, 5L)))
    assert(TestSpark.scannedFiles(q) == TestSpark.filesOf(path, "d1", "d9"))
  }

  test("rewrites recompute the zone map; compaction preserves it; a dropped partition loses it") {
    val path = Files.createTempDirectory("graft-zm").toString + "/t"
    Upsert.enableRangeStats(path, Seq("version"))
    Upsert.replacePartitionsAtomic(spark,
      df(("d1", 1L, 5L), ("d2", 3L, 100L)).repartition(4), path, "day", Seq("d1", "d2"))

    // an update shifts d2's range; the committed stats must follow
    Upsert.updateWhere(spark, path, "day", col("version") === 100L,
      Map("version" -> org.apache.spark.sql.functions.lit(700L)))
    val m1 = AtomicRenameCommitter.readManifest(path)
    assert(Upsert.rangeOf(m1, "d2", "version").contains((700.0, 700.0)))

    // compaction rewrites files but not content — entries stay valid
    Maintenance.compact(spark, path)
    val m2 = AtomicRenameCommitter.readManifest(path)
    assert(Upsert.rangeOf(m2, "d2", "version").contains((700.0, 700.0)))
    val q = Upsert.readTable(spark, path).filter(col("version").between(600L, 800L))
    assert(rows(q) == Set(("d2", 3L, 700L)))
    assert(TestSpark.scannedFiles(q) == TestSpark.filesOf(path, "d2"))

    // deleting all of d2 drops both its data entry and its zone map
    Upsert.deleteWhere(spark, path, "day", col("version") === 700L)
    val m3 = AtomicRenameCommitter.readManifest(path)
    assert(!m3.contains("d2") && Upsert.rangeOf(m3, "d2", "version").isEmpty)
  }
}
