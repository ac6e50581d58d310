package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Upsert
import graft.streaming.{AtomicRenameCommitter, VersionedCommitter}
import graft.sources.ManifestTable

/** Column rename without rewrite: physical names freeze at first commit,
  * the manifest's __colmap presents logical names at every read seam and
  * translates back at every write seam. History stays contemporaneous,
  * stats keep pruning, collisions refuse.
  */
class TableRenameSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df(t: (String, Long, Long)*) = t.toSeq.toDF("day", "id", "v")

  test("rename is metadata-only; reads present logical, writes translate back") {
    val path = Files.createTempDirectory("graft-ren").toString + "/t"
    val c = new VersionedCommitter
    Upsert.upsertPartitionsAtomic(spark, df(("d1", 1L, 10L), ("d2", 2L, 20L)),
      path, "day", Seq("id"), Seq("v"), c)

    Upsert.renameColumn(path, "v", "version", c)
    // read: logical name, same values; physical files untouched (v2 of the
    // manifest references the SAME data dirs)
    val t = Upsert.readTable(spark, path, c)
    assert(t.columns.toSeq == Seq("day", "id", "version"))
    assert(t.selectExpr("day", "id", "version").as[(String, Long, Long)]
      .collect().toSet == Set(("d1", 1L, 10L), ("d2", 2L, 20L)))
    assert(c.readManifestAsOf(path, 1L).filterNot(_._1.startsWith("__")) ==
      c.readManifest(path).filterNot(_._1.startsWith("__")),
      "rename must not re-point any data dir")

    // as-of the PRE-rename version: contemporaneous (old) names
    assert(Upsert.readTableAsOf(spark, path, 1L, c).columns.toSeq ==
      Seq("day", "id", "v"))

    // write post-rename using the NEW name: merges with pre-rename data
    Upsert.upsertPartitionsAtomic(spark,
      Seq(("d1", 1L, 11L), ("d3", 3L, 30L)).toDF("day", "id", "version"),
      path, "day", Seq("id"), Seq("version"), c)
    assert(Upsert.readTable(spark, path, c)
      .selectExpr("day", "id", "version").as[(String, Long, Long)]
      .collect().toSet ==
      Set(("d1", 1L, 11L), ("d2", 2L, 20L), ("d3", 3L, 30L)))
    // the files still carry the PHYSICAL name
    val m = c.readManifest(path)
    val rel = m("d3")
    assert(spark.read.parquet(s"$path/$rel").columns.contains("v"))

    // row-level ops speak logical
    Upsert.deleteWhere(spark, path, "day", col("version") === 20L, c)
    assert(Upsert.readTable(spark, path, c).selectExpr("id")
      .as[Long].collect().toSet == Set(1L, 3L))
    Upsert.updateWhere(spark, path, "day", col("id") === 3L,
      Map("version" -> org.apache.spark.sql.functions.lit(99L)), c)
    assert(Upsert.readTable(spark, path, c)
      .filter(col("id") === 3L).selectExpr("version").as[Long].head() == 99L)
  }

  test("stats keep pruning under logical names; indexed reads stay declarative") {
    val path = Files.createTempDirectory("graft-ren").toString + "/t"
    Upsert.enableRangeStats(path, Seq("v"))
    Upsert.enableBloomStats(path, Seq("id"), expectedItemsPerPartition = 1000L)
    Upsert.replacePartitionsAtomic(spark,
      df(("d1", 1L, 5L), ("d2", 2L, 100L), ("d3", 3L, 200L)).coalesce(1),
      path, "day", Seq("d1", "d2", "d3"))
    Upsert.renameColumn(path, "v", "version")
    Upsert.renameColumn(path, "id", "key")

    // filters on LOGICAL column names prune through the physical stats
    val r = Upsert.readTable(spark, path).filter(col("version").between(90, 150))
    assert(r.columns.toSeq == Seq("day", "key", "version"))
    assert(r.selectExpr("key").as[Long].collect().toSet == Set(2L))
    assert(TestSpark.scannedFiles(r) == 1L, "the logical-name range must zone-prune")
    val p = Upsert.readTable(spark, path).filter(col("key") === 3L)
    assert(p.selectExpr("key").as[Long].collect().toSet == Set(3L))
    assert(TestSpark.scannedFiles(p) == 1L, "the logical-name lookup must bloom-prune")

    // declarative: logical filter prunes through to the physical stats
    val t = ManifestTable.readTableIndexed(spark, path)
    assert(t.columns.toSeq == Seq("day", "key", "version"))
    val q = t.filter(col("version").between(90, 150))
    assert(q.selectExpr("key").as[Long].collect().toSet == Set(2L))
    q.collect()
    val files = TestSpark.fileScanNodes(q.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    assert(files == 1L, "the logical-name filter must still zone-prune")
  }

  test("retired physical names are reserved; shadowed names cannot rename") {
    val path = Files.createTempDirectory("graft-ren").toString + "/t"
    Upsert.upsertPartitionsAtomic(spark, df(("d1", 1L, 1L)), path, "day",
      Seq("id"), Seq("v"))
    Upsert.renameColumn(path, "v", "version")

    // a delta re-introducing a column under the RETIRED physical name
    // would silently write into the renamed column's storage — refuse
    val e = intercept[IllegalArgumentException] {
      Upsert.upsertPartitionsAtomic(spark,
        Seq(("d1", 2L, 2L, 99L)).toDF("day", "id", "version", "v"),
        path, "day", Seq("id"), Seq("version"))
    }
    assert(e.getMessage.contains("retired"))

    // renaming BY the shadowed physical name must not resolve to the
    // renamed column
    val e2 = intercept[IllegalArgumentException] {
      Upsert.renameColumn(path, "v", "x")
    }
    assert(e2.getMessage.contains("no column 'v'"))
  }

  test("stats enabled under logical names map to physical declarations") {
    val path = Files.createTempDirectory("graft-ren").toString + "/t"
    Upsert.upsertPartitionsAtomic(spark,
      df(("d1", 1L, 5L), ("d2", 2L, 100L)).coalesce(1), path, "day",
      Seq("id"), Seq("v"))
    Upsert.renameColumn(path, "v", "version")
    // enable AFTER the rename, by the LOGICAL name — declarations must
    // land physical so later staged aggregates and pruned reads agree
    Upsert.enableRangeStats(path, Seq("version"))
    Upsert.enableBloomStats(path, Seq("id"), expectedItemsPerPartition = 100L)
    Upsert.upsertPartitionsAtomic(spark,
      Seq(("d3", 3L, 200L)).toDF("day", "id", "version"), path, "day",
      Seq("id"), Seq("version"))
    // superset contract: pre-enable partitions lack stats and are kept;
    // the exact predicate lands on top (and must find the new partition,
    // proving the post-rename declarations bound the right column)
    val r = Upsert.readTable(spark, path)
      .filter(col("version").between(150, 250))
    assert(r.selectExpr("id").as[Long].collect().toSet == Set(3L))
    val p2 = Upsert.readTable(spark, path)
      .filter(col("id") === 3L)
    assert(p2.selectExpr("id").as[Long].collect().toSet == Set(3L))
  }

  test("collisions refuse; rename-back drops the mapping; evolution composes") {
    val path = Files.createTempDirectory("graft-ren").toString + "/t"
    Upsert.upsertPartitionsAtomic(spark, df(("d1", 1L, 1L)), path, "day",
      Seq("id"), Seq("v"))
    intercept[IllegalArgumentException] {
      Upsert.renameColumn(path, "v", "id") // collides with existing logical
    }
    intercept[IllegalArgumentException] {
      Upsert.renameColumn(path, "nope", "x") // no such column
    }
    Upsert.renameColumn(path, "v", "version")
    intercept[IllegalArgumentException] {
      Upsert.renameColumn(path, "x", "v") // old name no longer resolves... no x
    }
    // rename back to the physical name drops the map entry entirely
    Upsert.renameColumn(path, "version", "v")
    assert(!AtomicRenameCommitter.readManifest(path).contains("__colmap"))

    // rename + add-column evolution in sequence
    Upsert.renameColumn(path, "v", "version")
    Upsert.upsertPartitionsAtomic(spark,
      Seq(("d2", 2L, 2L)).toDF("day", "id", "version")
        .withColumn("note",
          org.apache.spark.sql.functions.when(col("id") >= 0L,
            org.apache.spark.sql.functions.lit("n"))),
      path, "day", Seq("id"), Seq("version"))
    val t = Upsert.readTable(spark, path)
    assert(t.columns.toSeq == Seq("day", "id", "version", "note"))
    assert(t.filter(col("id") === 1L).selectExpr("note").as[Option[String]]
      .head().isEmpty)
  }
}
