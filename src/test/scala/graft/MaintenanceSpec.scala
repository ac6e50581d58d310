package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Maintenance, Upsert}
import graft.streaming.{AtomicRenameCommitter, VersionedCommitter}

/** Small-file compaction on the manifest seam: content-preserving,
  * file-count-reducing, atomic (crash leaves the old layout committed),
  * and history-preserving (as-of reads across the compaction commit
  * resolve the pre-compaction layout).
  */
class MaintenanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
    df.selectExpr("day", "id", "version").as[(String, Long, Long)].collect().toSet

  /** Commit partition contents fanned out over `nTasks` write tasks, so
    * each touched partition dir lands with up to `nTasks` files — the
    * small-file debt a micro-batch cadence accrues. (An explicit
    * `repartition(n)` — AQE never coalesces a user-specified count —
    * through the atomic replace, so the staged layout keeps the fan-out;
    * the upsert path's merge aggregate would be AQE-coalesced to one
    * task at these row counts.)
    */
  private def upsertFragmented(path: String, c: graft.streaming.SnapshotCommitter,
                               nTasks: Int, t: (String, Long, Long)*): Unit = {
    val df = t.map { case (d, i, v) => (d, i, v.toDouble, v) }
      .toDF("day", "id", "value", "version").repartition(nTasks)
    Upsert.replacePartitionsAtomic(spark, df, path, "day",
      t.map(_._1).distinct.sorted, committer = c)
  }

  test("compaction bin-packs each partition without changing its rows") {
    val path = Files.createTempDirectory("graft-cpt").toString + "/t"
    val c = AtomicRenameCommitter
    val data = (1L to 40L).map(i => (s"d${i % 2}", i, 100L))
    upsertFragmented(path, c, 8, data: _*)

    val before = Maintenance.tableFileStats(path, c)
    assert(before.forall(_.nFiles > 1), s"fixture must start fragmented: $before")
    val pre = rows(Upsert.readTable(spark, path, c))

    val s = Maintenance.compact(spark, path, committer = c)
    assert(s.committed && s.compacted.sorted == Seq("d0", "d1"))
    val after = Maintenance.tableFileStats(path, c)
    assert(after.forall(_.nFiles == 1), s"huge target => one file per partition: $after")
    assert(s.filesBefore == before.map(_.nFiles.toLong).sum)
    assert(s.filesAfter == 2L)
    assert(rows(Upsert.readTable(spark, path, c)) == pre)
  }

  test("already-packed table is a no-op (no commit, no rewrite)") {
    val path = Files.createTempDirectory("graft-cpt").toString + "/t"
    val c = new VersionedCommitter
    upsertFragmented(path, c, 8, (1L to 10L).map(i => ("d1", i, 100L)): _*)
    assert(Maintenance.compact(spark, path, committer = c).committed)
    val versionsAfterFirst = c.versions(path)

    val s2 = Maintenance.compact(spark, path, committer = c)
    assert(!s2.committed && s2.compacted.isEmpty && s2.bytesRewritten == 0L)
    assert(c.versions(path) == versionsAfterFirst, "a no-op must not commit a version")
  }

  test("a crash before the manifest flip leaves the old layout committed, old-only never mixed") {
    val path = Files.createTempDirectory("graft-cpt").toString + "/t"
    val c = AtomicRenameCommitter
    val data = (1L to 20L).map(i => (s"d${i % 2}", i, 100L))
    upsertFragmented(path, c, 8, data: _*)
    val preManifest = c.readManifest(path)
    val pre = rows(Upsert.readTable(spark, path, c))

    val (s, _) = Maintenance.stageCompact(spark, path, 128L * 1024 * 1024, Nil, c)
    assert(!s.committed && s.compacted.nonEmpty)
    assert(c.readManifest(path) == preManifest)
    assert(rows(Upsert.readTable(spark, path, c)) == pre)

    // the next compaction GCs the crashed staging and completes
    val s2 = Maintenance.compact(spark, path, committer = c)
    assert(s2.committed)
    assert(rows(Upsert.readTable(spark, path, c)) == pre)
    assert(Maintenance.tableFileStats(path, c).forall(_.nFiles == 1))
  }

  test("a failing partition rewrite fails the compaction only after every rewrite finished") {
    val path = Files.createTempDirectory("graft-cpt").toString + "/t"
    val c = AtomicRenameCommitter
    upsertFragmented(path, c, 8, (1L to 40L).map(i => (s"d${i % 2}", i, 100L)): _*)
    val preManifest = c.readManifest(path)
    // d0's files (the first rewrite) stop being parquet: its rewrite
    // throws, d1's succeeds
    new java.io.File(s"$path/${preManifest("d0")}").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.write(f.toPath, "not parquet".getBytes))

    intercept[Exception](Maintenance.compact(spark, path, committer = c))
    assert(c.readManifest(path) == preManifest, "a failed compaction must not commit")
    // the sibling rewrite had completed its write when the failure surfaced
    val staging = new java.io.File(path).listFiles()
      .filter(f => f.getName.startsWith("batch-") &&
        !preManifest.values.exists(_.startsWith(s"${f.getName}/")))
    assert(staging.length == 1, s"one staging dir: ${staging.map(_.getName).toSeq}")
    assert(new java.io.File(staging.head, "cpt1-d1/_SUCCESS").exists,
      "the d1 rewrite must have finished before compact threw")
  }

  test("time travel across the compaction commit resolves the pre-compaction layout") {
    val path = Files.createTempDirectory("graft-cpt").toString + "/t"
    val c = new VersionedCommitter
    val v1 = (1L to 20L).map(i => (s"d${1 + i % 2}", i, 100L))
    val v2 = (1L to 20L).map(i => (s"d${1 + i % 2}", i, 101L))
    upsertFragmented(path, c, 8, v1: _*) // v1
    upsertFragmented(path, c, 8, v2: _*) // v2 replaces both days
    val preV2 = rows(Upsert.readTableAsOf(spark, path, 2L, c))
    assert(preV2 == v2.map { case (d, i, v) => (d, i, v) }.toSet)

    val s = Maintenance.compact(spark, path, committer = c)
    assert(s.committed)
    assert(c.versions(path) == Seq(1L, 2L, 3L), "compaction is just the next version")
    // the compacted current state reads the same rows...
    assert(rows(Upsert.readTable(spark, path, c)) == preV2)
    // ...and the PRE-compaction version still resolves (old dirs GC-retained)
    assert(rows(Upsert.readTableAsOf(spark, path, 2L, c)) == preV2)
    assert(rows(Upsert.readTableAsOf(spark, path, 1L, c)) == v1.toSet)
  }

  test("deleteWhere rewrites only matching partitions, drops emptied ones, keeps null-evaluating rows") {
    val path = Files.createTempDirectory("graft-del").toString + "/t"
    val c = AtomicRenameCommitter
    // d1: mixed keep/delete; d2: fully deleted; d3: untouched
    val data = Seq(
      ("d1", 1L, 100L), ("d1", 2L, 600L), ("d2", 3L, 700L), ("d3", 4L, 100L))
    upsertFragmented(path, c, 4, data: _*)
    val d3EntryBefore = c.readManifest(path)("d3")

    val s = Upsert.deleteWhere(spark, path, "day",
      org.apache.spark.sql.functions.col("version") > 500L, c)
    assert(s.touchedPartitions == Seq("d1", "d2") && s.deletedRows == 2L)
    assert(rows(Upsert.readTable(spark, path, c)) ==
      Set(("d1", 1L, 100L), ("d3", 4L, 100L)))
    val m = c.readManifest(path)
    assert(!m.contains("d2"), "fully-deleted partition must drop from the manifest")
    assert(m("d3") == d3EntryBefore, "untouched partition must keep its entry verbatim")

    // SQL DELETE null semantics: null-evaluating rows are kept
    val withNull = Seq(("d4", 5L, Some(900L)), ("d4", 6L, None))
      .toDF("day", "id", "version")
      .withColumn("value", org.apache.spark.sql.functions.lit(1.0))
      .select("day", "id", "value", "version")
    Upsert.replacePartitionsAtomic(spark, withNull, path, "day", Seq("d4"), c)
    val s2 = Upsert.deleteWhere(spark, path, "day",
      org.apache.spark.sql.functions.col("version") > 500L, c)
    assert(s2.deletedRows == 1L)
    assert(Upsert.readTable(spark, path, c).filter("day = 'd4'")
      .selectExpr("id").as[Long].collect().toSeq == Seq(6L),
      "the NULL-version row must survive the delete")

    // no-match predicate is a free no-op
    val s3 = Upsert.deleteWhere(spark, path, "day",
      org.apache.spark.sql.functions.col("version") > 99999L, c)
    assert(s3.touchedPartitions.isEmpty && s3.deletedRows == 0L)
  }

  test("updateWhere rewrites only matching partitions; assignments see the pre-update row") {
    import org.apache.spark.sql.functions.{col, lit}
    val path = Files.createTempDirectory("graft-upd").toString + "/t"
    val c = AtomicRenameCommitter
    val data = Seq(("d1", 1L, 600L), ("d1", 2L, 100L), ("d2", 3L, 100L))
    upsertFragmented(path, c, 2, data: _*)
    val d2EntryBefore = c.readManifest(path)("d2")

    val s = Upsert.updateWhere(spark, path, "day", col("version") > 500L,
      Map("version" -> lit(0L)), c)
    assert(s.touchedPartitions == Seq("d1") && s.updatedRows == 1L)
    assert(rows(Upsert.readTable(spark, path, c)) ==
      Set(("d1", 1L, 0L), ("d1", 2L, 100L), ("d2", 3L, 100L)))
    assert(c.readManifest(path)("d2") == d2EntryBefore,
      "untouched partition must keep its entry verbatim")

    // swap semantics: both assignments evaluate against the PRE-update row
    val s2 = Upsert.updateWhere(spark, path, "day", col("id") === 2L,
      Map("id" -> col("version"), "version" -> col("id")), c)
    assert(s2.updatedRows == 1L)
    assert(rows(Upsert.readTable(spark, path, c)).contains(("d1", 100L, 2L)),
      "a = b, b = a must swap, not chain")

    // the partition column is not assignable
    val e = intercept[IllegalArgumentException] {
      Upsert.updateWhere(spark, path, "day", col("id") === 1L,
        Map("day" -> lit("d9")), c)
    }
    assert(e.getMessage.contains("partition column"))
  }

  test("partition values with Hive-escaped characters round-trip through surgery and upserts") {
    import org.apache.spark.sql.functions.col
    val path = Files.createTempDirectory("graft-esc").toString + "/t"
    val c = AtomicRenameCommitter
    // ':' is Hive-escaped in dir names — the manifest key must be the
    // ESCAPED form, and every raw-value lookup must normalize to it
    // (before the partKey fix, surgery on such a partition was a silent
    // no-op against the escaped key)
    Upsert.replacePartitionsAtomic(spark,
      Seq(("a:b", 1L, 1.0, 100L), ("a:b", 2L, 1.0, 600L), ("plain", 3L, 1.0, 100L))
        .toDF("day", "id", "value", "version"),
      path, "day", Seq("a:b", "plain"), c)
    assert(c.readManifest(path).keySet.exists(_.contains("%3A")),
      "the committed key must be the escaped dir name")

    val s = Upsert.deleteWhere(spark, path, "day", col("version") > 500L, c)
    assert(s.deletedRows == 1L, "the escaped partition's row must actually delete")
    assert(rows(Upsert.readTable(spark, path, c)) ==
      Set(("a:b", 1L, 100L), ("plain", 3L, 100L)))

    Upsert.upsertPartitionsAtomic(spark,
      Seq(("a:b", 1L, 1.0, 101L)).toDF("day", "id", "value", "version"),
      path, "day", keys = Seq("id"), order = Seq("version"), committer = c)
    assert(rows(Upsert.readTable(spark, path, c)) ==
      Set(("a:b", 1L, 101L), ("plain", 3L, 100L)),
      "an upsert must MERGE into the escaped partition, not duplicate beside it")
  }

  test("expireVersions retires history on demand and releases its exclusive data") {
    val path = Files.createTempDirectory("graft-exp").toString + "/t"
    val c = new VersionedCommitter(retain = 10)
    upsertFragmented(path, c, 2, ("d1", 1L, 100L)) // v1
    upsertFragmented(path, c, 2, ("d1", 1L, 101L)) // v2 — v1's dir now exclusive
    upsertFragmented(path, c, 2, ("d1", 1L, 102L)) // v3
    assert(c.versions(path) == Seq(1L, 2L, 3L))

    val expired = Maintenance.expireVersions(path, keepLast = 1, c)
    assert(expired == Seq(1L, 2L))
    assert(c.versions(path) == Seq(3L))
    intercept[IllegalArgumentException] {
      Upsert.readTableAsOf(spark, path, 2L, c)
    }
    // the current state survives, and only its batch dir remains on disk
    assert(rows(Upsert.readTable(spark, path, c)) == Set(("d1", 1L, 102L)))
    val batchDirs = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("batch-"))
    assert(batchDirs.length == 1,
      s"expired versions' exclusive dirs must be released: ${batchDirs.map(_.getName).mkString(",")}")
  }

  test("z-order compaction re-clusters while preserving content") {
    val path = Files.createTempDirectory("graft-cpt").toString + "/t"
    val c = AtomicRenameCommitter
    val data = (1L to 30L).map(i => (s"d${i % 2}", i, i * 7 % 13))
    upsertFragmented(path, c, 8, data: _*)
    val pre = rows(Upsert.readTable(spark, path, c))

    val s = Maintenance.compact(spark, path,
      zorderCols = Seq("id", "version"), committer = c)
    assert(s.committed)
    assert(rows(Upsert.readTable(spark, path, c)) == pre)
    assert(Maintenance.tableFileStats(path, c).forall(_.nFiles == 1))
  }
}
