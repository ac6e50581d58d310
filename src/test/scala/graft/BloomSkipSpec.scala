package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Maintenance, Upsert}
import graft.streaming.AtomicRenameCommitter
import graft.sources.ManifestTable

/** Per-partition bloom sidecars: point lookups on high-cardinality columns
  * skip partitions a zone map cannot (hash-distributed values span every
  * partition's [min,max]). One-sided contract throughout — a skip is
  * proof of absence, a keep is a maybe; missing sidecars always keep;
  * rewrites recompute; compaction carries sidecars into the new layout.
  */
class BloomSkipSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ids 0..23 scattered over 3 buckets by id % 3 — every bucket's id RANGE
  // spans nearly [0, 23], so range stats could never prune a point lookup
  private def build(path: String, bloomCols: Seq[String] = Seq("id", "name")): Unit = {
    Upsert.enableBloomStats(path, bloomCols, expectedItemsPerPartition = 1000L)
    val data = (0L until 24L).map(i => (s"b${i % 3}", i, s"name-$i"))
      .toDF("bucket", "id", "name").coalesce(1)
    Upsert.replacePartitionsAtomic(spark, data, path, "bucket", Seq("b0", "b1", "b2"))
  }

  private def rows(d: org.apache.spark.sql.DataFrame): Set[(String, Long, String)] =
    d.selectExpr("bucket", "id", "name").as[(String, Long, String)].collect().toSet

  /** The rows an `id` point lookup returns and the files its scan read. */
  private def lookup(path: String, id: Long): (Set[(String, Long, String)], Long) = {
    val q = Upsert.readTable(spark, path).filter(col("id") === id)
    (rows(q), TestSpark.scannedFiles(q))
  }

  test("point-pruned reads skip partitions whose bloom proves absence; never lose a match") {
    val path = Files.createTempDirectory("graft-bl").toString + "/t"
    build(path)
    val t = Upsert.readTable(spark, path)

    // id=7 lives only in bucket b1 (7 % 3) — the two other buckets' blooms
    // prove absence (no false positive at this size), so exactly one
    // partition's file is scanned, despite every bucket's id range
    // covering 7
    assert(lookup(path, 7L) == ((Set(("b1", 7L, "name-7")), 1L)))

    // the superset contract holds for EVERY id: pruning never loses a row
    (0L until 24L).foreach { i =>
      assert(rows(t.filter(col("id") === i)) == Set((s"b${i % 3}", i, s"name-$i")),
        s"lost id $i")
    }

    // string column lookups prune identically (UTF-8 membership)
    val s = t.filter(col("name") === "name-8")
    assert(rows(s) == Set(("b2", 8L, "name-8")) && TestSpark.scannedFiles(s) == 1L)

    // an IN-list keeps the union of its members' partitions
    val in = t.filter(col("id").isin(3L, 4L))
    assert(rows(in) == Set(("b0", 3L, "name-3"), ("b1", 4L, "name-4")))
    assert(TestSpark.scannedFiles(in) == 2L)

    // a value present nowhere prunes everything; the read stays schema-ful
    val none = t.filter(col("id") === 999L)
    assert(none.count() == 0 && none.columns.contains("name"))
    assert(TestSpark.scannedFiles(none) == 0L)
  }

  test("missing sidecars and undeclared columns never wrongly skip") {
    val path = Files.createTempDirectory("graft-bl").toString + "/t"
    // b9 committed BEFORE stats were enabled → no sidecar for it
    Upsert.replacePartitionsAtomic(spark,
      Seq(("b9", 900L, "old")).toDF("bucket", "id", "name"), path, "bucket", Seq("b9"))
    Upsert.enableBloomStats(path, Seq("id"), expectedItemsPerPartition = 1000L)
    Upsert.replacePartitionsAtomic(spark,
      Seq(("b1", 1L, "new")).toDF("bucket", "id", "name"), path, "bucket", Seq("b1"))

    val m = AtomicRenameCommitter.readManifest(path)
    assert(Upsert.bloomOf(path, m("b9"), "id").isEmpty)
    assert(Upsert.bloomOf(path, m("b1"), "id").isDefined)
    // a lookup that b1's bloom rejects still keeps sidecar-less b9
    assert(lookup(path, 900L) ==
      ((Set(("b9", 900L, "old")), TestSpark.filesOf(path, "b9"))))
    // a column with no declared stats keeps everything
    val n = Upsert.readTable(spark, path).filter(col("name") === "zzz")
    assert(n.count() == 0L)
    assert(TestSpark.scannedFiles(n) == TestSpark.filesOf(path, "b1", "b9"))
  }

  test("rewrites recompute sidecars; compaction carries them into the new layout") {
    val path = Files.createTempDirectory("graft-bl").toString + "/t"
    build(path, Seq("id"))

    // fragment b0 so compaction selects it (8 files of 8 rows)
    Upsert.replacePartitionsAtomic(spark,
      (100L until 108L).map(i => ("b0", i, s"name-$i")).toDF("bucket", "id", "name")
        .repartition(8), path, "bucket", Seq("b0"))
    val m1 = AtomicRenameCommitter.readManifest(path)
    // the rewrite recomputed b0's bloom: its old ids (0,3,..,21 — which
    // lived nowhere else) now prove absent EVERYWHERE, new ids present
    assert(lookup(path, 0L) == ((Set.empty, 0L)))
    assert(lookup(path, 1L) == ((Set(("b1", 1L, "name-1")), 1L)))
    assert(lookup(path, 105L) ==
      ((Set(("b0", 105L, "name-105")), TestSpark.filesOf(path, "b0"))))

    val stats = Maintenance.compact(spark, path, targetFileBytes = 1L << 30)
    assert(stats.committed && stats.filesAfter < stats.filesBefore)
    val m2 = AtomicRenameCommitter.readManifest(path)
    assert(m2("b0") != m1("b0"), "compaction must have re-pointed b0")
    // the carried sidecar still prunes — and still proves the same absences
    assert(lookup(path, 105L) == ((Set(("b0", 105L, "name-105")), 1L)))
    assert(lookup(path, 0L) == ((Set.empty, 0L)))
    assert(lookup(path, 2L) == ((Set(("b2", 2L, "name-2")), 1L)))
  }

  test("declarative reads push equality and IN filters into the FileIndex") {
    val path = Files.createTempDirectory("graft-bl").toString + "/t"
    build(path)

    val t = ManifestTable.readTableIndexed(spark, path)
    assert(TestSpark.scannedFiles(t) == 3L) // one file per partition, no filter

    val eq = t.filter(col("id") === 7L)
    assert(rows(eq) == Set(("b1", 7L, "name-7")))
    assert(TestSpark.scannedFiles(eq) == 1L, "equality lookup must list only b1")

    val in = t.filter(col("id").isin(3L, 4L))
    assert(rows(in) == Set(("b0", 3L, "name-3"), ("b1", 4L, "name-4")))
    assert(TestSpark.scannedFiles(in) == 2L, "IN-list must list only its members' buckets")

    val s = t.filter(col("name") === "name-8")
    assert(rows(s) == Set(("b2", 8L, "name-8")))
    assert(TestSpark.scannedFiles(s) == 1L, "string equality must prune through the bloom")

    // a cast-wrapped attribute must NOT prune (conservatism shared with
    // zone maps): the raw column's bloom can't speak for the casted value
    val casted = t.filter(col("id").cast("string") === "7")
    assert(rows(casted) == Set(("b1", 7L, "name-7")))
    assert(TestSpark.scannedFiles(casted) == 3L, "cast-wrapped lookups read everything")
  }

  test("enabling validates column types against the committed schema") {
    val path = Files.createTempDirectory("graft-bl").toString + "/t"
    Upsert.writeTableAtomic(spark,
      Seq((1L, 0.5)).toDF("id", "score"), path)
    Upsert.enableBloomStats(path, Seq("id")) // long: fine
    val e = intercept[IllegalArgumentException] {
      Upsert.enableBloomStats(path, Seq("score")) // double: refused
    }
    assert(e.getMessage.contains("integral and string"))
    intercept[IllegalArgumentException] {
      Upsert.enableBloomStats(path, Seq("missing_col"))
    }
  }
}
