package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Upsert
import graft.streaming.AtomicRenameCommitter

/** Partition-pruned incremental upsert over a manifest table: merge
  * correctness (update wins, insert lands, delta beats existing on order
  * ties), and the scale contract — untouched partitions keep their
  * manifest entries and data files after the merge, touched ones are
  * rewritten.
  */
class UpsertSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def upsert(path: String, delta: DataFrame): Upsert.UpsertStats =
    Upsert.upsertPartitionsAtomic(spark, delta, path, "day",
      keys = Seq("id"), order = Seq("version"))

  private def seedTable(path: String): Unit =
    upsert(path, Seq(
      ("d1", 1L, 10.0, 100L), ("d1", 2L, 20.0, 100L),
      ("d2", 3L, 30.0, 100L), ("d2", 4L, 40.0, 100L),
      ("d3", 5L, 50.0, 100L),
      ("d4", 6L, 60.0, 100L), ("d4", 7L, 70.0, 100L),
      ("d5", 8L, 80.0, 100L))
      .toDF("day", "id", "value", "version"))

  /** Each committed partition's data files, resolved through the manifest. */
  private def partFiles(path: String): Map[String, Set[(String, Long)]] =
    AtomicRenameCommitter.readManifest(path).collect {
      case (p, rel) if !p.startsWith("__") =>
        p -> new java.io.File(s"$path/$rel").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (s"$rel/${f.getName}", f.lastModified())).toSet
    }

  private def readAtomic(path: String): Set[(String, Long, Double, Long)] =
    Upsert.readTable(spark, path)
      .select("day", "id", "value", "version").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

  test("upsert rewrites only the touched partitions; merge keeps latest per key") {
    val path = Files.createTempDirectory("graft-upsert").toString + "/t"
    seedTable(path)
    val before = partFiles(path)

    val delta = Seq(
      ("d2", 3L, 31.0, 101L),  // update: newer version wins
      ("d2", 9L, 90.0, 101L),  // insert into existing partition
      ("d4", 6L, 61.0, 100L),  // SAME version: delta must win the tie
      ("d6", 10L, 99.0, 101L)) // brand-new partition
      .toDF("day", "id", "value", "version")

    val stats = upsert(path, delta)
    assert(stats.touchedPartitions == Seq("d2", "d4", "d6"))
    assert(stats.deltaRows == 4)

    val after = partFiles(path)
    // the 100-TB contract: work scales with the delta — partitions the
    // batch never mentioned are not listed, read, or replaced
    Seq("d1", "d3", "d5").foreach { p =>
      assert(after(p) == before(p), s"untouched partition $p was rewritten")
    }
    Seq("d2", "d4").foreach { p =>
      assert(after(p) != before(p), s"touched partition $p was not rewritten")
    }
    assert(after.contains("d6"), "new partition must be created")

    val rows = readAtomic(path)
    assert(rows == Set(
      ("d1", 1L, 10.0, 100L), ("d1", 2L, 20.0, 100L),
      ("d2", 3L, 31.0, 101L), ("d2", 4L, 40.0, 100L), ("d2", 9L, 90.0, 101L),
      ("d3", 5L, 50.0, 100L),
      ("d4", 6L, 61.0, 100L), ("d4", 7L, 70.0, 100L),
      ("d5", 8L, 80.0, 100L),
      ("d6", 10L, 99.0, 101L)))

    // idempotency: replaying the same batch converges (delta wins its own
    // ties, so the rewrite produces identical content)
    upsert(path, delta)
    assert(readAtomic(path) == rows, "replaying the same delta must be a no-op on content")
  }

  test("delta carrying two partition values for one key is rejected") {
    val path = Files.createTempDirectory("graft-upsert-reloc").toString + "/t"
    seedTable(path)
    val relocating = Seq(("d1", 1L, 11.0, 101L), ("d2", 1L, 12.0, 102L))
      .toDF("day", "id", "value", "version")
    val e = intercept[IllegalArgumentException] {
      upsert(path, relocating)
    }
    assert(e.getMessage.contains("functionally dependent"))
  }

  // ---- manifest protocol ----

  test("atomic upsert: merge correctness and manifest-level pruning") {
    val path = Files.createTempDirectory("graft-upsert-atomic").toString + "/t"
    val base = Seq(
      ("d1", 1L, 10.0, 100L), ("d1", 2L, 20.0, 100L),
      ("d2", 3L, 30.0, 100L), ("d2", 4L, 40.0, 100L),
      ("d3", 5L, 50.0, 100L))
      .toDF("day", "id", "value", "version")
    // initial load seeds the manifest table
    Upsert.upsertPartitionsAtomic(spark, base, path, "day",
      keys = Seq("id"), order = Seq("version"))
    val manifestBefore = graft.streaming.AtomicRenameCommitter.readManifest(path)
    // data entries only — `__`-prefixed keys are commit-riding metadata
    // (the committed schema, since the evolution support)
    assert(manifestBefore.keySet.filterNot(_.startsWith("__")) == Set("d1", "d2", "d3"))

    val delta = Seq(
      ("d2", 3L, 31.0, 101L),  // update
      ("d2", 9L, 90.0, 101L),  // insert into existing partition
      ("d4", 6L, 60.0, 101L))  // brand-new partition
      .toDF("day", "id", "value", "version")
    val stats = Upsert.upsertPartitionsAtomic(spark, delta, path, "day",
      keys = Seq("id"), order = Seq("version"))
    assert(stats.touchedPartitions == Seq("d2", "d4"))

    val manifestAfter = graft.streaming.AtomicRenameCommitter.readManifest(path)
    // untouched partitions keep their ORIGINAL manifest entries (the data
    // was never read or rewritten); touched ones re-point to the new batch
    Seq("d1", "d3").foreach { p =>
      assert(manifestAfter(p) == manifestBefore(p), s"untouched $p re-pointed")
    }
    assert(manifestAfter("d2") != manifestBefore("d2"))
    assert(readAtomic(path) == Set(
      ("d1", 1L, 10.0, 100L), ("d1", 2L, 20.0, 100L),
      ("d2", 3L, 31.0, 101L), ("d2", 4L, 40.0, 100L), ("d2", 9L, 90.0, 101L),
      ("d3", 5L, 50.0, 100L),
      ("d4", 6L, 60.0, 101L)))
  }

  test("atomic upsert: crash before the manifest flip leaves old-only, never mixed") {
    val path = Files.createTempDirectory("graft-upsert-crash").toString + "/t"
    val base = Seq(
      ("d1", 1L, 10.0, 100L), ("d2", 3L, 30.0, 100L), ("d3", 5L, 50.0, 100L))
      .toDF("day", "id", "value", "version")
    Upsert.upsertPartitionsAtomic(spark, base, path, "day",
      keys = Seq("id"), order = Seq("version"))
    val committed = readAtomic(path)
    val manifestBefore = graft.streaming.AtomicRenameCommitter.readManifest(path)

    val delta = Seq(("d1", 1L, 11.0, 101L), ("d2", 3L, 31.0, 101L))
      .toDF("day", "id", "value", "version")
    // crash INSIDE the window: merged data staged, pointer never flipped
    Upsert.stageUpsert(spark, delta, path, "day",
      keys = Seq("id"), order = Seq("version"))

    // readers see exactly the old committed state — not the new d1 with
    // the old d2 (the mixed state dynamic partition-overwrite can leave)
    assert(graft.streaming.AtomicRenameCommitter.readManifest(path) == manifestBefore,
      "a crashed merge must not change the committed manifest")
    assert(readAtomic(path) == committed,
      "a crashed merge must leave readers on the old snapshot")

    // recovery: re-running the same merge converges, and the crashed
    // staging is GC'd in the process
    Upsert.upsertPartitionsAtomic(spark, delta, path, "day",
      keys = Seq("id"), order = Seq("version"))
    assert(readAtomic(path) == Set(
      ("d1", 1L, 11.0, 101L), ("d2", 3L, 31.0, 101L), ("d3", 5L, 50.0, 100L)))
    val live = graft.streaming.AtomicRenameCommitter.readManifest(path).values.toSet
    val staged = new java.io.File(path).listFiles()
      .filter(b => b.isDirectory && b.getName.startsWith("batch-"))
      .flatMap(b => b.listFiles().filter(_.isDirectory).map(d => s"${b.getName}/${d.getName}"))
      .toSet
    assert(staged.subsetOf(live ++ manifestBefore.values.toSet),
      s"crashed/unreferenced staging must be GC'd: extra=${staged -- live -- manifestBefore.values.toSet}")
  }

  test("writeTableAtomic: a crashed snapshot write leaves the old table readable") {
    val path = Files.createTempDirectory("graft-wta").toString + "/t"
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Upsert.writeTableAtomic(spark, v1, path)
    def rows() = Upsert.readTable(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows() == Set((1L, "a"), (2L, "b")))

    // crash window: staging lands, the manifest flip fails — plain
    // SaveMode.Overwrite at the table path would have deleted the old
    // table before this point; the manifest form must still serve v1
    val crashing = new graft.streaming.SnapshotCommitter {
      def readManifest(p: String) =
        graft.streaming.AtomicRenameCommitter.readManifest(p)
      def commit(p: String, e: Map[String, String]) =
        throw new RuntimeException("injected crash at commit")
    }
    val v2 = Seq((1L, "a2"), (3L, "c")).toDF("id", "v")
    intercept[RuntimeException] {
      Upsert.writeTableAtomic(spark, v2, path, crashing)
    }
    assert(rows() == Set((1L, "a"), (2L, "b")),
      "a crashed snapshot write must leave the previous table in force")

    // recovery: the next successful write publishes v2 and GCs the crashed
    // staging; the superseded v1 survives ONE more cycle (reader grace)
    Upsert.writeTableAtomic(spark, v2, path)
    assert(rows() == Set((1L, "a2"), (3L, "c")))
    val graceManifest = graft.streaming.AtomicRenameCommitter.readManifest(path)
    Upsert.writeTableAtomic(spark, v2, path)
    // data refs only — the `__schema` metadata value is not a dir
    val live = graft.streaming.AtomicRenameCommitter.readManifest(path)
      .collect { case (k, v) if !k.startsWith("__") => v }.toSet
    val staged = new java.io.File(path).listFiles()
      .filter(b => b.isDirectory && b.getName.startsWith("batch-"))
      .flatMap(b => b.listFiles().filter(_.isDirectory).map(d => s"${b.getName}/${d.getName}"))
      .toSet
    assert(staged.subsetOf(live ++ graceManifest.values.toSet),
      s"crashed/unreferenced staging must be GC'd: extra=${staged -- live -- graceManifest.values}")
    assert(staged.intersect(live) == live, "the committed snapshot must exist on disk")
  }

  test("stale delta rows lose to newer existing rows") {
    val path = Files.createTempDirectory("graft-upsert-stale").toString + "/t"
    seedTable(path)
    val stale = Seq(("d1", 1L, -1.0, 99L)).toDF("day", "id", "value", "version")
    upsert(path, stale)
    val v = Upsert.readTable(spark, path).filter(col("id") === 1L)
      .select("value", "version").collect().map(r => (r.getDouble(0), r.getLong(1)))
    assert(v.toSeq == Seq((10.0, 100L)),
      "a lower-version delta row must not clobber the newer existing row")
  }
}
