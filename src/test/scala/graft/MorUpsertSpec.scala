package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Maintenance, Upsert}
import graft.streaming.VersionedCommitter

/** Merge-on-read upserts: row merges land as per-partition PRE-MERGED
  * delta sidecars (no partition rewrite), every read seam anti-joins the
  * sidecar's keys out of the base and unions its rows in, and any rewrite
  * of a partition materializes its pending delta. The committed result
  * must always equal what the copy-on-write merge would have produced.
  */
class MorUpsertSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df(t: (String, Long, Long)*) = t.toSeq.toDF("day", "id", "v")

  private def freshTable(c: VersionedCommitter): String = {
    val path = Files.createTempDirectory("graft-morup").toString + "/t"
    Upsert.upsertPartitionsAtomic(spark,
      df(("d1", 1L, 10L), ("d1", 2L, 20L), ("d2", 3L, 30L), ("d2", 4L, 40L)),
      path, "day", Seq("id"), Seq("v"), c)
    path
  }

  private def deltaEntries(path: String, c: VersionedCommitter) =
    c.readManifest(path).filter(_._1.startsWith("__delta."))

  private def rows(path: String, c: VersionedCommitter) =
    Upsert.readTable(spark, path, c).selectExpr("day", "id", "v")
      .as[(String, Long, Long)].collect().toSet

  test("upsert lands as a sidecar; no data dir re-points; reads merge it") {
    val c = new VersionedCommitter
    val path = freshTable(c)
    val before = c.readManifest(path).filterNot(_._1.startsWith("__"))

    // update id=2 in place, insert id=5 into the existing d2 partition
    val st = Upsert.upsertKeysMor(spark, path, "day", Seq("id"), Seq("v"),
      df(("d1", 2L, 21L), ("d2", 5L, 50L)), c)
    assert(st.touchedPartitions == Seq("d1", "d2"))
    assert(c.readManifest(path).filterNot(_._1.startsWith("__")) == before,
      "the MoR upsert must rewrite NO data dir")
    assert(deltaEntries(path, c).keySet == Set("__delta.d1", "__delta.d2"))

    val expect = Set(("d1", 1L, 10L), ("d1", 2L, 21L), ("d2", 3L, 30L),
      ("d2", 4L, 40L), ("d2", 5L, 50L))
    assert(rows(path, c) == expect)
    // pruned and indexed reads merge the sidecars too
    assert(Upsert.readTablePartitions(spark, path, Seq("d1"), c)
      .selectExpr("id", "v").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 21L)))
    assert(graft.sources.ManifestTable.readTableIndexed(spark, path, c)
      .selectExpr("day", "id", "v").as[(String, Long, Long)].collect().toSet
      == expect)
  }

  test("MoR result equals the copy-on-write merge; replay is idempotent") {
    val c1 = new VersionedCommitter; val c2 = new VersionedCommitter
    val mor = freshTable(c1); val cow = freshTable(c2)
    val delta = df(("d1", 1L, 11L), ("d1", 9L, 90L), ("d2", 4L, 41L))
    Upsert.upsertKeysMor(spark, mor, "day", Seq("id"), Seq("v"), delta, c1)
    Upsert.upsertPartitionsAtomic(spark, delta, cow, "day",
      Seq("id"), Seq("v"), c2)
    assert(rows(mor, c1) == rows(cow, c2))
    // exact replay (same rows again) lands the same state, one sidecar
    // entry per partition
    Upsert.upsertKeysMor(spark, mor, "day", Seq("id"), Seq("v"), delta, c1)
    assert(rows(mor, c1) == rows(cow, c2))
    assert(deltaEntries(mor, c1).keySet == Set("__delta.d1", "__delta.d2"))
    // and a later MoR upsert of the SAME key pre-merges: latest wins
    Upsert.upsertKeysMor(spark, mor, "day", Seq("id"), Seq("v"),
      df(("d1", 9L, 91L)), c1)
    assert(rows(mor, c1).contains(("d1", 9L, 91L)))
  }

  test("upsert-after-delete resurrects; delete-after-upsert removes") {
    val c = new VersionedCommitter
    val path = freshTable(c)
    Upsert.deleteKeysMor(spark, path, "day", Seq("id"),
      Seq(("d1", 1L)).toDF("day", "id"), c)
    Upsert.upsertKeysMor(spark, path, "day", Seq("id"), Seq("v"),
      df(("d1", 1L, 12L)), c)
    assert(rows(path, c).contains(("d1", 1L, 12L)),
      "an upsert AFTER a MoR delete of the same key must land")
    // now the reverse on another key: upsert then delete — the delete
    // must reach into the pending delta sidecar
    Upsert.upsertKeysMor(spark, path, "day", Seq("id"), Seq("v"),
      df(("d2", 5L, 50L)), c)
    Upsert.deleteKeysMor(spark, path, "day", Seq("id"),
      Seq(("d2", 5L)).toDF("day", "id"), c)
    assert(!rows(path, c).exists(r => r._2 == 5L),
      "a MoR delete AFTER a MoR upsert of the same key must land")
    // deleting the ONLY pending delta row empties d2's sidecar entirely
    assert(!deltaEntries(path, c).keySet.contains("__delta.d2"))
  }

  test("history: as-of pre-upsert is the old state; CDF sees the merge") {
    val c = new VersionedCommitter
    val path = freshTable(c)
    Upsert.upsertKeysMor(spark, path, "day", Seq("id"), Seq("v"),
      df(("d1", 2L, 21L), ("d2", 5L, 50L)), c)
    assert(Upsert.readTableAsOf(spark, path, 1L, c).selectExpr("id", "v")
      .as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    val ch = Upsert.tableChanges(spark, path, 1L, 2L, Seq("id"), c)
    assert(ch.selectExpr("id", "change_type").as[(Long, String)]
      .collect().toSet == Set((2L, "update_post"), (5L, "insert")))
  }

  test("rewrites materialize the pending delta: upsert path and compact") {
    val c = new VersionedCommitter
    val path = freshTable(c)
    Upsert.upsertKeysMor(spark, path, "day", Seq("id"), Seq("v"),
      df(("d1", 2L, 21L), ("d2", 5L, 50L)), c)
    // a copy-on-write rewrite of d1 folds its delta in and drops the entry
    Upsert.upsertPartitionsAtomic(spark, df(("d1", 6L, 60L)), path, "day",
      Seq("id"), Seq("v"), c)
    assert(deltaEntries(path, c).keySet == Set("__delta.d2"))
    assert(rows(path, c) == Set(("d1", 1L, 10L), ("d1", 2L, 21L),
      ("d1", 6L, 60L), ("d2", 3L, 30L), ("d2", 4L, 40L), ("d2", 5L, 50L)))
    // compaction materializes the rest even at target file count
    val st = Maintenance.compact(spark, path, committer = c)
    assert(st.committed)
    assert(deltaEntries(path, c).isEmpty, "compact must drop the sidecars")
    assert(rows(path, c) == Set(("d1", 1L, 10L), ("d1", 2L, 21L),
      ("d1", 6L, 60L), ("d2", 3L, 30L), ("d2", 4L, 40L), ("d2", 5L, 50L)))
  }

  test("pruned-read stats stay exact while a delta is pending") {
    val c = new VersionedCommitter
    val path = freshTable(c)
    Upsert.enableRangeStats(path, Seq("v"), c)
    Upsert.enableBloomStats(path, Seq("id"), 1L << 10, 0.01, c)
    // rewrite so both partitions carry stats
    Upsert.upsertPartitionsAtomic(spark,
      df(("d1", 1L, 10L), ("d1", 2L, 20L), ("d2", 3L, 30L), ("d2", 4L, 40L)),
      path, "day", Seq("id"), Seq("v"), c)
    // d1's committed range is v∈[10,20]; the delta pushes v=99 and a
    // brand-new id=77 into it WITHOUT a rewrite
    Upsert.upsertKeysMor(spark, path, "day", Seq("id"), Seq("v"),
      df(("d1", 77L, 99L)), c)
    val t = Upsert.readTable(spark, path, c)
    val all = TestSpark.scannedFiles(t)
    // the delta's rows union in above the pruned base scan: they surface
    // under a range filter that skips d2's base...
    val hi = t.filter(col("v") >= 95L)
    assert(hi.selectExpr("id").as[Long].collect().toSet == Set(77L),
      "a pending delta's rows must surface under a range filter")
    assert(TestSpark.scannedFiles(hi) < all, "d2's base must be skipped")
    // ...and under a point lookup that both base blooms reject
    val pt = t.filter(col("id") === 77L)
    assert(pt.selectExpr("v").as[Long].collect().toSet == Set(99L),
      "a pending delta's new key must surface under a point lookup")
    assert(TestSpark.scannedFiles(pt) < all, "the base blooms must prune")
    // compaction folds the delta into d1's base; the zone map WIDENED at
    // upsert time is what still admits the folded row
    assert(Maintenance.compact(spark, path, committer = c).committed)
    assert(Upsert.readTable(spark, path, c).filter(col("v") >= 95L)
      .selectExpr("id").as[Long].collect().toSet == Set(77L),
      "the widened zone map must admit the compacted delta's range")
  }

  test("contracts: fixed keys/order, no schema evolution, no new partitions") {
    val c = new VersionedCommitter
    val path = freshTable(c)
    Upsert.upsertKeysMor(spark, path, "day", Seq("id"), Seq("v"),
      df(("d1", 2L, 21L)), c)
    assert(intercept[IllegalArgumentException] {
      Upsert.upsertKeysMor(spark, path, "day", Seq("v"), Seq("id"),
        df(("d1", 2L, 22L)), c)
    }.getMessage.contains("fixed at first use"))
    assert(intercept[IllegalArgumentException] {
      Upsert.upsertKeysMor(spark, path, "day", Seq("id"), Seq("v"),
        df(("d9", 9L, 90L)), c)
    }.getMessage.contains("no committed data"))
    assert(intercept[IllegalArgumentException] {
      Upsert.upsertKeysMor(spark, path, "day", Seq("id"), Seq("v"),
        Seq(("d1", 2L, 22L, "x")).toDF("day", "id", "v", "extra"), c)
    }.getMessage.contains("cannot evolve"))
    assert(intercept[IllegalArgumentException] {
      Upsert.dropColumn(path, "v", c)
    }.getMessage.contains("delta sidecars"))
  }

  test("a partially-surviving delta sidecar outlives the delete's own GC cycle") {
    val c = new VersionedCommitter
    val path = freshTable(c)
    // two pending delta rows in d1; deleting ONE rewrites the sidecar to a
    // NESTED rel (batch-*/delta/__dp=d1) — the GC must treat a rel that
    // lives DEEPER inside a subdir as keeping that subdir alive
    Upsert.upsertKeysMor(spark, path, "day", Seq("id"), Seq("v"),
      df(("d1", 1L, 11L), ("d1", 2L, 21L)), c)
    Upsert.deleteKeysMor(spark, path, "day", Seq("id"),
      Seq(("d1", 2L)).toDF("day", "id"), c)
    val deltaRel = deltaEntries(path, c)("__delta.d1")
    assert(deltaRel.contains("/delta/"), s"expected a nested rewrite: $deltaRel")
    // the surviving pending row must still read back — before the
    // nested-rel GC fix, deleteKeysMor's own post-commit GC deleted the
    // parent `delta/` dir out from under it
    assert(rows(path, c) == Set(("d1", 1L, 11L), ("d2", 3L, 30L), ("d2", 4L, 40L)))
    // and it survives ANOTHER mutator's GC pass too
    Upsert.upsertKeysMor(spark, path, "day", Seq("id"), Seq("v"),
      df(("d2", 4L, 41L)), c)
    assert(rows(path, c) == Set(("d1", 1L, 11L), ("d2", 3L, 30L), ("d2", 4L, 41L)))
  }
}
