package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Maintenance, Upsert}
import graft.streaming.{AtomicRenameCommitter, CuratedStore, TableFs}

/** The commit half every staged manifest write shares
  * ([[Upsert.commitReplace]]): for each write kind, a staging collected
  * before the flip (a concurrent writer's GC past the grace window) must
  * fail the commit loudly — whether the staging holds data entries or
  * only MoR sidecars — with the committed manifest byte-identical and
  * reads still on the pre-write rows. Also pins the whole-table
  * overwrite's carry list.
  */
class CommitHalfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val c = AtomicRenameCommitter

  private def df(t: (String, Long, Long)*) = t.toSeq.toDF("day", "id", "v")

  private def rows(path: String): Set[(String, Long, Long)] =
    Upsert.readTable(spark, path, c).selectExpr("day", "id", "v")
      .as[(String, Long, Long)].collect().toSet

  private def freshPath(): String =
    Files.createTempDirectory("graft-commit").toString + "/t"

  private def partitioned(): String = {
    val path = freshPath()
    Upsert.upsertPartitionsAtomic(spark,
      df(("d1", 1L, 10L), ("d1", 2L, 20L), ("d2", 3L, 30L)),
      path, "day", Seq("id"), Seq("v"), c)
    path
  }

  /** Run `stage`, delete its batch dir, then commit: the commit must
    * refuse and leave the manifest bytes and what `read` sees unchanged.
    */
  private def assertLostStagingRefused[T](path: String, read: => T)(
      stage: => Upsert.StagedReplace): Unit = {
    val before = c.currentManifestBytes(path)
    val pre = read
    val staged = stage
    assert(c.currentManifestBytes(path) == before, "staging alone must not commit")
    TableFs.delete(s"$path/${staged.batchDirName}")
    val e = intercept[IllegalStateException](Upsert.commitReplace(staged, c))
    assert(e.getMessage.contains("vanished"))
    assert(c.currentManifestBytes(path) == before,
      "a refused commit must leave the manifest byte-identical")
    assert(read == pre, "a refused commit must leave reads on the pre-write rows")
  }

  test("partition replace: a lost staging fails the commit") {
    val path = partitioned()
    assertLostStagingRefused(path, rows(path)) {
      Upsert.stageReplace(spark, df(("d1", 1L, 11L)), path, "day", Seq("d1"), c)
    }
  }

  test("whole-table write: a lost staging fails the commit") {
    val path = freshPath()
    Upsert.writeTableAtomic(spark, df(("d1", 1L, 10L)), path, c)
    assertLostStagingRefused(path, rows(path)) {
      Upsert.stageTableWrite(spark, df(("d9", 9L, 90L)), path, c)
    }
  }

  test("append: a lost staging fails the commit") {
    val path = freshPath()
    Upsert.appendTableAtomic(spark, df(("d1", 1L, 10L)), path, c)
    assertLostStagingRefused(path, rows(path)) {
      Upsert.stageAppend(spark, df(("d1", 2L, 20L)), path, c)
    }
  }

  test("MoR delete: a lost deletion sidecar fails the commit") {
    val path = partitioned()
    assertLostStagingRefused(path, rows(path)) {
      val (staged, _) = Upsert.stageDeleteMor(spark, path, "day", Seq("id"),
        Seq(("d1", 1L)).toDF("day", "id"), c).get
      assert(staged.newManifest.keySet.exists(_.startsWith("__del.")) &&
        Upsert.dataEntries(staged.newManifest).values
          .forall(!_.startsWith(staged.batchDirName)),
        "the MoR delete stages sidecars only")
      staged
    }
  }

  test("MoR upsert: a lost delta sidecar fails the commit") {
    val path = partitioned()
    assertLostStagingRefused(path, rows(path)) {
      val (staged, _) = Upsert.stageUpsertMor(spark, path, "day", Seq("id"),
        Seq("v"), df(("d1", 2L, 21L)), c)
      assert(staged.newManifest.keySet.exists(_.startsWith("__delta.")) &&
        Upsert.dataEntries(staged.newManifest).values
          .forall(!_.startsWith(staged.batchDirName)),
        "the MoR upsert stages sidecars only")
      staged
    }
  }

  test("compaction: a lost staging fails the commit") {
    val path = partitioned()
    // a pending deletion sidecar makes d1 a compaction candidate
    Upsert.deleteKeysMor(spark, path, "day", Seq("id"),
      Seq(("d1", 1L)).toDF("day", "id"), c)
    assertLostStagingRefused(path, rows(path)) {
      Maintenance.stageCompact(spark, path, 128L * 1024 * 1024, Nil, c)._2.get
    }
  }

  test("curated-store admit: a lost fragment staging fails the commit") {
    val root = freshPath()
    val seed = Seq((1L, "pack my box with five dozen liquor jugs before the long summer ends"))
      .toDF("doc_id", "text")
    CuratedStore.seed(spark, seed, root, c, jaccardThreshold = 0.6)
    val batch = Seq((2L, "an entirely fresh document the corpus has never seen in any form"))
      .toDF("doc_id", "text")
    def ids = (CuratedStore.curatedRows(spark, root, c).select("doc_id")
      .as[Long].collect().toSet,
      CuratedStore.exactRows(spark, root, c).select("doc_id").as[Long].collect().toSet)
    assertLostStagingRefused(root, ids) {
      CuratedStore.stageAdmit(spark, root, 0L, batch, c, minQuality = 0.0).get
    }
    assert(CuratedStore.committedBatches(root, c).isEmpty)
  }

  test("a whole-table overwrite keeps CHECK declarations and drops ANALYZE stats") {
    val path = freshPath()
    Upsert.writeTableAtomic(spark, df(("d1", 1L, 10L), ("d2", 2L, 20L)), path, c)
    Upsert.analyzeTable(spark, path, c)
    Upsert.addConstraint(spark, path, "v_pos", "v > 0", c)
    val m0 = c.readManifest(path)
    assert(m0.keys.exists(_.startsWith("__stats.")) && m0.contains("__check.v_pos"))

    Upsert.writeTableAtomic(spark, df(("d3", 3L, 30L)), path, c)
    val m = c.readManifest(path)
    assert(m.get("__check.v_pos") == m0.get("__check.v_pos"))
    assert(!m.keys.exists(_.startsWith("__stats.")),
      "stats describe the replaced data and must not survive the overwrite")
    assert(rows(path) == Set(("d3", 3L, 30L)))
  }
}
