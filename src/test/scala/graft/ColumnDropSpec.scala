package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Upsert
import graft.streaming.VersionedCommitter

/** Column drop without rewrite: the committed schema loses the field, no
  * data dir is touched, history keeps the column, and the physical name is
  * retired forever (old files still carry values under it).
  */
class ColumnDropSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df(t: (String, Long, Long, Long)*) =
    t.toSeq.toDF("day", "id", "v", "w")

  test("drop is metadata-only; reads lose the column, history keeps it") {
    val path = Files.createTempDirectory("graft-drop").toString + "/t"
    val c = new VersionedCommitter
    Upsert.upsertPartitionsAtomic(spark, df(("d1", 1L, 10L, 100L), ("d2", 2L, 20L, 200L)),
      path, "day", Seq("id"), Seq("v", "w"), c)

    Upsert.dropColumn(path, "w", c)
    val t = Upsert.readTable(spark, path, c)
    assert(t.columns.toSeq == Seq("day", "id", "v"))
    assert(t.selectExpr("day", "id", "v").as[(String, Long, Long)]
      .collect().toSet == Set(("d1", 1L, 10L), ("d2", 2L, 20L)))
    // no data dir re-pointed — the drop commit references the same dirs
    assert(c.readManifestAsOf(path, 1L).filterNot(_._1.startsWith("__")) ==
      c.readManifest(path).filterNot(_._1.startsWith("__")))
    // as-of the pre-drop version: the column is still there, with values
    val v1 = Upsert.readTableAsOf(spark, path, 1L, c)
    assert(v1.columns.toSeq == Seq("day", "id", "v", "w"))
    assert(v1.selectExpr("id", "w").as[(Long, Long)].collect().toSet ==
      Set((1L, 100L), (2L, 200L)))
  }

  test("post-drop deltas work without the column; the name is retired") {
    val path = Files.createTempDirectory("graft-drop").toString + "/t"
    val c = new VersionedCommitter
    Upsert.upsertPartitionsAtomic(spark, df(("d1", 1L, 10L, 100L)),
      path, "day", Seq("id"), Seq("v", "w"), c)
    Upsert.dropColumn(path, "w", c)

    // a delta WITHOUT the dropped column is the normal case — merges
    // against existing rows read under the post-drop schema
    Upsert.upsertPartitionsAtomic(spark,
      Seq(("d1", 3L, 30L)).toDF("day", "id", "v"),
      path, "day", Seq("id"), Seq("v"), c)
    assert(Upsert.readTable(spark, path, c).selectExpr("id", "v")
      .as[(Long, Long)].collect().toSet == Set((1L, 10L), (3L, 30L)))

    // a delta CARRYING the dropped name must refuse: partition d1's old
    // files still store w-values under that physical name, so a re-added
    // "w" would resurrect 100L on pre-drop rows instead of reading null
    val e = intercept[IllegalArgumentException] {
      Upsert.upsertPartitionsAtomic(spark,
        Seq(("d2", 4L, 40L, 999L)).toDF("day", "id", "v", "w"),
        path, "day", Seq("id"), Seq("v", "w"), c)
    }
    assert(e.getMessage.contains("dropped"))
  }

  test("refusals: partition column, unknown column, referenced CHECK") {
    val path = Files.createTempDirectory("graft-drop").toString + "/t"
    val c = new VersionedCommitter
    Upsert.upsertPartitionsAtomic(spark, df(("d1", 1L, 10L, 100L)),
      path, "day", Seq("id"), Seq("v", "w"), c)

    assert(intercept[IllegalArgumentException] {
      Upsert.dropColumn(path, "day", c)
    }.getMessage.contains("partition column"))
    assert(intercept[IllegalArgumentException] {
      Upsert.dropColumn(path, "nope", c)
    }.getMessage.contains("no column"))

    Upsert.addConstraint(spark, path, "w_pos", "w > 0", c)
    assert(intercept[IllegalArgumentException] {
      Upsert.dropColumn(path, "w", c)
    }.getMessage.contains("CHECK"))
    Upsert.dropConstraint(path, "w_pos", c)
    Upsert.dropColumn(path, "w", c) // now fine
  }

  test("stats declarations auto-strip; later writes stay green") {
    val path = Files.createTempDirectory("graft-drop").toString + "/t"
    val c = new VersionedCommitter
    Upsert.upsertPartitionsAtomic(spark, df(("d1", 1L, 10L, 100L)),
      path, "day", Seq("id"), Seq("v", "w"), c)
    Upsert.enableRangeStats(path, Seq("w", "v"), c)
    Upsert.enableBloomStats(path, Seq("w"), expectedItemsPerPartition = 100L,
      committer = c)
    Upsert.dropColumn(path, "w", c)
    // the declarations no longer reference w — a write would otherwise
    // fail the declared-column-present gate
    Upsert.upsertPartitionsAtomic(spark,
      Seq(("d1", 2L, 20L)).toDF("day", "id", "v"),
      path, "day", Seq("id"), Seq("v"), c)
    // v's zone map survives and the pruned read still works
    val r = Upsert.readTable(spark, path, c)
      .filter(col("v").between(15, 25))
    assert(r.selectExpr("id").as[Long].collect().toSet == Set(2L))
  }

  test("composes with rename: both names stay retired") {
    val path = Files.createTempDirectory("graft-drop").toString + "/t"
    val c = new VersionedCommitter
    Upsert.upsertPartitionsAtomic(spark, df(("d1", 1L, 10L, 100L)),
      path, "day", Seq("id"), Seq("v", "w"), c)
    Upsert.renameColumn(path, "w", "weight", c)
    Upsert.dropColumn(path, "weight", c) // physical name is w

    // physical w is dropped-retired; logical "weight" maps to physical
    // "weight", which old files never carried — re-adding it is SAFE and
    // must back-fill null on pre-drop rows
    assert(intercept[IllegalArgumentException] {
      Upsert.upsertPartitionsAtomic(spark,
        Seq(("d1", 2L, 20L, 5L)).toDF("day", "id", "v", "w"),
        path, "day", Seq("id"), Seq("v", "w"), c)
    }.getMessage.contains("dropped"))
    Upsert.upsertPartitionsAtomic(spark,
      Seq(("d1", 2L, 20L, Option(5L))).toDF("day", "id", "v", "weight"),
      path, "day", Seq("id"), Seq("v", "weight"), c)
    val t = Upsert.readTable(spark, path, c)
    assert(t.selectExpr("id", "v", "weight").as[(Long, Long, Option[Long])]
      .collect().toSet == Set((1L, 10L, None), (2L, 20L, Some(5L))),
      "pre-drop rows must back-fill the re-added column as null, never " +
        "resurrect the old physical values")
  }
}
