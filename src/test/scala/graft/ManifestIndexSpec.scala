package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Upsert
import graft.sources.{ManifestFileIndex, ManifestTable}
import graft.streaming.VersionedCommitter

/** Declarative manifest reads: a plain `.filter(...)` over the indexed
  * relation pushes its predicates into the custom FileIndex, which skips
  * non-intersecting partitions via the committed zone maps — correct rows,
  * and the scan's own numFiles metric proves the skipped dirs were never
  * listed into the plan.
  */
class ManifestIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def build(): String = {
    val path = Files.createTempDirectory("graft-mfi").toString + "/t"
    Upsert.enableRangeStats(path, Seq("version"))
    Upsert.replacePartitionsAtomic(spark,
      Seq(("d1", 1L, 5L), ("d1", 2L, 10L), ("d2", 3L, 100L), ("d2", 4L, 110L),
        ("d3", 5L, 200L), ("d3", 6L, 210L)).toDF("day", "id", "version")
        .coalesce(1), // one file per partition → deterministic numFiles
      path, "day", Seq("d1", "d2", "d3"))
    path
  }

  private def scanFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    TestSpark.fileScanNodes(df.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
  }

  test("pushed range filters prune partitions through the zone maps, declaratively") {
    val path = build()
    val t = ManifestTable.readTableIndexed(spark, path)
    val q = t.filter(col("version").between(100L, 150L))
    assert(q.as[(String, Long, Long)].collect().toSet ==
      Set(("d2", 3L, 100L), ("d2", 4L, 110L)))
    val pruned = scanFiles(q)
    val all = scanFiles(ManifestTable.readTableIndexed(spark, path))
    assert(all == 3L, s"one file per partition expected, got $all")
    assert(pruned == 1L, s"only d2's file may be listed into the scan, got $pruned")
  }

  test("filters the index cannot interpret keep every partition (correct, just unpruned)") {
    val path = build()
    val t = ManifestTable.readTableIndexed(spark, path)
    // day is a string column with no zone map — no pruning, right answer
    val q = t.filter(col("day") === "d3")
    assert(q.as[(String, Long, Long)].collect().toSet ==
      Set(("d3", 5L, 200L), ("d3", 6L, 210L)))
    assert(scanFiles(q) == 3L, "uninterpretable predicate must not prune")
  }

  test("a disjunctive predicate never prunes (conservative), equality pins a point") {
    val path = build()
    val t = ManifestTable.readTableIndexed(spark, path)
    val disj = t.filter(col("version") === 5L || col("version") === 210L)
    assert(disj.as[(String, Long, Long)].collect().toSet ==
      Set(("d1", 1L, 5L), ("d3", 6L, 210L)))
    assert(scanFiles(disj) == 3L, "an OR must not be treated as a conjunct")
    val eq = t.filter(col("version") === 210L)
    assert(eq.as[(String, Long, Long)].collect().toSet == Set(("d3", 6L, 210L)))
    assert(scanFiles(eq) == 1L, "equality should pin d3 alone")
  }

  test("literal-first comparisons prune like attribute-first ones") {
    import org.apache.spark.sql.functions.lit
    val path = build()
    val t = ManifestTable.readTableIndexed(spark, path)
    val q = t.filter(lit(150L) >= col("version") && lit(100L) <= col("version"))
    assert(q.as[(String, Long, Long)].collect().toSet ==
      Set(("d2", 3L, 100L), ("d2", 4L, 110L)))
    assert(scanFiles(q) == 1L, s"flipped operand order must still prune")
  }

  test("boundOf refuses cast-wrapped attributes (a truncating cast would make pruning lossy)") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, LessThanOrEqual, Literal}
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val x = AttributeReference("x", DoubleType)()
    // cast(x as long) <= 5 matches x = 5.2, but the raw zone map [5.2, 5.9]
    // vs literal 5 would prune the partition — so no bound may be derived
    assert(ManifestTable.boundOf(
      LessThanOrEqual(Cast(x, LongType), Literal(5L))).isEmpty)
    // the bare form still derives its interval
    assert(ManifestTable.boundOf(
      LessThanOrEqual(x, Literal(5.0))).contains(("x", Double.MinValue, 5.0)))
  }

  test("partition-scoped and as-of reads count and list only their own entries") {
    val path = Files.createTempDirectory("graft-mfi").toString + "/t"
    val c = new VersionedCommitter
    def day(d: String, n: Long, v: Long) = (1L to n).map(i => (d, i, v))
    Upsert.replacePartitionsAtomic(spark,
      (day("d1", 3L, 1L) ++ day("d2", 5L, 1L)).toDF("day", "id", "version"),
      path, "day", Seq("d1", "d2"), committer = c) // v1: 8 rows
    Upsert.replacePartitionsAtomic(spark,
      day("d3", 7L, 2L).toDF("day", "id", "version"),
      path, "day", Seq("d3"), committer = c) // v2: 15 rows
    val m = c.readManifest(path)
    assert(Seq("d1", "d2", "d3").forall(p => m.contains(s"__rows.$p")))

    val d2 = Upsert.readTablePartitions(spark, path, Seq("d2"), c)
    // answered from d2's own `__rows` stamp, not the table's sum
    assert(d2.groupBy().count().queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(d2.count() == 5L)
    assert(d2.inputFiles.nonEmpty && d2.inputFiles.forall(_.contains(s"/${m("d2")}/")),
      s"only d2's files may be listed: ${d2.inputFiles.mkString(",")}")
    assert(Upsert.readTableAsOf(spark, path, 1L, c).count() == 8L)
    assert(Upsert.readTable(spark, path, c).count() == 15L)
  }

  test("readTable, readTablePartitions and readTableAsOf plan through a ManifestFileIndex") {
    val path = Files.createTempDirectory("graft-mfi").toString + "/t"
    val c = new VersionedCommitter
    Upsert.replacePartitionsAtomic(spark,
      Seq(("d1", 1L, 5L), ("d2", 3L, 100L)).toDF("day", "id", "version"),
      path, "day", Seq("d1", "d2"), committer = c)
    def indexLeaves(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collectLeaves().count {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.isInstanceOf[ManifestFileIndex]
          case _ => false
        }
        case _ => false
      }
    assert(indexLeaves(Upsert.readTable(spark, path, c)) == 1)
    assert(indexLeaves(Upsert.readTablePartitions(spark, path, Seq("d2"), c)) == 1)
    assert(indexLeaves(Upsert.readTableAsOf(spark, path, 1L, c)) == 1)
  }

  test("a column reads non-null only while no committed dir holds its nulls") {
    val path = Files.createTempDirectory("graft-mfi").toString + "/t"
    Upsert.replacePartitionsAtomic(spark,
      Seq(("d1", Option(1L)), ("d1", Option.empty[Long])).toDF("day", "v"),
      path, "day", Seq("d1"))
    // d2's batch is provably non-null; d1 still holds a null
    Upsert.replacePartitionsAtomic(spark, Seq(("d2", 2L)).toDF("day", "v"),
      path, "day", Seq("d2"))
    assert(Upsert.readTable(spark, path).filter(col("v").isNull).count() == 1L)

    // a MoR delta carrying a null into a column committed non-null
    val mor = Files.createTempDirectory("graft-mfi").toString + "/t"
    Upsert.replacePartitionsAtomic(spark, Seq(("d1", 1L, 10L)).toDF("day", "id", "v"),
      mor, "day", Seq("d1"))
    assert(!Upsert.readTable(spark, mor).schema("v").nullable)
    Upsert.upsertKeysMor(spark, mor, "day", Seq("id"), Seq("id"),
      Seq(("d1", 2L, Option.empty[Long])).toDF("day", "id", "v"))
    assert(Upsert.readTable(spark, mor).filter(col("v").isNull)
      .selectExpr("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("stat-less tables read everything and answer correctly") {
    val path = Files.createTempDirectory("graft-mfi").toString + "/t"
    Upsert.replacePartitionsAtomic(spark,
      Seq(("d1", 1L, 5L), ("d2", 3L, 100L)).toDF("day", "id", "version"),
      path, "day", Seq("d1", "d2"))
    val q = ManifestTable.readTableIndexed(spark, path)
      .filter(col("version") > 50L)
    assert(q.as[(String, Long, Long)].collect().toSet == Set(("d2", 3L, 100L)))
    assert(scanFiles(q) == 2L)
  }
}
