package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Maintenance, Upsert}
import graft.streaming.VersionedCommitter

/** The full table lifecycle COMPOSED in one history: constraints + zone
  * maps declared up front, fragmented upserts, add-column evolution, a
  * rejected violating commit, row-level update and delete, compaction,
  * a retention-pinning tag, range-pruned reads, and explicit expiry —
  * every pairwise interaction the feature specs pin, exercised end-to-end
  * on one table with the state tracked by hand.
  */
class TableLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long, Option[String])] =
    df.selectExpr("day", "id", "version",
        if (df.columns.contains("tag")) "tag" else "CAST(NULL AS STRING) AS tag")
      .as[(String, Long, Long, Option[String])].collect().toSet

  test("constraints, stats, evolution, surgery, compaction, tags, and expiry compose on one table") {
    val path = Files.createTempDirectory("graft-life").toString + "/t"
    val c = new VersionedCommitter

    // declared BEFORE any data: both gates apply to every later commit
    Upsert.enableRangeStats(path, Seq("version"), c)
    Upsert.addConstraint(spark, path, "id_positive", "id > 0", c)

    def upsert(t: Seq[(String, Long, Double, Long)]): Unit =
      Upsert.upsertPartitionsAtomic(spark,
        t.toDF("day", "id", "value", "version").repartition(4),
        path, "day", keys = Seq("id"), order = Seq("version"), committer = c)

    upsert(Seq(("d1", 1L, 1.0, 100L), ("d1", 2L, 1.0, 100L), ("d2", 3L, 1.0, 100L)))
    upsert(Seq(("d2", 3L, 1.0, 101L), ("d2", 4L, 1.0, 101L)))

    // add-column evolution: d3 arrives with a nullable tag
    Upsert.upsertPartitionsAtomic(spark,
      Seq(("d3", 5L, 1.0, 101L, "x")).toDF("day", "id", "value", "version", "tag"),
      path, "day", keys = Seq("id"), order = Seq("version"), committer = c)
    val auditedVersion = c.versions(path).last
    c.tag(path, "audited", auditedVersion)
    val auditedState = Set(
      ("d1", 1L, 100L, None), ("d1", 2L, 100L, None),
      ("d2", 3L, 101L, None), ("d2", 4L, 101L, None),
      ("d3", 5L, 101L, Some("x")))
    assert(rows(Upsert.readTable(spark, path, c)) == auditedState)

    // row-level surgery on the evolved table
    Upsert.updateWhere(spark, path, "day", col("id") === 2L,
      Map("version" -> lit(200L)), c)
    Upsert.deleteWhere(spark, path, "day", col("id").isin(3L, 4L), c)
    val surgicalState = Set(
      ("d1", 1L, 100L, None), ("d1", 2L, 200L, None),
      ("d3", 5L, 101L, Some("x")))
    assert(rows(Upsert.readTable(spark, path, c)) == surgicalState)
    assert(!c.readManifest(path).contains("d2"), "emptied d2 must drop")

    // a violating commit is rejected with the state untouched (a delta
    // must carry the EVOLVED schema — the narrower form is rejected by the
    // add-only gate even earlier)
    intercept[IllegalArgumentException] { upsert(Seq(("d1", -9L, 1.0, 300L))) }
    intercept[Upsert.CheckViolationException] {
      Upsert.upsertPartitionsAtomic(spark,
        Seq(("d1", -9L, 1.0, 300L, Option.empty[String]))
          .toDF("day", "id", "value", "version", "tag"),
        path, "day", keys = Seq("id"), order = Seq("version"), committer = c)
    }
    assert(rows(Upsert.readTable(spark, path, c)) == surgicalState)

    // a fragmented micro-batch lands (the small-file debt), then
    // compaction: same rows, bin-packed layout, zone maps intact
    val d4 = (10L to 17L).map(i => ("d4", i, 1.0, 100L, Option.empty[String]))
    Upsert.replacePartitionsAtomic(spark,
      d4.toDF("day", "id", "value", "version", "tag").repartition(4),
      path, "day", Seq("d4"), c)
    val d4State = d4.map { case (d, i, _, v, t) => (d, i, v, t) }.toSet
    assert(Maintenance.compact(spark, path, committer = c).committed)
    val surgicalState2 = surgicalState ++ d4State
    assert(rows(Upsert.readTable(spark, path, c)) == surgicalState2)
    assert(Maintenance.tableFileStats(path, c).forall(_.nFiles == 1))
    val m = c.readManifest(path)
    assert(Upsert.rangeOf(m, "d1", "version").contains((100.0, 200.0)))
    assert(rows(Upsert.readTable(spark, path, c)
        .filter(col("version").between(150, 250))) ==
      Set(("d1", 2L, 200L, None)))

    // the tag still resolves the pre-surgery state, evolved schema included
    assert(rows(Upsert.readTableAsOfTag(spark, path, "audited", c)) == auditedState)

    // expiry: everything old goes except the pinned version and the window
    Maintenance.expireVersions(path, keepLast = 1, c)
    assert(c.versions(path).contains(auditedVersion))
    assert(rows(Upsert.readTableAsOfTag(spark, path, "audited", c)) == auditedState)
    assert(rows(Upsert.readTable(spark, path, c)) == surgicalState2)
  }

  test("ANALYZE stats round-trip the manifest, hostile strings included, and go stale honestly") {
    val path = Files.createTempDirectory("graft-life").toString + "/t"
    val c = new VersionedCommitter
    // a value with tab/newline/percent — the min/max encoding must survive
    val hostile = "a\tb\nc%2F d"
    Upsert.upsertPartitionsAtomic(spark,
      Seq(("d1", 1L, Some(hostile), 100L), ("d1", 2L, None, 100L),
        ("d2", 3L, Some("zz"), 100L))
        .toDF("day", "id", "tag", "version"),
      path, "day", keys = Seq("id"), order = Seq("version"), committer = c)
    val st = Upsert.analyzeTable(spark, path, c)
    assert(st.rowCount == 3L)
    val byCol = st.columns.map(s => s.column -> s).toMap
    assert(byCol("tag") == Upsert.ColumnStats("tag", 1L, 2L,
      Some(hostile), Some("zz")))
    assert(byCol("id") == Upsert.ColumnStats("id", 0L, 3L, Some("1"), Some("3")))
    // the committed copy parses back identically
    assert(Upsert.tableStats(path, c).contains(st))
    // stats survive unrelated commits (stale but present — ANALYZE cadence)
    Upsert.upsertPartitionsAtomic(spark,
      Seq(("d1", 4L, Option.empty[String], 101L)).toDF("day", "id", "tag", "version"),
      path, "day", keys = Seq("id"), order = Seq("version"), committer = c)
    assert(Upsert.tableStats(path, c).contains(st))
    // re-analyze refreshes; the tall read surface matches
    val st2 = Upsert.analyzeTable(spark, path, c)
    assert(st2.rowCount == 4L)
    val tall = Upsert.statsAsDataFrame(spark, path, c)
      .as[(String, Long, Long, Long, Option[String], Option[String])]
      .collect().toSet
    assert(tall.contains(("id", 4L, 0L, 4L, Some("1"), Some("4"))))
  }

  test("readTableCbo broadcasts exactly when the committed stats say the table is small") {
    val path = Files.createTempDirectory("graft-life").toString + "/t"
    val c = new VersionedCommitter
    Upsert.upsertPartitionsAtomic(spark,
      (1L to 50L).map(i => ("d1", i, s"n$i", 100L)).toDF("day", "id", "name", "version"),
      path, "day", keys = Seq("id"), order = Seq("version"), committer = c)
    val fact = (1L to 1000L).map(i => (i % 50 + 1, i)).toDF("id", "x")
    def planOf(dim: org.apache.spark.sql.DataFrame): String =
      fact.join(dim, "id").queryExecution.executedPlan.toString
    // isolate the stats decision from the planner's own size estimate
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // no stats committed yet → no hint → shuffle join
      val cold = planOf(Upsert.readTableCbo(spark, path, c))
      assert(!cold.contains("BroadcastHashJoin"), cold)
      Upsert.analyzeTable(spark, path, c)
      // stats say 50 rows × narrow schema → hinted broadcast
      val hinted = planOf(Upsert.readTableCbo(spark, path, c))
      assert(hinted.contains("BroadcastHashJoin"), hinted)
      // a threshold below the measured size withholds the hint
      val big = planOf(Upsert.readTableCbo(spark, path, c, thresholdBytes = 10L))
      assert(!big.contains("BroadcastHashJoin"), big)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
