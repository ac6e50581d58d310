package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.MaterializedViews

/** Materialized-view rewrite: aggregates over the base data re-plan onto
  * the committed rollup when (and only when) the match is provably sound —
  * subset groups re-aggregate, group-only filters map through, anything
  * the MV aggregated away refuses. Results must be indistinguishable from
  * computing over the base.
  */
class MvRewriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val basePath = {
    val p = Files.createTempDirectory("graft-mv").toString + "/base"
    (0 until 400).map { i =>
      (s"d${i % 5}", s"t${i % 3}", i.toLong, (i % 7).toLong)
    }.toDF("day", "typ", "v", "w").write.parquet(p)
    p
  }
  private def base = spark.read.parquet(basePath)

  private lazy val mvPath = {
    val p = Files.createTempDirectory("graft-mv").toString + "/mv"
    MaterializedViews.create(spark, "daily", base,
      groups = Seq("day" -> col("day"), "typ" -> col("typ")),
      measures = Seq(("sum_v", "sum", col("v")), ("max_v", "max", col("v")),
        ("min_w", "min", col("w"))),
      path = p)
    p
  }

  private def scannedPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    // logical-level probe: AQE hides physical scans behind
    // AdaptiveSparkPlanExec, but the rewrite is visible (and binding) in
    // the optimized plan's relations
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
  private def scansMv(df: org.apache.spark.sql.DataFrame): Boolean = {
    val ps = scannedPaths(df)
    ps.exists(_.contains("/mv")) && !ps.exists(_.contains("/base"))
  }
  private def scansBase(df: org.apache.spark.sql.DataFrame): Boolean =
    scannedPaths(df).exists(_.contains("/base"))

  test("subset-group roll-up rewrites to the MV and answers identically") {
    mvPath
    val q = base.groupBy("typ")
      .agg(sum("v").as("sv"), count(lit(1)).as("c"), max("v").as("mx"))
    assert(scansMv(q), "the roll-up must re-plan onto the MV scan")
    // ground truth recomputed with the rule disabled
    val expected = {
      MaterializedViews.drop(spark, "daily")
      try base.groupBy("typ")
        .agg(sum("v").as("sv"), count(lit(1)).as("c"), max("v").as("mx"))
        .as[(String, Long, Long, Long)].collect().toSet
      finally { reRegister() }
    }
    assert(q.as[(String, Long, Long, Long)].collect().toSet == expected)
  }

  private def reRegister(): Unit =
    MaterializedViews.create(spark, "daily", base,
      groups = Seq("day" -> col("day"), "typ" -> col("typ")),
      measures = Seq(("sum_v", "sum", col("v")), ("max_v", "max", col("v")),
        ("min_w", "min", col("w"))),
      path = mvPath)

  test("exact-group query and global aggregate both rewrite") {
    mvPath
    val exact = base.groupBy("day", "typ").agg(sum("v").as("sv"))
    assert(scansMv(exact))
    assert(exact.as[(String, String, Long)].collect().toSet ==
      (0 until 400).groupBy(i => (s"d${i % 5}", s"t${i % 3}"))
        .map { case ((d, t), is) => (d, t, is.map(_.toLong).sum) }.toSet)

    val global = base.agg(count(lit(1)).as("c"), min("w").as("mw"))
    assert(scansMv(global))
    assert(global.as[(Long, Long)].head() == ((400L, 0L)))
  }

  test("filters over group expressions map through; others refuse") {
    mvPath
    val ok = base.filter(col("day") === "d1")
      .groupBy("typ").agg(sum("v").as("sv"))
    assert(scansMv(ok))
    assert(ok.as[(String, Long)].collect().toSet ==
      (0 until 400).filter(_ % 5 == 1).groupBy(i => s"t${i % 3}")
        .map { case (t, is) => (t, is.map(_.toLong).sum) }.toSet)

    // v was aggregated away — the MV cannot filter on it
    val refuse = base.filter(col("v") > 100L).groupBy("typ").agg(sum("v").as("sv"))
    assert(scansBase(refuse), "a non-group filter must stay on the base")
  }

  test("unsupported shapes refuse: distinct, unrecorded measures, different base") {
    mvPath
    assert(scansBase(base.groupBy("typ").agg(countDistinct("v").as("d"))))
    assert(scansBase(base.groupBy("typ").agg(sum("w").as("sw"))), "sum(w) was never recorded")
    assert(scansBase(base.groupBy("typ").agg(avg("v").as("a"))), "avg not supported")

    val otherPath = Files.createTempDirectory("graft-mv").toString + "/base"
    Seq(("d1", "t1", 1L, 1L)).toDF("day", "typ", "v", "w").write.parquet(otherPath)
    val other = spark.read.parquet(otherPath)
    assert(scannedPaths(other.groupBy("typ").agg(sum("v").as("sv")))
      .forall(!_.contains("/mv")), "a different base must never match")
  }

  test("count(NULL) refuses; a second MV over the same base can be defined") {
    mvPath
    // count over a null argument is 0 per group — it must NOT become
    // sum(cnt)
    val q = base.groupBy("typ").agg(count(lit(null)).as("c"))
    assert(scansBase(q))
    assert(q.as[(String, Long)].collect().toSet ==
      Set(("t0", 0L), ("t1", 0L), ("t2", 0L)))

    // defining a COARSER second MV: its definition aggregate matches the
    // first MV, but extraction must bypass the rewrite (else it aborts on
    // the rewritten plan's shape)
    val p2 = Files.createTempDirectory("graft-mv").toString + "/mv"
    MaterializedViews.create(spark, "daily2", base,
      groups = Seq("day" -> col("day")),
      measures = Seq(("sum_v", "sum", col("v"))), path = p2)
    try {
      val q2 = base.groupBy("day").agg(sum("v").as("sv"))
      assert(scannedPaths(q2).nonEmpty && !scansBase(q2),
        "the coarser query must rewrite onto one of the MVs")
      assert(q2.as[(String, Long)].collect().toSet ==
        (0 until 400).groupBy(i => s"d${i % 5}")
          .map { case (d, is) => (d, is.map(_.toLong).sum) }.toSet)
    } finally MaterializedViews.drop(spark, "daily2")
  }

  test("derived group expressions match semantically") {
    mvPath
    // the query re-derives the group column through a projection chain;
    // peeling inlines it back to the recorded expression
    val q = base.select(col("day").as("dd"), col("v"))
      .groupBy("dd").agg(sum("v").as("sv"))
    assert(scansMv(q))
    assert(q.as[(String, Long)].collect().toSet ==
      (0 until 400).groupBy(i => s"d${i % 5}")
        .map { case (d, is) => (d, is.map(_.toLong).sum) }.toSet)
  }
}
