package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Monitoring}
import graft.pipeline.Views
import graft.plans.{MetadataOnlyCount, RewriteAggregateToMv, RewriteRankOneToMaxBy, StatsJoinReorder}
import graft.sources.Tables

/** The SQL surface: a reference user's SELECT-against-views workflow must
  * produce the same results as the DataFrame API over the same fixture.
  */
class ViewsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  test("the factory-built session fixes UTC, the ns reader, the rules and functions at build") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get(Tables.NanosAsLongConf) == "true")
    val rules = spark.sessionState.optimizer.extendedOperatorOptimizationRules.map(_.ruleName)
    Seq(RewriteRankOneToMaxBy, RewriteAggregateToMv, MetadataOnlyCount, StatsJoinReorder)
      .foreach(r => assert(rules.count(_ == r.ruleName) == 1, s"${r.ruleName} in $rules"))
    assert(spark.experimental.extraOptimizations.isEmpty)
    assert(spark.sql("SELECT cosine_sim(array(2.0D, 0.0D), array(5.0D, 0.0D))").first()
      .getDouble(0) == 1.0)
  }

  test("SQL star rollup over registered views matches the DataFrame form") {
    Views.registerAll(spark, dir)
    val sql = spark.sql(
      """SELECT d.date_id, count(*) AS n_events
        |FROM fact_events_star f JOIN dim_date d ON f.date_key = d.date_key
        |GROUP BY d.date_id""".stripMargin)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val fact = Dedup.latestEvents(Tables.events(spark, dir))
    val df = fact.groupBy(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")).as("date_id"))
      .count()
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(sql == df)
    assert(sql.values.sum > 0)
  }

  test("native SQL functions reach the codegen'd expression kernels") {
    Views.registerAll(spark, dir)
    val r = spark.sql(
      """SELECT
        |  cosine_sim(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS orth,
        |  cosine_sim(array(2.0D, 0.0D), array(5.0D, 0.0D)) AS par,
        |  poly_rolling_hash('abc') AS rh,
        |  shingles('a b c d', 3) AS sh,
        |  simhash64(array('a', 'b')) AS s64,
        |  size(minhash_sig(array('a', 'b'), 16)) AS mh_len""".stripMargin).first()
    assert(r.getAs[Double]("orth") == 0.0)
    assert(r.getAs[Double]("par") == 1.0)
    assert(r.getAs[Long]("rh") == ((97L * 131 + 98) * 131 + 99) % 2147483647L)
    assert(r.getSeq[String](r.fieldIndex("sh")) == Seq("a b c", "b c d"))
    // same kernel as the Column API → identical value
    import org.apache.spark.sql.functions._
    val viaCol = spark.range(1)
      .select(graft.functions.expr.VectorExpressions
        .simhash64(typedLit(Seq("a", "b"))).as("s"))
      .first().getAs[Long]("s")
    assert(r.getAs[Long]("s64") == viaCol)
    assert(r.getAs[Int]("mh_len") == 16)
    // non-literal k must fail loudly, not mis-hash
    val err = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array('a'), CAST(id AS INT)) FROM range(1)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("literal"))
  }

  test("SQL monitoring query matches the DataFrame form") {
    Views.registerAll(spark, dir)
    val sqlN = spark.sql(
      "SELECT count(*) FROM mon_results WHERE status BETWEEN 50 AND 99")
      .first().getLong(0)
    val dfN = Monitoring.results(Tables.events(spark, dir))
      .filter(org.apache.spark.sql.functions.col("is_success")).count()
    assert(sqlN == dfN && sqlN > 0)
  }
}
