package graft.pipeline

import org.apache.spark.sql.SparkSession

import graft.operators.{Dedup, Dims, Monitoring, Star}
import graft.sources.Tables

/** SQL surface of the warehouse (S5): every table and model the reference
  * exposes, registered as temp views so a reference user's workflow —
  * `SELECT`s against named views (the reference's monitoring and model SQL
  * files) — carries over verbatim as `spark.sql(...)`.
  *
  * Views are lazy logical plans: nothing is computed at registration, and a
  * SQL query against them optimizes through Catalyst exactly like the
  * DataFrame form (same pushdown, same broadcasts, same dedup rewrite), so
  * there is no penalty for preferring the SQL interface.
  */
object Views {

  /** Base tables + derived models + monitoring views over `dir`. The
    * engine's native SQL functions (cosine_sim, simhash64, minhash_sig,
    * shingles, poly_rolling_hash) come with the session ([[graft.Session]]).
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val raw = Tables.events(spark, dir)

    // base tables (TPC-H-ish + documents/embeddings)
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings").foreach { t =>
      spark.read.parquet(Tables.path(dir, t)).createOrReplaceTempView(t)
    }
    raw.createOrReplaceTempView("events")

    // models: dedup fact, dims, star (reference sql/bq_*.sql)
    val fact = Dedup.latestEvents(raw)
    fact.createOrReplaceTempView("fact_events")
    val dimUser = Dims.dimUser(fact)
    val dimType = Dims.dimEventType(fact)
    val dimDate = Dims.dimDate(fact)
    dimUser.createOrReplaceTempView("dim_user")
    dimType.createOrReplaceTempView("dim_event_type")
    dimDate.createOrReplaceTempView("dim_date")
    Star.factStar(fact, dimUser, dimType, dimDate)
      .createOrReplaceTempView("fact_events_star")

    // monitoring suite (reference monitoring SQL views)
    Monitoring.results(raw).createOrReplaceTempView("mon_results")
    Monitoring.lastStatus(raw).createOrReplaceTempView("mon_last_status")
    Monitoring.dailySummary(raw).createOrReplaceTempView("mon_daily_summary")
    Monitoring.sevenDaySummary(raw).createOrReplaceTempView("mon_7d_summary")
    Monitoring.errors(raw).createOrReplaceTempView("mon_errors")
  }
}
