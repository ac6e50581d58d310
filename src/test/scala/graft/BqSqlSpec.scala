package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.{RunLogGen, VitalsGen}
import graft.operators.{Dedup, Monitoring}
import graft.sql.BqSql

/** The reference's OWN SQL files (all 12 BigQuery artifacts, read verbatim
  * from /root/reference) run through the BqSql dialect front-end against
  * engine-registered tables, each differentialed against the native
  * operator or an independently-built expected frame — the literal proof of
  * "a user of the reference could switch and run every query they run
  * today".
  */
class BqSqlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def refSql(rel: String): String =
    new String(Files.readAllBytes(Paths.get(s"/root/reference/$rel")), UTF_8)

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  // ---- fixture: vitals_raw from three overlapping replication batches ----
  private val start = 1704103200L // 2024-01-01 10:00 UTC
  private lazy val vitalsRegistered: Unit = {
    val oltp = VitalsGen.vitals(spark, 300, start)
    val batches = Seq(1, 2, 3).map(i =>
      VitalsGen.extractBatch(oltp, start + i * 1800L, 40))
    batches.reduce(_ unionByName _).createOrReplaceTempView("vitals_raw")
  }

  private lazy val factVitalsRegistered: Unit = {
    vitalsRegistered
    BqSql.run(spark, refSql("sql/bq_fact_vitals.sql"))
  }

  test("bq_fact_vitals.sql: QUALIFY dedup ≡ native keepFirst, and the rank-1 rule fires on it") {
    vitalsRegistered
    val raw = spark.table("vitals_raw")
    assert(raw.count() > raw.select("event_id").distinct().count(),
      "fixture must contain overlap duplicates for the dedup to repair")
    val translated = BqSql.run(spark, refSql("sql/bq_fact_vitals.sql"))
    // the native side keeps its window: the rank-1 rule is excluded here
    val (nativePlan, nativeRows) = TestSpark.withoutRankOneRewrite {
      val native = Dedup.keepFirst(raw, Seq("event_id"), Seq(col("created_at").desc))
        .select(translated.columns.map(col).toIndexedSeq: _*)
      (native.queryExecution.optimizedPlan.toString, rows(native))
    }
    assert(nativePlan.contains("windowspecdefinition"),
      s"native baseline should keep the window:\n$nativePlan")
    assert(rows(translated) == nativeRows)
    assert(translated.count() == raw.select("event_id").distinct().count())
    // the translated QUALIFY becomes the engine's canonical rank-1 filter,
    // so the injected optimizer rule rewrites it window-free (max_by aggregate)
    val opt = spark.sql(BqSql.translate(refSql("sql/bq_fact_vitals.sql")).sparkSelect)
    val plan = opt.queryExecution.optimizedPlan.toString
    assert(plan.contains("max_by") && !plan.contains("windowspecdefinition"),
      s"reference QUALIFY should get the max_by plan:\n$plan")
    assert(rows(opt) == nativeRows, "rewritten plan must answer identically")
  }

  test("general-boolean QUALIFY falls back to the __qualify column path") {
    vitalsRegistered
    // not the ROW_NUMBER()=1 shape: rank over a window AND a plain
    // predicate — exercises the fallback branch that was otherwise only
    // reachable through future reference SQL
    val q = """SELECT event_id, patient_id, value_num FROM vitals_raw
      QUALIFY RANK() OVER (PARTITION BY event_id ORDER BY created_at DESC) = 1 AND value_num >= 0
      ORDER BY event_id"""
    val translated = BqSql.run(spark, q)
    val native = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_id").orderBy(col("created_at").desc)
      spark.table("vitals_raw")
        .withColumn("__rk", rank().over(w))
        .filter(col("__rk") === 1 && col("value_num") >= 0)
        .select("event_id", "patient_id", "value_num")
    }
    assert(rows(translated) == rows(native))
    assert(translated.count() > 0)
    assert(!translated.columns.contains("__qualify"),
      "the helper column must not leak into the result")
  }

  test("out-of-inventory constructs fail fast instead of mistranslating") {
    // top-level WITH: the CTE would land in the discarded header and the
    // emitted SQL would silently lose its definition
    val cte = intercept[IllegalArgumentException] {
      BqSql.translate("WITH x AS (SELECT 1 AS a) SELECT * FROM x")
    }
    assert(cte.getMessage.contains("WITH"))
    // GENERATE_DATE_ARRAY: day-step third argument translates, others throw
    val stepped = BqSql.translate(
      "SELECT d FROM UNNEST(GENERATE_DATE_ARRAY(DATE '2024-01-01', DATE '2024-01-09', INTERVAL 2 DAY)) AS d")
    assert(spark.sql(stepped.sparkSelect).count() == 5)
    val bad = intercept[RuntimeException] {
      BqSql.translate(
        "SELECT d FROM UNNEST(GENERATE_DATE_ARRAY(DATE '2024-01-01', DATE '2025-01-01', INTERVAL 1 MONTH)) AS d")
    }
    assert(bad.getMessage.contains("GENERATE_DATE_ARRAY"))
  }

  test("bq_dim_patient/code/unit/source.sql ≡ native aggregations") {
    factVitalsRegistered
    val fact = spark.table("fact_vitals")
    val patient = BqSql.run(spark, refSql("sql/bq_dim_patient.sql"))
    val expPatient = fact.groupBy(col("patient_id"))
      .agg(min(to_date(col("effective_ts"))).as("first_seen_date"),
        max(to_date(col("effective_ts"))).as("last_seen_date"),
        count(lit(1)).as("measurement_count"))
      .select(sha2(col("patient_id"), 256).as("patient_key"), col("patient_id"),
        col("first_seen_date"), col("last_seen_date"), col("measurement_count"))
    assert(rows(patient) == rows(expPatient) && patient.count() == 3) // P001-P003

    val code = BqSql.run(spark, refSql("sql/bq_dim_code.sql"))
    val expCode = fact.groupBy(col("loinc_code"))
      .agg(any_value(col("code_display")).as("code_display"))
      .select(sha2(col("loinc_code"), 256).as("code_key"), col("loinc_code"),
        col("code_display"))
    assert(rows(code) == rows(expCode) && code.count() == 1)

    val unit = BqSql.run(spark, refSql("sql/bq_dim_unit.sql"))
    assert(rows(unit) == rows(fact.select(col("unit")).distinct()
      .select(sha2(col("unit"), 256).as("unit_key"), col("unit"))))
    val source = BqSql.run(spark, refSql("sql/bq_dim_source.sql"))
    assert(rows(source) == rows(fact.select(col("source")).distinct()
      .select(sha2(col("source"), 256).as("source_key"), col("source"))))
  }

  test("bq_dim_time.sql: GENERATE_DATE_ARRAY/UNNEST/EXTRACT/FORMAT_DATE calendar ≡ native build") {
    factVitalsRegistered
    val dimTime = BqSql.run(spark, refSql("sql/bq_dim_time.sql"))
    val fact = spark.table("fact_vitals")
    val expected = fact
      .agg(to_date(min(col("effective_ts"))).as("lo"),
        to_date(max(col("effective_ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("date_key"))
      .select(
        col("date_key"),
        date_format(col("date_key"), "yyyyMMdd").cast("bigint").as("date_id"),
        year(col("date_key")).as("year"),
        quarter(col("date_key")).as("quarter"),
        month(col("date_key")).as("month"),
        date_format(col("date_key"), "MMMM").as("month_name"),
        weekofyear(col("date_key")).as("iso_week"),
        dayofmonth(col("date_key")).as("day_of_month"),
        dayofweek(col("date_key")).as("day_of_week"),
        date_format(col("date_key"), "EEEE").as("day_name"),
        dayofweek(col("date_key")).isin(1, 7).as("is_weekend"))
    assert(dimTime.count() > 0)
    assert(rows(dimTime) == rows(expected))
  }

  test("bq_fact_vitals_star.sql: USING star join ≡ native join; layout DDL surfaces as metadata") {
    factVitalsRegistered
    BqSql.run(spark, refSql("sql/bq_dim_patient.sql"))
    BqSql.run(spark, refSql("sql/bq_dim_code.sql"))
    BqSql.run(spark, refSql("sql/bq_dim_unit.sql"))
    BqSql.run(spark, refSql("sql/bq_dim_source.sql"))
    val st = BqSql.translate(refSql("sql/bq_fact_vitals_star.sql"))
    assert(st.table == "fact_vitals_star" && !st.isView)
    assert(st.partitionExpr.exists(_.toUpperCase.startsWith("DATE(")))
    assert(st.clusterCols == Seq("patient_key", "code_key"))
    val star = BqSql.run(spark, refSql("sql/bq_fact_vitals_star.sql"))
    val fact = spark.table("fact_vitals")
    val expected = fact
      .join(spark.table("dim_patient"), Seq("patient_id"))
      .join(spark.table("dim_code"), Seq("loinc_code"))
      .join(spark.table("dim_unit"), Seq("unit"))
      .join(spark.table("dim_source"), Seq("source"))
      .select(col("patient_key"), col("code_key"), col("unit_key"),
        col("source_key"), to_date(col("effective_ts")).as("date_key"),
        col("event_id"), col("value_num").as("measure_value"), col("effective_ts"))
    assert(star.count() == fact.count(), "star join must not drop or fan out fact rows")
    assert(rows(star) == rows(expected))
  }

  test("all 5 monitoring views run as a chain over the run-log table ≡ native Monitoring operators") {
    val log = RunLogGen.runLog(spark, 60, start)
    log.createOrReplaceTempView("cloudscheduler_googleapis_com_executions")
    // pin CURRENT_DATE at the fixture's last shard so the 7-day window is
    // deterministic (the reference view anchors on the real current date)
    val today = log.agg(max(col("day_partition"))).head().getString(0)
    val curDate = Some(java.time.LocalDate.parse(today,
      java.time.format.DateTimeFormatter.BASIC_ISO_DATE).toString)

    val results = BqSql.run(spark, refSql("monitoring/scheduler_executions_results_vw.sql"), curDate)
    val nativeResults = Monitoring.resultsFromRunLog(log, today)
    // same rows modulo column naming (http_status/target_url vs status/request_url)
    assert(rows(results.select(col("timestamp"), col("job_name"), col("http_status"),
        col("is_success"), col("target_url"), col("severity"))) ==
      rows(nativeResults.select(col("timestamp"), col("job_name"), col("status"),
        col("is_success"), col("request_url"), col("severity"))))
    assert(results.count() > 0)

    val daily = BqSql.run(spark, refSql("monitoring/scheduler_executions_daily_summary_vw.sql"), curDate)
    val nativeDaily = Monitoring.dailySummaryFromRunLog(log, today)
    assert(rows(daily.select(col("event_date"), col("job_name"), col("total_runs"),
        col("success_runs"), col("failed_runs"), round(col("success_rate"), 4))) ==
      rows(nativeDaily.select(col("event_date"), col("job_name"), col("total_runs"),
        col("success_runs"), col("failed_runs"), col("success_rate"))))

    val last = BqSql.run(spark, refSql("monitoring/scheduler_executions_last_status_vw.sql"), curDate)
    val nativeLast = Monitoring.lastStatusFromRunLog(log, today)
    assert(rows(last.select(col("job_name"), col("last_event_ts"),
        col("last_http_status"), col("last_is_success"))) ==
      rows(nativeLast.select(col("job_name"), col("timestamp"), col("status"),
        col("is_success"))))

    val sevenDay = BqSql.run(spark, refSql("monitoring/scheduler_executions_7d_summary_vw.sql"), curDate)
    val native7d = Monitoring.sevenDaySummaryFromRunLog(log, today)
    assert(rows(sevenDay.select(col("job_name"), col("runs_7d"), col("success_7d"),
        round(col("success_rate_7d"), 4))) ==
      rows(native7d.select(col("job_name"), col("runs_7d"), col("success_7d"),
        col("success_rate_7d"))))

    val errors = BqSql.run(spark, refSql("monitoring/scheduler_executions_errors_vw.sql"), curDate)
    val nativeErrors = Monitoring.errorsFromRunLog(log, today)
    assert(rows(errors.select(col("timestamp"), col("job_name"), col("http_status"),
        col("target_url"), col("severity"))) ==
      rows(nativeErrors.select(col("timestamp"), col("job_name"), col("status"),
        col("request_url"), col("severity"))))
    assert(errors.count() > 0, "fixture must contain failures")
  }

  test("materialize honors the reference's PARTITION BY + CLUSTER BY layout on the write") {
    factVitalsRegistered
    BqSql.run(spark, refSql("sql/bq_dim_patient.sql"))
    BqSql.run(spark, refSql("sql/bq_dim_code.sql"))
    BqSql.run(spark, refSql("sql/bq_dim_unit.sql"))
    BqSql.run(spark, refSql("sql/bq_dim_source.sql"))
    val out = Files.createTempDirectory("bq-mat").toString
    BqSql.materialize(spark, refSql("sql/bq_fact_vitals_star.sql"), out)
    val partDirs = new java.io.File(s"$out/fact_vitals_star").listFiles()
      .filter(_.getName.startsWith("__part_key=")).map(_.getName)
    assert(partDirs.nonEmpty, "PARTITION BY DATE(effective_ts) must produce day dirs")
    val back = spark.read.parquet(s"$out/fact_vitals_star")
    assert(back.count() == spark.table("fact_vitals").count())
  }
}
