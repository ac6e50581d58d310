package graft

import java.nio.file.{Files, Path}

import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.pipeline.{Pipeline, Upsert}
import graft.sources.Tables
import graft.streaming.{AtomicRenameCommitter, StreamStar}

/** The closing of the streaming→incremental loop (r11 verdict #3): a
  * foreachBatch-maintained star must end byte-equal to the batch
  * pipeline's star over the same events — including across a stream
  * restart from checkpoint — while only rewriting the day partitions
  * each micro-batch touches.
  */
class StreamStarSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def addFile(src: Path, n: Int, df: DataFrame): Unit = {
    val tmp = Files.createTempDirectory("ss-batch")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, src.resolve(s"batch_$n.parquet"))
  }

  private def runOnce(src: Path, root: String, ckpt: Path,
                      schema: org.apache.spark.sql.types.StructType): Unit = {
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // one landed file per micro-batch
      .parquet(src.toString)
    StreamStar.maintainStar(spark, stream, root, ckpt.toString)
      .awaitTermination()
  }

  test("foreachBatch star maintenance ≡ batch pipeline star, across restart") {
    val sf = "/root/testdata/sf0.001"

    // ground truth: the batch pipeline over the full events table
    val pipeOut = Files.createTempDirectory("ss-pipe").toString
    Pipeline.run(spark, sf, pipeOut)

    // the same events as three time-ordered replication windows
    val ev = Tables.events(spark, sf)
      .withColumn("__b", ntile(3).over(Window.orderBy("ts", "event_id")))
    val chunks = (1 to 3).map(i => ev.filter(col("__b") === i).drop("__b"))

    val src = Files.createTempDirectory("ss-src")
    val ckpt = Files.createTempDirectory("ss-ckpt")
    val root = Files.createTempDirectory("ss-root").toString

    // first run: windows 1+2 land, two micro-batches
    addFile(src, 1, chunks(0))
    addFile(src, 2, chunks(1))
    runOnce(src, root, ckpt, chunks(0).schema)
    val starAfter2 = Upsert.readTable(spark, s"$root/fact_events_star").count()
    assert(starAfter2 > 0 && starAfter2 < ev.count(),
      "mid-stream star should hold only the first two windows")

    // RESTART from checkpoint: window 3 lands; 1+2 must not reprocess
    addFile(src, 3, chunks(2))
    runOnce(src, root, ckpt, chunks(0).schema)

    type StarRow = (String, String, Long, Long, Double, Long)
    def rows(df: DataFrame): Set[StarRow] = df
      .select(col("user_key"), col("event_type_key"),
        col("date_key").cast("long"), col("event_id"),
        col("measure_value"), col("ts_us"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).toSet

    val streamed = rows(Upsert.readTable(spark, s"$root/fact_events_star"))
    val batch = rows(spark.read.parquet(s"$pipeOut/fact_events_star"))
    assert(streamed.size == batch.size && streamed == batch,
      "continuous star must equal the batch pipeline star")

    // dims converge to the batch CTAS snapshots too
    def dimRows(df: DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    Seq("dim_user", "dim_event_type", "dim_date").foreach { d =>
      val cols = spark.read.parquet(s"$pipeOut/$d").columns.sorted.map(col)
      assert(
        dimRows(Upsert.readTable(spark, s"$root/$d").select(cols.toIndexedSeq: _*)) ==
          dimRows(spark.read.parquet(s"$pipeOut/$d").select(cols.toIndexedSeq: _*)),
        s"streamed $d must equal the batch pipeline's $d")
    }

    // the fact snapshot is an ordinary manifest table: the keep-latest of
    // every landed row under its `yyyyMMdd` day, with the committed schema
    // and per-day footer row counts in its manifest
    val fact = Upsert.readTable(spark, s"$root/fact_snap")
    val want = Dedup.latestEvents(Tables.events(spark, sf))
      .withColumn("snap_day", date_format(col("ts"), "yyyyMMdd"))
    def factRows(df: DataFrame): Set[String] =
      df.select(want.columns.sorted.map(col).toIndexedSeq: _*)
        .collect().map(_.mkString("|")).toSet
    assert(factRows(fact) == factRows(want),
      "the streamed fact must equal the keep-latest of every landed row")
    val m = AtomicRenameCommitter.readManifest(s"$root/fact_snap")
    val days = Upsert.dataEntries(m).keySet
    assert(m.contains("__schema"), s"fact manifest carries no schema: ${m.keySet}")
    assert(days.nonEmpty && days.forall(d => m.contains(s"__rows.$d")),
      s"every fact day carries its row count: ${m.keySet}")
    assert(days.toSeq.map(d => m(s"__rows.$d").toLong).sum == want.count())
  }

  test("a micro-batch only replaces the star partitions of its touched days") {
    import spark.implicits._
    val root = Files.createTempDirectory("ss-inc").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10L, "click", 1.0, """{"k":"55"}"""),
      (2L, ts("2024-01-02 11:00:00"), 11L, "view", 2.0, """{"k":"55"}"""),
      (3L, ts("2024-01-05 12:00:00"), 12L, "click", 3.0, """{"k":"55"}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    StreamStar.upsertStarBatch(spark, b1, root)
    val m1 = graft.streaming.AtomicRenameCommitter
      .readManifest(s"$root/fact_events_star")
    // data entries only — `__schema` rides every commit since evolution
    assert(m1.keySet.filterNot(_.startsWith("__")) ==
      Set("20240101", "20240102", "20240105"))

    // batch touching only 01-05 (+ its predecessor 01-04, empty): the
    // 01-01/01-02 star partitions keep their manifest entries verbatim
    val b2 = Seq(
      (4L, ts("2024-01-05 13:00:00"), 12L, "view", 4.0, """{"k":"55"}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    StreamStar.upsertStarBatch(spark, b2, root)
    val m2 = graft.streaming.AtomicRenameCommitter
      .readManifest(s"$root/fact_events_star")
    assert(m2("20240101") == m1("20240101") && m2("20240102") == m1("20240102"),
      "untouched star day partitions must not be rewritten")
    assert(m2("20240105") != m1("20240105"))
    val day5 = Upsert.readTable(spark, s"$root/fact_events_star")
      .filter($"date_key" === 20240105L).select("event_id")
      .collect().map(_.getLong(0)).toSet
    assert(day5 == Set(3L, 4L))
  }

  test("a steady-state incremental tick runs a bounded number of Spark jobs") {
    import spark.implicits._
    val root = Files.createTempDirectory("ss-jobs").toString
    def batch(ids: Seq[Long], day: String) = ids.map(i =>
      (i, java.sql.Timestamp.valueOf(f"$day ${i % 24}%02d:00:00"), i % 3,
        "vitals", i.toDouble, """{"k":"55"}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    def tick(id: Long, df: DataFrame): Unit =
      StreamStar.upsertStarBatch(spark, df, root, batchId = Some(id),
        incrementalDims = true)
    tick(0L, batch(1L to 40L, "2024-01-01")) // seed: full-rebuild dims
    tick(1L, batch(41L to 60L, "2024-01-02")) // warm: first incremental tick
    // the measured tick lands new rows plus a re-sent one, like a cron
    // extract whose lookback overlaps the previous window
    val measured = batch((61L to 80L) :+ 45L, "2024-01-02")

    val group = "steady-state-tick"
    val jobGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        jobGroups.add(Option(s.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "one incremental tick")
    try tick(2L, measured)
    finally {
      spark.sparkContext.clearJobGroup()
      ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val groups = jobGroups.toArray.toSeq
    // the concurrent branches carry the caller's local properties
    assert(groups.forall(_ == group), s"every job of the tick is in its group: $groups")
    // 27 jobs when every dim re-derived the batch's new rows and each read
    // of the fact sampled parquet footers for its schema; 21 once the tick
    // derives them once (persisted), reads with known schemas and collects
    // its day set in one job; 18 once each incremental dim aggregates its
    // old rows and the new ones in one pass. A consumer that re-derives
    // the batch again fails here, not only in a benchmark.
    assert(groups.size <= 18, s"jobs per steady-state tick: ${groups.size}")
  }
}
