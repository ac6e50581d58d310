package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dims
import graft.pipeline.{Pipeline, Upsert}
import graft.sources.Tables
import graft.streaming.{AtomicRenameCommitter, SnapshotCommitter, StreamStar}

/** Mergeable (incremental) dims: the O(dim + batch) refresh path that
  * replaces the O(fact) per-cycle rebuild at scale. Pinned here:
  * (1) the mergeable forms are EXACTLY equivalent to the full rebuild over
  * any batch split; (2) the streaming star with incrementalDims ends equal
  * to the batch pipeline, across a restart; (3) a replayed micro-batch is
  * absorbed exactly once (the manifest batch-id ledger); (4) a cross-batch
  * duplicate row never double-counts; (5) a failed commit inside a
  * concurrent tick leaves the commit order intact and replays to the batch
  * pipeline's state.
  */
class IncrementalDimsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  private def splitThree(df: DataFrame): Seq[DataFrame] = {
    val b = df.withColumn("__b", ntile(3).over(Window.orderBy("ts", "event_id")))
    (1 to 3).map(i => b.filter(col("__b") === i).drop("__b"))
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("merge forms ≡ full rebuild over any batch split") {
    val ev = Tables.events(spark, sf)
    val Seq(b1, b2, b3) = splitThree(ev)
    assert(rows(Dims.mergeDimUser(Dims.mergeDimUser(Dims.dimUser(b1), b2), b3))
      == rows(Dims.dimUser(ev)))
    assert(rows(Dims.mergeDimEventType(
        Dims.mergeDimEventType(Dims.dimEventType(b1), b2), b3))
      == rows(Dims.dimEventType(ev)))
    assert(rows(Dims.mergeDimDate(Dims.mergeDimDate(Dims.dimDate(b1), b2), b3))
      == rows(Dims.dimDate(ev)))
  }

  test("an empty delta leaves every dim unchanged") {
    val ev = Tables.events(spark, sf)
    val none = ev.limit(0)
    assert(rows(Dims.mergeDimUser(Dims.dimUser(ev), none)) == rows(Dims.dimUser(ev)))
    assert(rows(Dims.mergeDimDate(Dims.dimDate(ev), none)) == rows(Dims.dimDate(ev)))
  }

  private def addFile(src: Path, n: Int, df: DataFrame): Unit = {
    val tmp = Files.createTempDirectory("idim-batch")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, src.resolve(s"batch_$n.parquet"))
  }

  private lazy val pipeOut: String = {
    val out = Files.createTempDirectory("idim-pipe").toString
    Pipeline.run(spark, sf, out)
    out
  }

  /** Dims (exact `event_count`s included) and star under `root` equal
    * `Pipeline.run`'s over all of `sf`'s events.
    */
  private def assertEqualsPipeline(root: String): Unit = {
    Seq("dim_user", "dim_event_type", "dim_date").foreach { d =>
      val cols = spark.read.parquet(s"$pipeOut/$d").columns.sorted.map(col)
      assert(
        rows(Upsert.readTable(spark, s"$root/$d").select(cols.toIndexedSeq: _*)) ==
          rows(spark.read.parquet(s"$pipeOut/$d").select(cols.toIndexedSeq: _*)),
        s"incremental $d must equal the batch pipeline's $d")
    }
    // and the star still matches (its joins consume the incremental dims)
    def starRows(df: DataFrame): Set[String] = rows(df.select(
      col("user_key"), col("event_type_key"), col("date_key").cast("long"),
      col("event_id"), col("measure_value"), col("ts_us")))
    assert(starRows(Upsert.readTable(spark, s"$root/fact_events_star")) ==
      starRows(spark.read.parquet(s"$pipeOut/fact_events_star")))
  }

  test("streaming star with incremental dims ≡ batch pipeline, across restart") {
    val Seq(c1, c2, c3) = splitThree(Tables.events(spark, sf))
    val src = Files.createTempDirectory("idim-src")
    val ckpt = Files.createTempDirectory("idim-ckpt")
    val root = Files.createTempDirectory("idim-root").toString
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(c1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.toString)
      StreamStar.maintainStar(spark, stream, root, ckpt.toString,
        incrementalDims = true).awaitTermination()
    }
    addFile(src, 1, c1)
    addFile(src, 2, c2)
    runOnce()
    addFile(src, 3, c3) // restart from checkpoint
    runOnce()

    assertEqualsPipeline(root)
  }

  /** Rename commits, except that while `armed` a commit to `failPath`
    * throws and a commit to `slowPath` first waits `delayMs` — so a tick
    * that rethrew before joining its sibling branches would return before
    * the slow one commits.
    */
  private class FailingCommitter(failPath: String, slowPath: String, delayMs: Long)
      extends SnapshotCommitter {
    @volatile var armed = false
    override def readManifest(path: String): Map[String, String] =
      AtomicRenameCommitter.readManifest(path)
    override def commit(path: String, entries: Map[String, String]): Unit = {
      if (armed && path == failPath)
        throw new java.io.IOException(s"injected commit failure at $path")
      if (armed && path == slowPath) Thread.sleep(delayMs)
      AtomicRenameCommitter.commit(path, entries)
    }
  }

  Seq("dim_event_type", "fact_snap").foreach { failing =>
    test(s"a failed $failing commit in a concurrent tick throws after every branch; replay ≡ pipeline") {
      val root = Files.createTempDirectory("idim-fault").toString
      val p = StreamStar.StarPaths(root)
      // dim_date is the tick's last branch, after the failing dim's
      val c = new FailingCommitter(s"$root/$failing", p.dimDate, delayMs = 1000)
      val Seq(c0, c1, c2) = splitThree(Tables.events(spark, sf))
      StreamStar.upsertStarBatch(spark, c0, root, c, Some(0L), incrementalDims = true)
      StreamStar.upsertStarBatch(spark, c1, root, c, Some(1L), incrementalDims = true)

      def manifests(): Map[String, Map[String, String]] =
        Seq(p.dimUser, p.dimEventType, p.dimDate, p.factSnap, p.star)
          .map(t => t -> c.readManifest(t)).toMap
      val before = manifests()
      c.armed = true
      val e = intercept[java.io.IOException] {
        StreamStar.upsertStarBatch(spark, c2, root, c, Some(2L), incrementalDims = true)
      }
      c.armed = false
      assert(e.getMessage.contains("injected"))
      val atThrow = manifests()
      // every other dim branch had committed batch 2 when the throw returned
      Seq(p.dimUser, p.dimEventType, p.dimDate).filterNot(_ == s"$root/$failing")
        .foreach(d => assert(Upsert.tableMeta(d, c).get("batch").contains("2"),
          s"$d must have committed before the tick threw"))
      // the fact never flips over a dim that did not commit, and the star
      // never replaces over a fact that did not flip
      assert(atThrow(p.factSnap) == before(p.factSnap))
      assert(atThrow(p.star) == before(p.star))
      if (failing == "dim_event_type")
        assert(atThrow(p.dimEventType) == before(p.dimEventType))
      Thread.sleep(1000)
      assert(manifests() == atThrow, "no manifest may change after the throw")

      // crash-replay of batch 2 with no fault converges to the pipeline
      StreamStar.upsertStarBatch(spark, c2, root, c, Some(2L), incrementalDims = true)
      assertEqualsPipeline(root)
      assert(Upsert.readTable(spark, p.factSnap, c).count() ==
        Tables.events(spark, sf).select("event_id").distinct().count())
    }
  }

  test("a replayed micro-batch is absorbed exactly once") {
    import spark.implicits._
    val root = Files.createTempDirectory("idim-replay").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val b0 = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10L, "click", 1.0, """{"k":"55"}"""),
      (2L, ts("2024-01-02 11:00:00"), 10L, "view", 2.0, """{"k":"55"}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // seed (full rebuild path) then an incremental batch, replayed twice
    StreamStar.upsertStarBatch(spark, b0, root, batchId = Some(0L),
      incrementalDims = true)
    val b1 = Seq(
      (3L, ts("2024-01-03 09:00:00"), 10L, "click", 3.0, """{"k":"55"}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    StreamStar.upsertStarBatch(spark, b1, root, batchId = Some(1L),
      incrementalDims = true)
    StreamStar.upsertStarBatch(spark, b1, root, batchId = Some(1L),
      incrementalDims = true) // crash-replay of the same micro-batch
    val cnt = Upsert.readTable(spark, s"$root/dim_user")
      .filter($"user_id" === 10L).select("event_count")
      .collect().map(_.getLong(0)).toSeq
    assert(cnt == Seq(3L), s"replay must not double-count: $cnt")
  }

  test("a cross-batch duplicate row never double-counts") {
    import spark.implicits._
    val root = Files.createTempDirectory("idim-dup").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val row = (1L, ts("2024-01-01 10:00:00"), 10L, "click", 1.0, """{"k":"55"}""")
    val b0 = Seq(row,
      (2L, ts("2024-01-01 11:00:00"), 10L, "view", 2.0, """{"k":"55"}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    StreamStar.upsertStarBatch(spark, b0, root, batchId = Some(0L),
      incrementalDims = true)
    // replication overlap re-sends event 1 alongside a genuinely new row
    val b1 = Seq(row,
      (3L, ts("2024-01-01 12:00:00"), 10L, "click", 3.0, """{"k":"55"}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    StreamStar.upsertStarBatch(spark, b1, root, batchId = Some(1L),
      incrementalDims = true)
    val cnt = Upsert.readTable(spark, s"$root/dim_user")
      .filter($"user_id" === 10L).select("event_count")
      .collect().map(_.getLong(0)).toSeq
    assert(cnt == Seq(3L), s"duplicate event must count once: $cnt")
    // and the fact itself holds 3 rows (the dedup repaired the replay)
    assert(Upsert.readTable(spark, s"$root/fact_snap").count() == 3L)
  }
}
