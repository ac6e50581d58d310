package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Upsert
import graft.streaming.{AtomicRenameCommitter, StreamDedup}

/** Production-shaped streaming: a file source discovered incrementally
  * across restarts (checkpointed), merged into a keep-latest snapshot
  * manifest table via foreachBatch — the reference's replicate-then-repair
  * loop as a continuous pipeline.
  */
class FileStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def addBatch(src: Path, n: Int, df: DataFrame): Unit = {
    val tmp = Files.createTempDirectory("fs-batch")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, src.resolve(s"batch_$n.parquet"))
  }

  private def runOnce(src: Path, snap: Path, ckpt: Path, schema: org.apache.spark.sql.types.StructType): Unit = {
    val stream = spark.readStream.schema(schema).parquet(src.toString)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        StreamDedup.mergeBatchIntoSnapshot(spark, batch, snap.toString, "event_id", "ts")
        ()
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("file stream + foreachBatch merge builds a keep-latest snapshot across restarts") {
    val src = Files.createTempDirectory("fs-src")
    val snap = Files.createTempDirectory("fs-snap").resolve("snapshot")
    val ckpt = Files.createTempDirectory("fs-ckpt")
    val b1 = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a", 1.0),
      (2L, ts("2024-01-01 10:05:00"), "a", 2.0)
    ).toDF("event_id", "ts", "event_type", "value")
    addBatch(src, 1, b1)
    runOnce(src, snap, ckpt, b1.schema)
    val s1 = Upsert.readTable(spark, snap.toString).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
    assert(s1 == Map(1L -> 1.0, 2L -> 2.0))

    // restart with a new file: event 2 re-delivered with a newer version,
    // event 3 new; checkpoint ensures batch 1 is not reprocessed
    val b2 = Seq(
      (2L, ts("2024-01-01 10:15:00"), "a", 22.0),
      (3L, ts("2024-01-01 10:20:00"), "b", 3.0)
    ).toDF("event_id", "ts", "event_type", "value")
    addBatch(src, 2, b2)
    runOnce(src, snap, ckpt, b1.schema)
    val s2 = Upsert.readTable(spark, snap.toString).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
    assert(s2 == Map(1L -> 1.0, 2L -> 22.0, 3L -> 3.0))
  }

  test("merge only rewrites the day partitions a batch touches") {
    val src = Files.createTempDirectory("fs-src2")
    val snap = Files.createTempDirectory("fs-snap2").resolve("snapshot")
    val ckpt = Files.createTempDirectory("fs-ckpt2")
    val b1 = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a", 1.0),
      (2L, ts("2024-01-01 23:55:00"), "a", 2.0),
      (3L, ts("2024-01-02 08:00:00"), "b", 3.0)
    ).toDF("event_id", "ts", "event_type", "value")
    addBatch(src, 1, b1)
    runOnce(src, snap, ckpt, b1.schema)

    // resolve a day's data files THROUGH the manifest (the committed view)
    def partFiles(day: String): Map[String, Long] = {
      val rel = AtomicRenameCommitter.readManifest(snap.toString)(day)
      new java.io.File(snap.toFile, rel)
        .listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val day1EntryBefore = AtomicRenameCommitter.readManifest(snap.toString)("20240101")
    val day1Before = partFiles("20240101")
    assert(day1Before.nonEmpty)

    // a batch landing on 2024-01-04: its lookback window cannot reach the
    // 01/02 days, so their manifest entries AND data files must be
    // untouched (immutable batch dirs make this byte-for-byte)
    val b2 = Seq((4L, ts("2024-01-04 09:00:00"), "b", 4.0))
      .toDF("event_id", "ts", "event_type", "value")
    addBatch(src, 2, b2)
    runOnce(src, snap, ckpt, b1.schema)
    assert(AtomicRenameCommitter.readManifest(snap.toString)("20240101") == day1EntryBefore)
    assert(partFiles("20240101") == day1Before)
    assert(AtomicRenameCommitter.readManifest(snap.toString).contains("20240104"))

    // a cross-midnight re-delivery: event 2's newer version lands on 01-02,
    // the previous-day read removes the superseded row from 01-01
    val b3 = Seq((2L, ts("2024-01-02 00:10:00"), "a", 22.0))
      .toDF("event_id", "ts", "event_type", "value")
    addBatch(src, 3, b3)
    runOnce(src, snap, ckpt, b1.schema)
    val all = Upsert.readTable(spark, snap.toString).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
    assert(all == Map(1L -> 1.0, 2L -> 22.0, 3L -> 3.0, 4L -> 4.0))
    val day1Rows = Upsert.readTable(spark, snap.toString)
      .filter($"snap_day" === "20240101").collect()
    assert(day1Rows.map(_.getAs[Long]("event_id")).toSet == Set(1L)) // stale row gone
  }

  test("a crash between data write and manifest flip never loses or doubles a day") {
    val snap = Files.createTempDirectory("fs-snap3").resolve("snapshot")
    val b1 = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a", 1.0),
      (2L, ts("2024-01-02 08:00:00"), "b", 2.0)
    ).toDF("event_id", "ts", "event_type", "value")
    StreamDedup.mergeBatchIntoSnapshot(spark, b1, snap.toString, "event_id", "ts")
    val committed = AtomicRenameCommitter.readManifest(snap.toString)

    // kill merge #2 inside the commit window: stage without commit — its
    // batch dir is fully written but the manifest was never flipped
    val b2 = Seq(
      (3L, ts("2024-01-01 12:00:00"), "a", 3.0),
      (1L, ts("2024-01-01 12:30:00"), "a", 11.0)
    ).toDF("event_id", "ts", "event_type", "value")
    StreamDedup.stageMerge(spark, b2, snap.toString, "event_id", "ts",
      StreamDedup.batchDays(b2, "ts"), AtomicRenameCommitter)

    // the committed view is byte-for-byte the pre-crash state: the orphaned
    // batch dir is invisible to readers — day 01-01 neither lost (rows
    // still there) nor doubled (the staged copy of event 1 not visible)
    assert(AtomicRenameCommitter.readManifest(snap.toString) == committed,
      "a crashed merge must not change the committed manifest")
    val afterCrash = Upsert.readTable(spark, snap.toString).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
    assert(afterCrash == Map(1L -> 1.0, 2L -> 2.0),
      s"crash window must preserve exactly the committed state, got $afterCrash")

    // the retried merge commits normally AND garbage-collects the orphan
    StreamDedup.mergeBatchIntoSnapshot(spark, b2, snap.toString, "event_id", "ts")
    val retried = Upsert.readTable(spark, snap.toString).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
    assert(retried == Map(1L -> 11.0, 2L -> 2.0, 3L -> 3.0),
      s"retried merge must land the batch exactly once, got $retried")
    val live = Upsert.dataEntries(AtomicRenameCommitter.readManifest(snap.toString))
      .values.map(_.split("/").head).toSet
    val onDisk = snap.toFile.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch-"))
      .map(_.getName).toSet
    assert(onDisk == live,
      s"unreferenced batch dirs must be GC'd: disk=$onDisk live=$live")
  }

  /** Object-store committer model: conditional put that can lose its
    * precondition — [[graft.streaming.SnapshotCommitter]]'s contract says a
    * failed commit throws with the old manifest byte-identical in force.
    */
  private class FlakyConditionalPutCommitter extends graft.streaming.SnapshotCommitter {
    @volatile var failNextCommit = false
    override def readManifest(p: String): Map[String, String] =
      graft.streaming.AtomicRenameCommitter.readManifest(p)
    override def commit(p: String, entries: Map[String, String]): Unit = {
      if (failNextCommit) {
        failNextCommit = false
        throw new java.io.IOException("simulated conditional-put precondition failure")
      }
      graft.streaming.AtomicRenameCommitter.commit(p, entries)
    }
  }

  test("commit-time fault (conditional-put model): old manifest stays in force; retry lands exactly once") {
    val committer = new FlakyConditionalPutCommitter
    val snap = Files.createTempDirectory("fs-snap4").resolve("snapshot")
    val b1 = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a", 1.0),
      (2L, ts("2024-01-02 08:00:00"), "b", 2.0)
    ).toDF("event_id", "ts", "event_type", "value")
    StreamDedup.mergeBatchIntoSnapshot(spark, b1, snap.toString, "event_id", "ts", committer)
    val committed = committer.readManifest(snap.toString)

    val b2 = Seq((1L, ts("2024-01-01 12:30:00"), "a", 11.0))
      .toDF("event_id", "ts", "event_type", "value")
    committer.failNextCommit = true
    intercept[java.io.IOException] {
      StreamDedup.mergeBatchIntoSnapshot(spark, b2, snap.toString, "event_id", "ts", committer)
    }
    // the lost put changed nothing a reader can see
    assert(committer.readManifest(snap.toString) == committed)
    val afterFault = Upsert.readTable(spark, snap.toString, committer).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
    assert(afterFault == Map(1L -> 1.0, 2L -> 2.0))
    // retry (the stream's replayed micro-batch) commits exactly once
    StreamDedup.mergeBatchIntoSnapshot(spark, b2, snap.toString, "event_id", "ts", committer)
    val retried = Upsert.readTable(spark, snap.toString, committer).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
    assert(retried == Map(1L -> 11.0, 2L -> 2.0))
  }

  test("superseded day dirs survive exactly one merge cycle (reader grace window)") {
    val snap = Files.createTempDirectory("fs-snap5").resolve("snapshot")
    def dayDirs(): Set[String] = {
      val root = snap.toFile
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("batch-"))
        .flatMap(b => Option(b.listFiles()).getOrElse(Array.empty)
          .filter(_.isDirectory).map(d => s"${b.getName}/${d.getName}"))
        .toSet
    }
    val b1 = Seq((1L, ts("2024-01-01 10:00:00"), "a", 1.0))
      .toDF("event_id", "ts", "event_type", "value")
    StreamDedup.mergeBatchIntoSnapshot(spark, b1, snap.toString, "event_id", "ts")
    val gen1 = dayDirs()
    assert(gen1.size == 1)
    // merge 2 supersedes day 01-01: the old day dir must STILL be on disk
    // (a reader holding gen-1 paths finishes its scan)
    val b2 = Seq((1L, ts("2024-01-01 12:00:00"), "a", 11.0))
      .toDF("event_id", "ts", "event_type", "value")
    StreamDedup.mergeBatchIntoSnapshot(spark, b2, snap.toString, "event_id", "ts")
    assert(gen1.subsetOf(dayDirs()), s"gen-1 dirs GC'd too early: ${dayDirs()}")
    // merge 3: gen-1's grace window ends — only gen-2 + gen-3 data remain
    val b3 = Seq((1L, ts("2024-01-01 13:00:00"), "a", 111.0))
      .toDF("event_id", "ts", "event_type", "value")
    StreamDedup.mergeBatchIntoSnapshot(spark, b3, snap.toString, "event_id", "ts")
    assert(gen1.intersect(dayDirs()).isEmpty,
      s"gen-1 dirs must be collected at the NEXT merge: ${dayDirs()}")
    val live = Upsert.readTable(spark, snap.toString).collect()
      .map(r => r.getAs[Double]("value")).toSeq
    assert(live == Seq(111.0))
  }

  /** §2.9-4 exactly-once: the streamed dedup of an overlapping extract feed
    * must equal the batch keep-latest dedup of the unioned batches — the
    * oracled batch form pins the streaming semantics.
    */
  test("streamed dedup over overlapping extract batches equals batch keep-latest") {
    import graft.gen.VitalsGen
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("fs-src3")
    val ckpt = Files.createTempDirectory("fs-ckpt3")
    val start = 1704103200L // 2024-01-01 10:00 UTC
    val oltp = VitalsGen.vitals(spark, 90, start)
    // three 30-minute replication windows with a 40-minute lookback —
    // consecutive batches re-deliver the overlapped 10 minutes
    val batches = Seq(1, 2, 3).map(i =>
      VitalsGen.extractBatch(oltp, start + i * 1800L, 40))
    batches.zipWithIndex.foreach { case (b, i) => addBatch(src, i, b) }

    val stream = spark.readStream.schema(batches.head.schema)
      .parquet(src.toString)
      .withColumnRenamed("effective_ts", "ts")
    val q = StreamDedup.dedupStream(stream, "40 minutes")
      .writeStream.format("memory").queryName("equiv_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("event_id"), r.getAs[String]("patient_id"),
        r.getAs[Double]("value_num"), r.getAs[Timestamp]("ts").getTime)
    val streamed = spark.table("equiv_out")
      .select("event_id", "patient_id", "value_num", "ts")
      .collect().map(keyOf).toSet
    val batch = Dedup.keepLatestAgg(batches.reduce(_ unionByName _),
        Seq("event_id"), Seq(col("created_at")))
      .select(col("event_id"), col("patient_id"), col("value_num"),
        col("effective_ts").as("ts"))
      .collect().map(keyOf).toSet
    assert(streamed.size == 90)
    assert(streamed == batch)
  }
}
