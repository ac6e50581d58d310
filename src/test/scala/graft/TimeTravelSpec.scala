package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Upsert
import graft.streaming.{AtomicRenameCommitter, VersionedCommitter}

/** Snapshot versioning / time travel on the manifest protocol: every
  * commit archives an immutable manifest copy, historical versions stay
  * exactly readable through GC cycles, retention expires them, and a
  * history gap (crash between flip and archive, or a history-unaware
  * writer) self-heals at the next commit.
  */
class TimeTravelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
    df.selectExpr("day", "id", "version").as[(String, Long, Long)].collect().toSet

  private def delta(t: (String, Long, Long)*) =
    t.map { case (d, i, v) => (d, i, v.toDouble, v) }
      .toDF("day", "id", "value", "version")

  private def upsert(path: String, c: VersionedCommitter,
                     t: (String, Long, Long)*): Unit =
    Upsert.upsertPartitionsAtomic(spark, delta(t: _*), path, "day",
      keys = Seq("id"), order = Seq("version"), committer = c)

  test("each commit is readable as-of, exactly as it was, through later GC cycles") {
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val c = new VersionedCommitter
    upsert(path, c, ("d1", 1L, 100L), ("d2", 2L, 100L)) // v1
    upsert(path, c, ("d1", 1L, 101L), ("d3", 3L, 101L)) // v2: update + new day
    upsert(path, c, ("d2", 2L, 102L))                   // v3: rewrite d2

    assert(c.versions(path) == Seq(1L, 2L, 3L))
    assert(rows(Upsert.readTableAsOf(spark, path, 1L, c)) ==
      Set(("d1", 1L, 100L), ("d2", 2L, 100L)))
    assert(rows(Upsert.readTableAsOf(spark, path, 2L, c)) ==
      Set(("d1", 1L, 101L), ("d2", 2L, 100L), ("d3", 3L, 101L)))
    assert(rows(Upsert.readTableAsOf(spark, path, 3L, c)) ==
      Set(("d1", 1L, 101L), ("d2", 2L, 102L), ("d3", 3L, 101L)))
    // current == newest version
    assert(rows(Upsert.readTable(spark, path, c)) ==
      rows(Upsert.readTableAsOf(spark, path, 3L, c)))
  }

  test("retention expires old versions and the next GC cycle releases their exclusive data") {
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val c = new VersionedCommitter(retain = 2)
    upsert(path, c, ("d1", 1L, 100L)) // v1
    upsert(path, c, ("d1", 1L, 101L)) // v2 — d1@100's dir now ONLY in v1
    upsert(path, c, ("d1", 1L, 102L)) // v3 — v1 expired at this commit

    assert(c.versions(path) == Seq(2L, 3L))
    intercept[IllegalArgumentException] {
      Upsert.readTableAsOf(spark, path, 1L, c)
    }
    // v1's exclusive dir is unreferenced now; the NEXT cycle's GC frees it
    upsert(path, c, ("d1", 1L, 103L)) // v4 (v2 expired)
    assert(rows(Upsert.readTableAsOf(spark, path, 3L, c)) ==
      Set(("d1", 1L, 102L)))
    val batchDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch-"))
    // retained versions (3, 4) reference exactly two batch dirs; v1/v2's are gone
    assert(batchDirs.length == 2,
      s"expected 2 retained batch dirs, got ${batchDirs.map(_.getName).mkString(",")}")
  }

  test("history-unaware commits self-heal into the version log at the next commit") {
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val c = new VersionedCommitter
    upsert(path, c, ("d1", 1L, 100L)) // v1
    // a writer without history bypasses the versioned layer (or: the crash
    // window between the current flip and the archive write)
    Upsert.upsertPartitionsAtomic(spark, delta(("d1", 1L, 101L)), path, "day",
      keys = Seq("id"), order = Seq("version"), committer = AtomicRenameCommitter)
    assert(c.versions(path) == Seq(1L)) // gap: current ≠ any version

    upsert(path, c, ("d1", 1L, 102L)) // heals the gap, then commits
    assert(c.versions(path) == Seq(1L, 2L, 3L))
    assert(rows(Upsert.readTableAsOf(spark, path, 2L, c)) ==
      Set(("d1", 1L, 101L)), "the healed version must be the bypassed state")
    assert(rows(Upsert.readTableAsOf(spark, path, 3L, c)) ==
      Set(("d1", 1L, 102L)))
  }

  test("tags pin versions through retention; deleting the tag releases them") {
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val c = new VersionedCommitter(retain = 2)
    upsert(path, c, ("d1", 1L, 100L)) // v1
    c.tag(path, "audited-q3", 1L)
    upsert(path, c, ("d1", 1L, 101L)) // v2
    upsert(path, c, ("d1", 1L, 102L)) // v3 — retain=2 would expire v1, but it's pinned
    upsert(path, c, ("d1", 1L, 103L)) // v4 — v2 expires normally

    assert(c.versions(path) == Seq(1L, 3L, 4L),
      "the tagged v1 survives retention, the untagged v2 does not")
    // the name resolves to the pinned state, by tag and by number
    assert(rows(Upsert.readTableAsOfTag(spark, path, "audited-q3", c)) ==
      Set(("d1", 1L, 100L)))
    assert(rows(Upsert.readTableAsOf(spark, path, 1L, c)) ==
      Set(("d1", 1L, 100L)))
    // ...and its data dir survives the staging GC (retainedReferences
    // includes every surviving version file's refs)
    upsert(path, c, ("d1", 1L, 104L)) // v5: another GC cycle passes
    assert(rows(Upsert.readTableAsOfTag(spark, path, "audited-q3", c)) ==
      Set(("d1", 1L, 100L)))

    // tagging an unknown version or resolving an unknown tag fails loudly
    intercept[IllegalArgumentException](c.tag(path, "nope", 99L))
    intercept[IllegalArgumentException](c.readManifestAsOfTag(path, "missing"))

    // untag → the pin is gone; explicit expiry now retires v1 and the
    // next cycle releases its exclusive data
    c.deleteTag(path, "audited-q3")
    val expired = graft.pipeline.Maintenance.expireVersions(path, keepLast = 2, c)
    assert(expired.contains(1L))
    intercept[IllegalArgumentException](Upsert.readTableAsOf(spark, path, 1L, c))
  }

  test("add-column evolution: new commits widen, old rows back-fill null, as-of keeps the old shape") {
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val c = new VersionedCommitter
    upsert(path, c, ("d1", 1L, 100L), ("d2", 2L, 100L)) // v1: old schema
    // v2 adds a nullable `tag` column, touching ONLY d1 — d2's data dir
    // keeps its pre-evolution footers
    val widened = Seq(("d1", 1L, 101.0, 101L, "a"))
      .toDF("day", "id", "value", "version", "tag")
    Upsert.upsertPartitionsAtomic(spark, widened, path, "day",
      keys = Seq("id"), order = Seq("version"), committer = c)

    // current read binds the committed (new) schema: untouched d2 rows
    // back-fill tag as null
    val cur = Upsert.readTable(spark, path, c)
    assert(cur.columns.contains("tag"))
    assert(cur.selectExpr("id", "tag").as[(Long, Option[String])].collect().toSet ==
      Set((1L, Some("a")), (2L, None)))
    // as-of v1 binds the schema committed WITH v1 — history keeps its shape
    assert(!Upsert.readTableAsOf(spark, path, 1L, c).columns.contains("tag"))
    // the change feed diffs across the evolution: key 1's update carries
    // the post-image tag; key 2 is unchanged (null == null) and silent
    val ch = Upsert.tableChanges(spark, path, 1L, 2L, Seq("id"), c)
      .selectExpr("id", "tag", "change_type").as[(Long, Option[String], String)]
      .collect().toSet
    assert(ch == Set((1L, Some("a"), "update_post")))

    // drops and retypes are rejected loudly — old data dirs still carry
    // the committed columns
    val dropped = Seq(("d1", 1L, 102L)).map { case (d, i, v) => (d, i, v.toDouble, v) }
      .toDF("day", "id", "value", "version") // no tag
    val eDrop = intercept[IllegalArgumentException] {
      Upsert.upsertPartitionsAtomic(spark, dropped, path, "day",
        keys = Seq("id"), order = Seq("version"), committer = c)
    }
    assert(eDrop.getMessage.contains("add-only"))
    val retyped = Seq(("d1", 1L, 102.0, 102L, 7L))
      .toDF("day", "id", "value", "version", "tag") // tag LONG, was STRING
    val eType = intercept[IllegalArgumentException] {
      Upsert.upsertPartitionsAtomic(spark, retyped, path, "day",
        keys = Seq("id"), order = Seq("version"), committer = c)
    }
    assert(eType.getMessage.contains("changed type"))
  }

  test("change feed classifies inserts, updates, and deletes between versions") {
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val c = new VersionedCommitter
    upsert(path, c, ("d1", 1L, 100L), ("d1", 2L, 100L), ("d2", 3L, 100L)) // v1
    // v2: update key 1, insert key 4; key 3's partition rewritten WITHOUT
    // key 3 → a delete (replacePartitions semantics via a d2-only delta
    // that drops it): simulate by replacing d2 with key 5 only
    graft.pipeline.Upsert.replacePartitionsAtomic(spark,
      delta(("d1", 1L, 101L), ("d1", 2L, 100L), ("d1", 4L, 101L), ("d2", 5L, 101L)),
      path, "day", Seq("d1", "d2"), committer = c)

    val got = graft.pipeline.Upsert.tableChanges(spark, path, 1L, 2L,
        Seq("id"), c)
      .selectExpr("id", "version", "change_type")
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 101L, "update_post"),
      (4L, 101L, "insert"),
      (5L, 101L, "insert"),
      (3L, 100L, "delete"))) // pre-image values for the delete
    // key 2 unchanged → absent from the feed (checked by exact set above)
  }

  test("applying the change feed advances a replica to exactly the source state") {
    val src = Files.createTempDirectory("graft-tt").toString + "/src"
    val rep = Files.createTempDirectory("graft-tt").toString + "/rep"
    val c = new VersionedCommitter
    val cr = new VersionedCommitter
    // v1 on both sides (the replica's seed copy)
    val v1 = Seq(("d1", 1L, 100L), ("d1", 2L, 100L), ("d2", 3L, 100L))
    upsert(src, c, v1: _*)
    Upsert.upsertPartitionsAtomic(spark, delta(v1: _*), rep, "day",
      keys = Seq("id"), order = Seq("version"), committer = cr)
    // source advances: update 1, insert 4, delete 3 (d2 replaced without it)
    graft.pipeline.Upsert.replacePartitionsAtomic(spark,
      delta(("d1", 1L, 101L), ("d1", 2L, 100L), ("d1", 4L, 101L), ("d2", 5L, 101L)),
      src, "day", Seq("d1", "d2"), committer = c)

    val feed = Upsert.tableChanges(spark, src, 1L, 2L, Seq("id"), c)
    Upsert.applyChanges(spark, feed, rep, "day",
      keys = Seq("id"), order = Seq("version"), committer = cr)
    assert(rows(Upsert.readTable(spark, rep, cr)) ==
      rows(Upsert.readTable(spark, src, c)))
    // replaying the same feed is a no-op (feed wins ties → idempotent)
    Upsert.applyChanges(spark, feed, rep, "day",
      keys = Seq("id"), order = Seq("version"), committer = cr)
    assert(rows(Upsert.readTable(spark, rep, cr)) ==
      rows(Upsert.readTable(spark, src, c)))
  }

  test("change feed post-image keeps legitimate nulls (no per-column pre leak)") {
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val c = new VersionedCommitter
    def write(v: (String, Long, java.lang.Double, Long)*): Unit =
      Upsert.writeTableAtomic(spark,
        v.toDF("day", "id", "value", "version"), path, committer = c)
    write(("d1", 1L, 10.0, 100L))
    write(("d1", 1L, null, 101L)) // update nulls the value column
    val got = graft.pipeline.Upsert.tableChanges(spark, path, 1L, 2L,
        Seq("id"), c)
      .selectExpr("id", "value", "version", "change_type")
      .as[(Long, Option[Double], Long, String)].collect().toSet
    assert(got == Set((1L, None, 101L, "update_post")),
      "the post-image's null value must survive, not coalesce back to 10.0")
  }

  test("streaming snapshot merges produce per-micro-batch history") {
    import java.sql.Timestamp
    val path = Files.createTempDirectory("graft-tt").toString + "/snap"
    val c = new VersionedCommitter
    def batch(rows: (Long, String, Double)*) = rows.toSeq
      .map { case (id, ts, v) => (id, Timestamp.valueOf(ts), v) }
      .toDF("event_id", "ts", "value")
    graft.streaming.StreamDedup.mergeBatchIntoSnapshot(spark,
      batch((1L, "2024-03-01 10:00:00", 1.0)), path, "event_id", "ts", c)
    graft.streaming.StreamDedup.mergeBatchIntoSnapshot(spark,
      batch((1L, "2024-03-01 11:00:00", 2.0), (2L, "2024-03-02 09:00:00", 3.0)),
      path, "event_id", "ts", c)
    assert(c.versions(path) == Seq(1L, 2L))
    val v1 = Upsert.readTableAsOf(spark, path, 1L, c)
      .selectExpr("event_id", "value").as[(Long, Double)].collect().toSet
    assert(v1 == Set((1L, 1.0)), "version 1 must still be the pre-merge state")
    val cur = Upsert.readTable(spark, path, c)
      .selectExpr("event_id", "value").as[(Long, Double)].collect().toSet
    assert(cur == Set((1L, 2.0), (2L, 3.0)))
  }

  test("versioning composes with CAS: the race loser fails cleanly, history stays linear") {
    import graft.streaming.{CasCommitter, ConcurrentCommitException}
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    // two independent writers, each versioned over its own CAS observer
    val w1 = new VersionedCommitter(new CasCommitter)
    val w2 = new VersionedCommitter(new CasCommitter)
    upsert(path, w1, ("d1", 1L, 100L)) // v1 (w1 wins the empty table)
    w2.readManifest(path)              // w2's CAS observation of v1...
    upsert(path, w1, ("d1", 1L, 101L)) // ...v2 moves the manifest under w2
    intercept[ConcurrentCommitException] {
      // w2's commit must fail its If-Match precondition; no version file
      // is written for it (the archive happens only after the flip)
      w2.commit(path, Map("d9" -> "batch-stale/__part=d9"))
    }
    assert(w1.versions(path) == Seq(1L, 2L),
      "history must contain only the winner's commits")
    assert(rows(Upsert.readTable(spark, path, w1)) == Set(("d1", 1L, 101L)))
  }

  test("two same-JVM CAS writers racing on one table: loser gets the retryable exception, never a lock crash") {
    import graft.streaming.{CasCommitter, ConcurrentCommitException}
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val w1 = new CasCommitter
    val w2 = new CasCommitter
    w1.readManifest(path); w2.readManifest(path) // both observe empty
    // truly concurrent commits from two threads: the JVM's file-lock table
    // would throw OverlappingFileLockException at the second ch.lock()
    // without the per-path monitor — the loser must instead see the
    // documented ConcurrentCommitException (or win; exactly one of each)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    def attempt(c: CasCommitter, tag: String) = pool.submit(
      new java.util.concurrent.Callable[Option[Throwable]] {
        def call(): Option[Throwable] = {
          go.await()
          try { c.commit(path, Map("d" -> s"batch-$tag/data")); None }
          catch { case t: Throwable => Some(t) }
        }
      })
    val f1 = attempt(w1, "one"); val f2 = attempt(w2, "two")
    go.countDown()
    val results = Seq(f1, f2).map(_.get(30, TimeUnit.SECONDS))
    pool.shutdown()
    val failures = results.flatten
    assert(failures.length == 1, s"exactly one loser expected, got $results")
    assert(failures.head.isInstanceOf[ConcurrentCommitException],
      s"loser must get the retryable CAS exception, got ${failures.head}")
    // the winner's manifest is committed and intact
    val committed = graft.streaming.AtomicRenameCommitter.readManifest(path)
    assert(committed.size == 1 && committed("d").startsWith("batch-"))
  }

  test("whole-table atomic snapshots version the same way") {
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val c = new VersionedCommitter
    Upsert.writeTableAtomic(spark,
      delta(("d1", 1L, 100L)), path, committer = c, meta = Map("batch" -> "7"))
    Upsert.writeTableAtomic(spark, delta(("d1", 1L, 101L)), path, committer = c)
    assert(c.versions(path) == Seq(1L, 2L))
    assert(rows(Upsert.readTableAsOf(spark, path, 1L, c)) ==
      Set(("d1", 1L, 100L)))
    assert(rows(Upsert.readTable(spark, path, c)) == Set(("d1", 1L, 101L)))
    // metadata rides the archived manifest too
    assert(c.readManifestAsOf(path, 1L).get("__batch").contains("7"))
  }

  test("RESTORE commits the old manifest as a NEW version; the mistake stays auditable") {
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val c = new VersionedCommitter
    upsert(path, c, ("d1", 1L, 100L), ("d2", 2L, 100L)) // v1
    upsert(path, c, ("d1", 1L, 101L))                   // v2
    // v3: the destructive mistake
    Upsert.deleteWhere(spark, path, "day", org.apache.spark.sql.functions.col("day") === "d2", c)
    assert(rows(Upsert.readTable(spark, path, c)) == Set(("d1", 1L, 101L)))
    val st = Upsert.restoreTable(path, 2L, c)
    assert(st == Upsert.RestoreStats(2L, 4L, 2))
    // current state is exactly v2 again
    assert(rows(Upsert.readTable(spark, path, c)) ==
      Set(("d1", 1L, 101L), ("d2", 2L, 100L)))
    // history is append-only: the mistake is still as-of-readable
    assert(c.versions(path) == Seq(1L, 2L, 3L, 4L))
    assert(rows(Upsert.readTableAsOf(spark, path, 3L, c)) == Set(("d1", 1L, 101L)))
    // a second restore undoes the first
    Upsert.restoreTable(path, 3L, c)
    assert(rows(Upsert.readTable(spark, path, c)) == Set(("d1", 1L, 101L)))
    // restoring an expired version fails loudly
    intercept[IllegalArgumentException] { Upsert.restoreTable(path, 99L, c) }
  }

  test("shallow clone is zero-copy, reads the as-of state, and diverges without touching the source") {
    val root = Files.createTempDirectory("graft-tt").toString
    val (src, dst) = (root + "/src", root + "/dst")
    val sc = new VersionedCommitter
    upsert(src, sc, ("d1", 1L, 100L), ("d2", 2L, 100L)) // v1
    upsert(src, sc, ("d1", 1L, 101L))                   // v2
    val dc = new VersionedCommitter
    val cs = Upsert.cloneTable(src, dst, sc, Some(1L), dc)
    assert(cs == Upsert.CloneStats(1L, 2, 0L))
    // zero-copy: the clone dir holds ONLY manifests — no data dirs
    val dataDirs = new java.io.File(dst).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch-"))
    assert(dataDirs.isEmpty, s"clone staged data: ${dataDirs.mkString(",")}")
    // the clone reads the source's v1 state through cross-root refs
    assert(rows(Upsert.readTable(spark, dst, dc)) ==
      Set(("d1", 1L, 100L), ("d2", 2L, 100L)))
    // divergence: mutate the CLONE only
    Upsert.upsertPartitionsAtomic(spark, delta(("d1", 1L, 200L), ("d3", 3L, 200L)),
      dst, "day", keys = Seq("id"), order = Seq("version"), committer = dc)
    assert(rows(Upsert.readTable(spark, dst, dc)) ==
      Set(("d1", 1L, 200L), ("d2", 2L, 100L), ("d3", 3L, 200L)))
    // the source never moved (still at ITS latest, v2)
    assert(rows(Upsert.readTable(spark, src, sc)) ==
      Set(("d1", 1L, 101L), ("d2", 2L, 100L)))
    // clone-local GC cycles (further commits) never collect source data
    Upsert.deleteWhere(spark, dst, "day",
      org.apache.spark.sql.functions.col("day") === "d3", dc)
    assert(rows(Upsert.readTable(spark, src, sc)) ==
      Set(("d1", 1L, 101L), ("d2", 2L, 100L)))
    assert(rows(Upsert.readTable(spark, dst, dc)) ==
      Set(("d1", 1L, 200L), ("d2", 2L, 100L)))
    // cloning onto itself is refused
    intercept[IllegalArgumentException] { Upsert.cloneTable(src, src, sc) }
  }

  test("DESCRIBE HISTORY: operation labels, partition counts, and exact row counts per version") {
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val c = new VersionedCommitter
    upsert(path, c, ("d1", 1L, 100L), ("d2", 2L, 100L))  // v1 upsert
    Upsert.deleteWhere(spark, path, "day",
      org.apache.spark.sql.functions.col("day") === "d2", c) // v2 delete_where
    Upsert.analyzeTable(spark, path, c)                   // v3 analyze
    Upsert.restoreTable(path, 1L, c)                      // v4 restore(v1)
    val h = Upsert.tableHistory(spark, path, c)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(h.toSeq == Seq(
      (1L, "upsert", 2L, 2L),
      (2L, "delete_where", 1L, 1L),
      (3L, "analyze", 1L, 1L),
      (4L, "restore(v1)", 2L, 2L)))
    // a history-unaware writer's healed commit reads as the generic label
    Upsert.upsertPartitionsAtomic(spark, delta(("d1", 1L, 300L)), path, "day",
      keys = Seq("id"), order = Seq("version"), committer = AtomicRenameCommitter)
    upsert(path, c, ("d2", 2L, 301L)) // v5 healed + v6 upsert
    val ops = c.ops(path)
    assert(ops.get(5L).isEmpty && ops.get(6L).contains("upsert"))
    val h2 = Upsert.tableHistory(spark, path, c)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(h2.map(r => (r._1, r._2)).toSeq ==
      Seq((1L, "upsert"), (2L, "delete_where"), (3L, "analyze"),
        (4L, "restore(v1)"), (5L, "commit"), (6L, "upsert")))
  }

  test("partition-spec change: one atomic re-layout, history keeps the old layout readable") {
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val c = new VersionedCommitter
    // day-partitioned at first; rows also carry a category column
    val data = Seq(
      ("d1", 1L, 1.0, 100L, "x"), ("d1", 2L, 1.0, 100L, "y"),
      ("d2", 3L, 1.0, 100L, "x"), ("d2", 4L, 1.0, 100L, "y"))
      .toDF("day", "id", "value", "version", "cat")
    Upsert.upsertPartitionsAtomic(spark, data, path, "day",
      keys = Seq("id"), order = Seq("version"), committer = c) // v1: by day
    val st = Upsert.repartitionTable(spark, path, "cat", c)    // v2: by cat
    assert(st == Upsert.RepartitionStats("cat", 2))
    // content identical through the rewrite
    assert(Upsert.readTable(spark, path, c)
      .selectExpr("day", "id", "cat").as[(String, Long, String)]
      .collect().toSet ==
      Set(("d1", 1L, "x"), ("d1", 2L, "y"), ("d2", 3L, "x"), ("d2", 4L, "y")))
    // the new layout serves partition-pruned reads on the NEW column
    assert(Upsert.readTablePartitions(spark, path, Seq("x"), c)
      .selectExpr("id").as[Long].collect().toSet == Set(1L, 3L))
    // partition surgery now speaks the new column too
    Upsert.deleteWhere(spark, path, "cat",
      org.apache.spark.sql.functions.col("cat") === "y", c)   // v3
    assert(Upsert.readTable(spark, path, c)
      .selectExpr("id").as[Long].collect().toSet == Set(1L, 3L))
    // history crosses the spec change: v1 is still the DAY layout, whole
    assert(Upsert.readTableAsOf(spark, path, 1L, c)
      .selectExpr("id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    assert(Upsert.tableHistory(spark, path, c)
      .select("operation").as[String].collect().toSeq
      .containsSlice(Seq("repartition(cat)")))
    // a column the table doesn't carry is refused loudly
    intercept[IllegalArgumentException] {
      Upsert.repartitionTable(spark, path, "nope", c)
    }
  }

  test("TIMESTAMP AS OF: monotonic commit clocks, boundary-exact resolution") {
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val c = new VersionedCommitter
    upsert(path, c, ("d1", 1L, 100L)) // v1
    upsert(path, c, ("d1", 1L, 101L)) // v2
    upsert(path, c, ("d1", 1L, 102L)) // v3
    val ts = c.commitTimestamps(path)
    assert(ts.keySet == Set(1L, 2L, 3L))
    // strictly increasing even when commits land within one clock tick
    assert(ts(1L) < ts(2L) && ts(2L) < ts(3L))
    // ts exactly at a commit resolves THAT version (≤ semantics) …
    assert(rows(Upsert.readTableAsOfTimestamp(spark, path, ts(2L), c)) ==
      Set(("d1", 1L, 101L)))
    // … one ms earlier resolves the previous one …
    assert(rows(Upsert.readTableAsOfTimestamp(spark, path, ts(2L) - 1, c)) ==
      Set(("d1", 1L, 100L)))
    // … far in the future resolves the latest …
    assert(rows(Upsert.readTableAsOfTimestamp(spark, path, ts(3L) + 1000000, c)) ==
      Set(("d1", 1L, 102L)))
    // … and before the first commit there is no state to resolve
    intercept[IllegalArgumentException] {
      Upsert.readTableAsOfTimestamp(spark, path, ts(1L) - 1, c)
    }
    // expiry drops v1's timestamp with its version: the oldest RETAINED
    // commit becomes the resolution floor
    c.expire(path, keepLast = 2)
    intercept[IllegalArgumentException] {
      Upsert.readTableAsOfTimestamp(spark, path, ts(1L), c)
    }
    assert(rows(Upsert.readTableAsOfTimestamp(spark, path, ts(2L), c)) ==
      Set(("d1", 1L, 101L)))
  }

  test("change feed diff reads ONLY the partitions whose manifest entries differ") {
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val c = new VersionedCommitter
    upsert(path, c, ("d1", 1L, 100L), ("d2", 2L, 100L), ("d3", 3L, 100L)) // v1
    upsert(path, c, ("d1", 1L, 101L))                                     // v2: d1 only
    val feed = Upsert.tableChanges(spark, path, 1L, 2L, Seq("id"), c)
    assert(feed.selectExpr("id", "version", "change_type")
      .as[(Long, Long, String)].collect().toSet ==
      Set((1L, 101L, "update_post")))
    // the 100-TB criterion: a 1-partition commit's diff scans exactly
    // that partition's dirs in BOTH as-of states — d2/d3 (identical
    // manifest entries ⇒ identical immutable dirs) are never opened
    val files = feed.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(_.contains("__part=d1")),
      s"diff must read only the changed partition, read: ${files.mkString("\n")}")
  }

  test("write-time change feed: single-step spans read the log, multi-step diffs pruned") {
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val c = new VersionedCommitter
    Upsert.enableChangeFeed(path, Seq("id"), c) // v1: metadata only
    upsert(path, c, ("d1", 1L, 100L), ("d1", 2L, 100L), ("d2", 3L, 100L)) // v2
    upsert(path, c, ("d1", 1L, 101L), ("d1", 4L, 101L))                   // v3
    // every data commit carries its own __cdf entry, never the predecessor's
    val m2 = c.readManifestAsOf(path, 2L)
    val m3 = c.readManifestAsOf(path, 3L)
    assert(m2.contains("__cdf") && m3.contains("__cdf") &&
      m2("__cdf") != m3("__cdf"))
    // single-step span: O(change rows) bytes — every input file is the
    // commit's staged log, no table partition is opened
    val logged = Upsert.tableChanges(spark, path, 2L, 3L, Seq("id"), c)
    assert(logged.inputFiles.nonEmpty &&
      logged.inputFiles.forall(_.contains("/__cdf/")),
      s"single-step must read the staged log: ${logged.inputFiles.mkString("\n")}")
    val loggedSet = logged.selectExpr("id", "version", "change_type")
      .as[(Long, Long, String)].collect().toSet
    assert(loggedSet == Set((1L, 101L, "update_post"), (4L, 101L, "insert")))
    // first-commit log: pre-state is empty ⇒ all inserts
    val first = Upsert.tableChanges(spark, path, 1L, 2L, Seq("id"), c)
    assert(first.inputFiles.forall(_.contains("/__cdf/")))
    assert(first.selectExpr("change_type").distinct()
      .as[String].collect().toSeq == Seq("insert"))
    // multi-step span: the per-commit logs cannot express the NET diff
    // (delete pre-images, A→B→A cancellation) — falls back to the pruned
    // diff and still nets correctly. v4 forces key 1 BACK to its v2 row
    // (a keep-latest upsert would lose to v3's higher version)
    Upsert.replacePartitionsAtomic(spark,
      delta(("d1", 1L, 100L), ("d1", 2L, 100L), ("d1", 4L, 101L)),
      path, "day", Seq("d1"), committer = c)
    val net = Upsert.tableChanges(spark, path, 2L, 4L, Seq("id"), c)
    assert(net.inputFiles.forall(!_.contains("/__cdf/")))
    assert(net.selectExpr("id", "version", "change_type")
      .as[(Long, Long, String)].collect().toSet ==
      Set((4L, 101L, "insert")), "A→B→A keys must cancel in a netted span")
  }

  test("the logged feed crosses add-column evolution with the commit's own schema") {
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val c = new VersionedCommitter
    Upsert.enableChangeFeed(path, Seq("id"), c)          // v1
    upsert(path, c, ("d1", 1L, 100L), ("d1", 2L, 100L))  // v2
    // v3 adds a nullable column and updates key 1; key 2 is untouched
    // (null == null across the alignment) and must stay silent
    Upsert.upsertPartitionsAtomic(spark,
      Seq(("d1", 1L, 101.0, 101L, "a")).toDF("day", "id", "value", "version", "tag"),
      path, "day", keys = Seq("id"), order = Seq("version"), committer = c)
    val step = Upsert.tableChanges(spark, path, 2L, 3L, Seq("id"), c)
    assert(step.inputFiles.nonEmpty && step.inputFiles.forall(_.contains("/__cdf/")),
      "the evolution commit's feed must serve from its own staged log")
    assert(step.columns.contains("tag"), "the log carries the NEW schema")
    assert(step.selectExpr("id", "tag", "change_type")
      .as[(Long, Option[String], String)].collect().toSet ==
      Set((1L, Some("a"), "update_post")))
  }

  test("a carried or copied change log is never served: metadata commits, restore, compact") {
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val c = new VersionedCommitter
    Upsert.enableChangeFeed(path, Seq("id"), c)               // v1
    upsert(path, c, ("d1", 1L, 100L), ("d2", 2L, 100L))       // v2 (logs)
    upsert(path, c, ("d1", 1L, 101L), ("d1", 3L, 101L))       // v3 (logs)
    // metadata commit: ANALYZE must drop the carried log and its feed
    // step must be EMPTY, not a replay of v3's log
    Upsert.analyzeTable(spark, path, c)                       // v4
    assert(!c.readManifestAsOf(path, 4L).contains("__cdf"),
      "a metadata commit must not carry the predecessor's change log")
    assert(Upsert.tableChanges(spark, path, 3L, 4L, Seq("id"), c).count() == 0L)
    // RESTORE commits v2's manifest verbatim as v5 — v2's log describes
    // v1→v2 (all inserts), but the TRUE v4→v5 delta is the rollback of
    // v3 (key 3 deleted, key 1 back to 100)
    Upsert.restoreTable(path, 2L, c)                          // v5
    assert(!c.readManifestAsOf(path, 5L).contains("__cdf"),
      "a restore must not carry the restored version's change log")
    val rollback = Upsert.tableChanges(spark, path, 4L, 5L, Seq("id"), c)
      .selectExpr("id", "version", "change_type")
      .as[(Long, Long, String)].collect().toSet
    assert(rollback == Set((1L, 100L, "update_post"), (3L, 101L, "delete")),
      s"the restore step must diff as the rollback, got $rollback")
    // compaction: logical delta EMPTY, log dropped
    graft.pipeline.Maintenance.compact(spark, path, committer = c) // v6 (if work)
    val last = c.versions(path).last
    if (last > 5L) {
      assert(!c.readManifestAsOf(path, last).contains("__cdf"))
      assert(Upsert.tableChanges(spark, path, last - 1, last, Seq("id"), c)
        .count() == 0L)
    }
    // and the NEXT mutator logs again, served as usual
    upsert(path, c, ("d2", 2L, 106L))
    val v = c.versions(path).last
    val step = Upsert.tableChanges(spark, path, v - 1, v, Seq("id"), c)
    assert(step.inputFiles.forall(_.contains("/__cdf/")),
      "logging must resume after non-logging commits")
    assert(step.selectExpr("id", "version", "change_type")
      .as[(Long, Long, String)].collect().toSet == Set((2L, 106L, "update_post")))
  }

  test("logged feed covers delete/update/merge and MoR mutators, and applyChanges replays it") {
    val path = Files.createTempDirectory("graft-tt").toString + "/t"
    val rep = Files.createTempDirectory("graft-tt").toString + "/rep"
    val c = new VersionedCommitter
    val cr = new VersionedCommitter
    Upsert.enableChangeFeed(path, Seq("id"), c) // v1
    val seed = Seq(("d1", 1L, 100L), ("d1", 2L, 100L), ("d2", 3L, 100L))
    upsert(path, c, seed: _*) // v2
    Upsert.upsertPartitionsAtomic(spark, delta(seed: _*), rep, "day",
      keys = Seq("id"), order = Seq("version"), committer = cr)
    // v3: CoW delete
    Upsert.deleteWhere(spark, path, "day", org.apache.spark.sql.functions.col("id") === 2L, c)
    val delFeed = Upsert.tableChanges(spark, path, 2L, 3L, Seq("id"), c)
    assert(delFeed.inputFiles.forall(_.contains("/__cdf/")))
    assert(delFeed.selectExpr("id", "version", "change_type")
      .as[(Long, Long, String)].collect().toSet ==
      Set((2L, 100L, "delete")), "delete rows carry the pre-image")
    // v4: MoR upsert (sidecar only — no partition rewrite, still logged)
    Upsert.upsertKeysMor(spark, path, "day", Seq("id"), Seq("version"),
      delta(("d2", 3L, 104L), ("d2", 6L, 104L)), c)
    val morFeed = Upsert.tableChanges(spark, path, 3L, 4L, Seq("id"), c)
    assert(morFeed.inputFiles.forall(_.contains("/__cdf/")))
    assert(morFeed.selectExpr("id", "version", "change_type")
      .as[(Long, Long, String)].collect().toSet ==
      Set((3L, 104L, "update_post"), (6L, 104L, "insert")))
    // v5: MoR delete reaches into base AND pending delta
    Upsert.deleteKeysMor(spark, path, "day", Seq("id"),
      Seq(("d2", 6L)).toDF("day", "id"), c)
    val morDel = Upsert.tableChanges(spark, path, 4L, 5L, Seq("id"), c)
    assert(morDel.inputFiles.forall(_.contains("/__cdf/")))
    assert(morDel.selectExpr("id", "change_type")
      .as[(Long, String)].collect().toSet == Set((6L, "delete")))
    // replaying every logged step advances the replica to the source state
    Seq(3L, 4L, 5L).foreach { v =>
      Upsert.applyChanges(spark,
        Upsert.tableChanges(spark, path, v - 1, v, Seq("id"), c),
        rep, "day", keys = Seq("id"), order = Seq("version"), committer = cr)
    }
    assert(rows(Upsert.readTable(spark, rep, cr)) ==
      rows(Upsert.readTable(spark, path, c)))
  }
}
