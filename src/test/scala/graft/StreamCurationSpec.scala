package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.streaming.{AtomicRenameCommitter, ConditionalPutCommitter, CuratedStore, SnapshotCommitter, StreamCuration, StreamOracle, TableFs}

/** The continuous-curation drain over the manifest-committed
  * [[CuratedStore]]: ordered micro-batch delivery, the in-manifest
  * ledger's replay idempotency, the CRASH-INJECTION proof that a failure
  * between staging and the manifest flip replays without duplicating one
  * row or one posting, the per-batch no-full-exact-scan contract, and the
  * whole loop on the `naf://` atomic-put object-store simulation (the
  * 100-TB deployment shape: conditional-put commits + streaming
  * admission). Stream ≡ batch equivalence on a hand-planted corpus; the
  * CORRECTNESS row `stream_curation` pins the same equivalence against
  * DuckDB at sf0.01.
  */
class StreamCurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // seed: 2 docs; stream: 4 docs in 2 batches — exact dup of a seed doc
  // (11), a near-dup pair across the streamed batches (12 ≈ 13), noise
  private val seedDocs = Seq(
    (1L, "pack my box with five dozen liquor jugs before the long summer ends"),
    (2L, "completely unrelated text about spark catalyst optimizer internals and codegen"))
  private val streamDocs = Seq(
    (11L, "pack my box with five dozen liquor jugs before the long summer ends"),
    (12L, "a duplicated streaming document that repeats its phrasing almost word for word"),
    (13L, "a duplicated streaming document that repeats its phrasing almost word by word"),
    (14L, "noise in the stream that matches nothing in the corpus or the batch"))

  /** Seed the store at `root` and stage the 2 monotone batches under a
    * LOCAL dir (the ingest staging area is always filesystem-local; the
    * STORE may live on the object store). Returns the staging dir. */
  private def build(root: String,
                    committer: SnapshotCommitter = AtomicRenameCommitter): String = {
    CuratedStore.seed(spark, Dedup.exactSurvivors(seedDocs.toDF("doc_id", "text")),
      root, committer, jaccardThreshold = 0.6)
    val stage = Files.createTempDirectory("graft-scur-in").toString
    StreamCuration.stageMonotoneBatches(spark,
      streamDocs.toDF("doc_id", "text"), stage, 2)
    stage
  }

  private def drain(stage: String, root: String, ckpt: String,
                    committer: SnapshotCommitter = AtomicRenameCommitter): Unit =
    StreamCuration.maintainCuration(spark,
      StreamOracle.fileStream(spark, stage, maxFilesPerTrigger = Some(1)),
      root, ckpt, committer, minQuality = 0.0)
      .awaitTermination()

  private def curatedIds(root: String,
                         c: SnapshotCommitter = AtomicRenameCommitter): Seq[Long] =
    CuratedStore.curatedRows(spark, root, c)
      .select("doc_id").as[Long].collect().sorted.toSeq

  private def exactIds(root: String,
                       c: SnapshotCommitter = AtomicRenameCommitter): Set[Long] =
    CuratedStore.exactRows(spark, root, c)
      .select("doc_id").as[Long].collect().toSet

  /** Committed shingle postings must be duplicate-free: a replayed batch
    * that re-appended its fragment would double every (doc, shingle). */
  private def assertPostingsUnique(root: String,
                                   c: SnapshotCommitter = AtomicRenameCommitter): Unit = {
    val dirs = c.readManifest(root).collect {
      case (k, rel) if k.startsWith("shingles-") => s"$root/$rel"
    }.toSeq
    val sh = dirs.map(spark.read.parquet(_).select("doc_id", "shingle"))
      .reduce(_ unionByName _)
    assert(sh.count() == sh.distinct().count(),
      "duplicate index postings — a batch committed twice")
  }

  test("ordered micro-batches curate exactly like the batch admission; replay with a fresh checkpoint is a no-op") {
    val root = Files.createTempDirectory("graft-scur").toString + "/store"
    val stage = build(root)
    drain(stage, root, s"$root-ckpt1")
    // 11 = exact dup of seed 1 (dropped); 13 = near-dup higher id of 12
    // (dropped); 12 and 14 admitted
    assert(curatedIds(root) == Seq(12L, 14L))
    // the exact-survivor table grew by the admitted batches' exact set
    assert(exactIds(root) == Set(1L, 2L, 12L, 13L, 14L),
      "exact survivors = seed + streamed exact-new docs (13 is a NEAR dup — it stays in the exact set)")
    assert(CuratedStore.committedBatches(root) == Set(0L, 1L))
    // REPLAY: a fresh checkpoint re-delivers every file with the same
    // batch ids — the in-manifest ledger must skip every committed batch
    // whole, so nothing duplicates (rows, postings, survivors)
    drain(stage, root, s"$root-ckpt2")
    assert(curatedIds(root) == Seq(12L, 14L),
      "replayed batches must be skipped whole by the manifest ledger")
    assert(exactIds(root).size == 5)
    assertPostingsUnique(root)
  }

  test("crash between staging and the manifest flip: the replay commits once, zero duplicate rows or postings") {
    val root = Files.createTempDirectory("graft-scur-crash").toString + "/store"
    val stage = build(root)
    val files = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified)
    val batch0 = spark.read.parquet(files(0).getPath)
    // the injected crash: batch 0 stages EVERYTHING (curated rows, exact
    // survivors, index + hash fragments, merged bloom) and dies before
    // the flip
    CuratedStore.stageAdmit(spark, root, 0L, batch0, AtomicRenameCommitter,
      minQuality = 0.0)
    assert(CuratedStore.committedBatches(root).isEmpty,
      "a crash before the flip must leave NOTHING committed")
    assert(curatedIds(root).isEmpty && exactIds(root) == Set(1L, 2L),
      "staged-but-uncommitted data must be invisible to every reader")
    // restart the stream from scratch: batch 0 re-delivers under the same
    // id, re-stages over its own crashed staging, and commits ONCE
    drain(stage, root, s"$root-ckpt")
    assert(curatedIds(root) == Seq(12L, 14L))
    assert(exactIds(root) == Set(1L, 2L, 12L, 13L, 14L))
    assertPostingsUnique(root)
    // and the crashed batch's ledger entry exists exactly once
    assert(CuratedStore.committedBatches(root) == Set(0L, 1L))
  }

  test("per-batch admission never scans the full exact table: bloom routes, hash-index verify is bucket-pruned") {
    val root = Files.createTempDirectory("graft-scur-plan").toString + "/store"
    build(root)
    // a batch with one exact dup (hits the bloom + pruned verify join)
    // and one new doc (bloom-routed past the join entirely)
    val m = AtomicRenameCommitter.readManifest(root)
    assert(m.contains("bloom") && m.contains("hashes-seed"),
      "the store must commit the bloom sidecar and the bucketed hash index")
    // the verify side reads the hash index (narrow h/xh columns), pruned
    // by h_bucket — the exact-survivor TEXT table appears nowhere in the
    // admission plan (its dirs are read only by explicit exactRows calls)
    val batch = Seq(
      (21L, "pack my box with five dozen liquor jugs before the long summer ends"),
      (22L, "an entirely fresh document the corpus has never seen in any form")).toDF("doc_id", "text")
    CuratedStore.admitCommit(spark, root, 7L, batch, minQuality = 0.0)
    assert(curatedIds(root) == Seq(22L),
      "the exact dup must be dropped through the bloom+hash-index path")
    assert(exactIds(root) == Set(1L, 2L, 22L))
  }

  test("compaction collapses each fragment family to one dir with identical answers; ledger survives; admission continues") {
    val root = Files.createTempDirectory("graft-scur-cmp").toString + "/store"
    val stage = build(root)
    drain(stage, root, s"$root-ckpt")
    val preCur = curatedIds(root)
    val preEx = exactIds(root)
    val m0 = AtomicRenameCommitter.readManifest(root)
    assert(m0.keys.count(_.startsWith("exact-")) > 1,
      "the drained store must hold multiple fragments to compact")
    assert(!CuratedStore.compactAdvised(root),
      "two streamed batches are far under the advisory threshold")
    CuratedStore.compactStore(spark, root)
    val m1 = AtomicRenameCommitter.readManifest(root)
    for (f <- Seq("exact-", "hashes-", "prefix-", "shingles-"))
      assert(m1.keys.count(_.startsWith(f)) == 1,
        s"family $f must collapse to one fragment, got " +
          m1.keys.filter(_.startsWith(f)).toSeq.sorted)
    assert(curatedIds(root) == preCur && exactIds(root) == preEx,
      "compaction only moves rows — answers must be identical")
    assert(CuratedStore.committedBatches(root) == Set(0L, 1L),
      "the in-manifest ledger must ride through compaction")
    assertPostingsUnique(root)
    // admission against the compacted store: the exact dup routes through
    // the compacted hash index, the near-dup through the compacted
    // prefix/shingle fragments — same semantics as pre-compaction
    val batch = Seq(
      (31L, "a duplicated streaming document that repeats its phrasing almost word for word"),
      (32L, "genuinely novel content that matches nothing admitted before")).toDF("doc_id", "text")
    CuratedStore.admitCommit(spark, root, 9L, batch, minQuality = 0.0)
    assert(curatedIds(root) == (preCur :+ 32L).sorted,
      "31 is an exact dup of admitted 12 — only 32 may land")
    // a second compaction folds the new fragment into the compacted one
    CuratedStore.compactStore(spark, root)
    assert(AtomicRenameCommitter.readManifest(root)
      .keys.count(_.startsWith("exact-")) == 1)
    assert(curatedIds(root) == (preCur :+ 32L).sorted)
  }

  test("a bloom that outgrows its sizing is rebuilt with 4x headroom; exactness is unaffected") {
    val root = Files.createTempDirectory("graft-scur-bloom").toString + "/store"
    val stage = build(root)
    drain(stage, root, s"$root-ckpt")
    // shrink the recorded sizing so the next admission crosses it — the
    // rebuild branch (hash-index rescan incl. the staged batch) must run
    val m = AtomicRenameCommitter.readManifest(root)
    AtomicRenameCommitter.commit(root, m + ("__meta.bloom_expected" -> "1"))
    val batch = Seq(
      (41L, "fresh content arriving after the bloom sizing was exceeded"),
      (42L, "pack my box with five dozen liquor jugs before the long summer ends")).toDF("doc_id", "text")
    CuratedStore.admitCommit(spark, root, 9L, batch, minQuality = 0.0)
    val m2 = AtomicRenameCommitter.readManifest(root)
    assert(m2("__meta.bloom_expected").toLong >= 65536L,
      "the rebuild must restore headroom, not keep the outgrown sizing")
    assert(m2("__meta.bloom_n").toLong == exactIds(root).size,
      "the recorded item count must track the exact survivors")
    assert(curatedIds(root).contains(41L) && !curatedIds(root).contains(42L),
      "through the rebuilt bloom: fresh content admits, the seed exact dup drops")
    // and the rebuilt sidecar keeps serving later admissions
    CuratedStore.admitCommit(spark, root, 10L,
      Seq((51L, "one more novel document after the rebuild")).toDF("doc_id", "text"),
      minQuality = 0.0)
    assert(curatedIds(root).contains(51L))
  }

  test("streamed admission on the naf:// object store: conditional-put commits, no manifest temps, same answers") {
    spark.sparkContext // force session (naf bindings live in its conf)
    TableFs.registerAtomicPutScheme("naf")
    val root = "naf:" + Files.createTempDirectory("graft-scur-naf") + "/store"
    val committer = new ConditionalPutCommitter
    val stage = build(root, committer)
    drain(stage, root, Files.createTempDirectory("graft-scur-nafck").toString,
      committer)
    assert(curatedIds(root, committer) == Seq(12L, 14L))
    assert(exactIds(root, committer) == Set(1L, 2L, 12L, 13L, 14L))
    assert(CuratedStore.committedBatches(root, committer) == Set(0L, 1L))
    assertPostingsUnique(root, committer)
    // the commit protocol on the store: immutable slot objects, zero
    // rename-protocol manifests, zero manifest temps
    val names = TableFs.list(root).map(_.getPath.getName)
    assert(names.exists(_.startsWith("MANIFEST.c")),
      "commits must land as conditional-put slot objects")
    assert(!names.contains("MANIFEST") &&
      !names.exists(_.startsWith("MANIFEST.tmp-")),
      "no rename-protocol manifest file or temp may exist on the object store")
  }

  test("staged batches carry strictly increasing mtimes and ascending id ranges") {
    val dir = Files.createTempDirectory("graft-scur-stage").toString
    StreamCuration.stageMonotoneBatches(spark,
      streamDocs.toDF("doc_id", "text"), dir, 2)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length == 2)
    assert(files(0).lastModified < files(1).lastModified,
      "equal mtimes would let one trigger glue or reorder batches")
    val b0 = spark.read.parquet(files(0).getPath)
      .agg(max(col("doc_id"))).head().getLong(0)
    val b1 = spark.read.parquet(files(1).getPath)
      .agg(min(col("doc_id"))).head().getLong(0)
    assert(b0 < b1, "batch files must partition the id range monotonically")
  }
}
