package graft.pipeline

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.streaming.{AtomicRenameCommitter, SnapshotCommitter, SnapshotGc}

/** Small-file compaction (OPTIMIZE) for manifest-committed tables — the
  * maintenance operator the incremental write paths make necessary: the
  * streaming star ([[graft.streaming.StreamStar]]) and the partition
  * upserts ([[Upsert.upsertPartitionsAtomic]]) land files per
  * micro-batch/delta, so at a 10-minute cadence a year of operation is
  * ~50k files per table (the reference's answer — a full CTAS rebuild on
  * every refresh, scheduler semantics in its README — is exactly what the
  * incremental path exists to avoid). Compaction restores the read-side
  * layout without giving up the write-side incrementality:
  *
  *  - '''bin-packing per partition''': each manifest partition whose file
  *    count exceeds its bin-packed target (`ceil(bytes / targetFileBytes)`,
  *    floor 1) is rewritten to exactly that many files with `coalesce` —
  *    a file-merge is IO-bound, so the rewrite deliberately avoids a
  *    shuffle (`repartition` would add one for nothing); optional
  *    `zorderCols` upgrades the rewrite to a [[Layout.zorderWrite]]
  *    (range shuffle + in-file sort) so compaction doubles as
  *    re-clustering, the OPTIMIZE ... ZORDER BY shape.
  *  - '''atomicity''': rewritten partitions land in a fresh immutable
  *    `batch-<uuid>/` staging dir; visibility is ONE manifest replace
  *    covering every compacted partition at once, published by
  *    [[Upsert.commitReplace]] — the commit half the partition writes and
  *    the streaming merge share — readers see the whole compaction or none
  *    of it, never a mix, and a crash anywhere before the flip leaves the
  *    previous manifest byte-identical ([[MaintenanceSpec]] stops a
  *    compaction after its staging half).
  *  - '''time travel survives''': under a
  *    [[graft.streaming.VersionedCommitter]] the compaction is just the
  *    next version; pre-compaction versions keep their (immutable,
  *    GC-retained) data dirs, so as-of reads across the compaction commit
  *    resolve the OLD file layout with the same bytes.
  *  - '''content-preserving by construction''': the rewrite is
  *    read → coalesce/sort → write of the same rows; the correctness row
  *    (`table_compacted`) pins read-back ≡ the recomputed table state.
  *
  * Scale shape: partitions compact independently (the driver loop issues
  * one distributed job per selected partition — at cluster scale these
  * parallelize trivially across a job pool), selection metadata is
  * O(partitions), and untouched partitions are never listed, read, or
  * rewritten — work scales with the small-file debt, not the table.
  */
object Maintenance {

  /** Per-partition file-layout stats of a committed manifest table. */
  case class PartitionFiles(key: String, rel: String, nFiles: Int, bytes: Long)

  case class CompactStats(compacted: Seq[String], filesBefore: Long,
                          filesAfter: Long, bytesRewritten: Long,
                          committed: Boolean)

  /** Data-file layout per committed partition (manifest data entries only;
    * `__`-metadata entries reference no dirs). Local-FS listing here; on an
    * object store this is the same per-prefix LIST the read path does.
    */
  def tableFileStats(tablePath: String,
                     committer: SnapshotCommitter = AtomicRenameCommitter): Seq[PartitionFiles] =
    committer.readManifest(tablePath).toSeq
      .filterNot(_._1.startsWith("__")).sortBy(_._1)
      .map { case (k, rel) =>
        val fs = dataFiles(s"$tablePath/$rel")
        PartitionFiles(k, rel, fs.length, fs.map(_.getLen).sum)
      }

  private def dataFiles(dir: String): Seq[org.apache.hadoop.fs.FileStatus] =
    graft.streaming.TableFs.list(dir)
      .filter(f => f.isFile && !f.getPath.getName.startsWith(".") &&
        !f.getPath.getName.startsWith("_"))

  /** Bin-packed file-count target for a partition: one file per
    * `targetFileBytes` of data, floor one file.
    */
  private def targetFiles(bytes: Long, targetFileBytes: Long): Int =
    math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt

  /** Retention maintenance (VACUUM / expire-snapshots): expire history
    * down to the newest `keepLast` versions and release the data dirs no
    * retained version references. The versioned committer's `retain`
    * bound does this at COMMIT time; a table that stops being written —
    * or a compliance delete ([[Upsert.deleteWhere]]) whose pre-delete
    * rows must stop being resolvable — needs the standalone form.
    * Returns the expired version numbers.
    */
  def expireVersions(tablePath: String, keepLast: Int,
                     committer: graft.streaming.VersionedCommitter): Seq[Long] = {
    val expired = committer.expire(tablePath, keepLast)
    val current = Upsert.liveDirRefs(committer.readManifest(tablePath))
    SnapshotGc.gcUnreferenced(tablePath,
      current ++ committer.retainedReferences(tablePath),
      committer.gcGraceMs)
    expired
  }

  def compact(spark: SparkSession, tablePath: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              zorderCols: Seq[String] = Nil,
              committer: SnapshotCommitter = AtomicRenameCommitter): CompactStats =
    Upsert.withOp(committer, tablePath, "compact") {
      val (stats, staged) = stageCompact(spark, tablePath, targetFileBytes,
        zorderCols, committer)
      staged.fold(stats) { st =>
        Upsert.commitReplace(st, committer)
        stats.copy(committed = true)
      }
    }

  /** The staging half of [[compact]]: rewrite the selected partitions
    * under a fresh batch dir and build the manifest that re-points them
    * (None when nothing needs compacting). Nothing is visible until
    * [[Upsert.commitReplace]] publishes it; staging alone is the crash
    * window the commit protocol must tolerate.
    */
  private[graft] def stageCompact(spark: SparkSession, tablePath: String,
                                  targetFileBytes: Long, zorderCols: Seq[String],
                                  committer: SnapshotCommitter): (CompactStats, Option[Upsert.StagedReplace]) = {
    val manifest = committer.readManifest(tablePath)
    val batchDirName = Upsert.startStaging(tablePath, manifest, committer)
    val stats = tableFileStats(tablePath, committer)
    // compaction is also the MoR materialization pass: a partition with a
    // pending deletion or delta sidecar rewrites even when its file count
    // is already at target, so `compact` returns the table to
    // sidecar-free (anti-join-free, union-free) scans
    def hasPendingSidecars(key: String): Boolean =
      manifest.contains(s"__del.$key") || manifest.contains(s"__delta.$key")
    val selected = stats.filter(p =>
      p.nFiles > targetFiles(p.bytes, targetFileBytes) ||
        hasPendingSidecars(p.key))
    if (selected.isEmpty)
      return (CompactStats(Nil, stats.map(_.nFiles.toLong).sum,
        stats.map(_.nFiles.toLong).sum, 0L, committed = false), None)

    // partitions compact independently — run their rewrite jobs
    // CONCURRENTLY (JoinAll caps the driver threads at 4; the cluster
    // parallelizes within each job) so a long tail of small-file
    // partitions doesn't serialize on job-submission latency. Each job writes its own
    // immutable dest dir, so concurrency changes nothing about the result
    // or the commit; every rewrite finishes before a failure is rethrown,
    // so none is left writing into staging the next GC pass collects.
    val rewritten = JoinAll(spark)(
      selected.zipWithIndex.map { case (p, i) => () =>
        // dir name is index-unique and path-safe regardless of the key's
        // characters ('=' excluded so nothing ever hive-parses it)
        val sub = s"cpt$i-${p.key.replaceAll("[^A-Za-z0-9._-]", "_")}"
        val dest = s"$tablePath/$batchDirName/$sub"
        // pending MoR deletes AND deltas materialize here: the
        // rewrite's source is the sidecar-aware read, and the commit
        // below drops the sidecar entries
        val df = Upsert.applyMor(spark,
          spark.read.parquet(s"$tablePath/${p.rel}"), manifest, tablePath,
          Some(Set(p.key)))
        val n = targetFiles(p.bytes, targetFileBytes)
        if (zorderCols.nonEmpty) Layout.zorderWrite(df, dest, zorderCols, n)
        else df.coalesce(n).write.mode(SaveMode.Overwrite).parquet(dest)
        // deletes-only compaction preserves a SUBSET of the content, so
        // the source dir's bloom sidecars stay valid verbatim — carry
        // them into the new dir (they'd otherwise die with the
        // superseded dir at GC, and the partition would silently lose
        // its point-lookup skipping). A materialized DELTA adds values
        // the old filter never saw — carrying it would wrongly skip, so
        // that partition rides filterless until its next stats-writing
        // rewrite (absent sidecar = read, never wrongly pruned)
        if (!manifest.contains(s"__delta.${p.key}"))
          graft.streaming.TableFs.list(s"$tablePath/${p.rel}")
            .filter(f => f.isFile && f.getPath.getName.startsWith("_bloom_") &&
              f.getPath.getName.endsWith(".bin"))
            .foreach { f =>
              val name = f.getPath.getName
              graft.streaming.TableFs.writeBytes(s"$dest/$name",
                graft.streaming.TableFs.readBytes(s"$tablePath/${p.rel}/$name"))
            }
        (p, s"$batchDirName/$sub")
      })
    val afterSelected = rewritten.map { case (_, rel) =>
      dataFiles(s"$tablePath/$rel").length.toLong
    }.sum
    val untouchedFiles = stats.filterNot(p => selected.exists(_.key == p.key))
      .map(_.nFiles.toLong).sum

    // one flip re-points every compacted partition (materialized deletion
    // and delta sidecars drop with it); other `__` metadata rides along
    // untouched. Per-FILE stats are regenerated from the new dirs'
    // footers (the old entries name files that no longer exist) —
    // compaction is exactly where a deployment refreshes file skipping
    val staleFileStats = rewritten.flatMap { case (p, _) =>
      Upsert.staleFileRangeKeys(manifest, p.key)
    }
    val statCols = Upsert.rangeStatsCols(manifest)
    val freshFileStats = rewritten.flatMap { case (p, rel) =>
      // also refreshes __rows.<p>: a materialized deletion sidecar
      // SHRANK the partition, so the pre-compaction count is stale
      Upsert.footerEntriesForDir(spark, statCols, tablePath, p.key, rel)
    }.toMap
    // dropCarriedCdf: compaction's logical delta is EMPTY — carrying the
    // predecessor's change log would serve a stale feed for this step
    val newManifest = Upsert.dropCarriedCdf(manifest
        -- rewritten.map { case (p, _) => s"__del.${p.key}" }
        -- rewritten.map { case (p, _) => s"__delta.${p.key}" }
        -- staleFileStats) ++
      rewritten.map { case (p, rel) => p.key -> rel } ++ freshFileStats
    val keys = rewritten.map(_._1.key)
    (CompactStats(keys, stats.map(_.nFiles.toLong).sum,
      untouchedFiles + afterSelected, selected.map(_.bytes).sum,
      committed = false),
      Some(Upsert.StagedReplace(tablePath, manifest, batchDirName, newManifest,
        keys.map(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName))))
  }
}
