package graft

import java.io.ByteArrayOutputStream
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Simulated ATOMIC-PUT / NON-ATOMIC-RENAME object store (`naf://` —
  * "non-atomic filesystem"), the storage profile of S3/GCS/ABFS, backed
  * by the local disk:
  *
  *  - '''create''' buffers the whole stream in memory and materializes it
  *    at `close()` under the store lock — an object is invisible until
  *    its PUT completes and can never be read torn (visible-at-close
  *    semantics). `overwrite = false` is enforced AT CLOSE, modeling the
  *    server-side `If-None-Match: *` / `ifGenerationMatch(0)`
  *    precondition a conditional PUT evaluates when the upload lands,
  *    surfacing a loss as Hadoop's `FileAlreadyExistsException` — the
  *    contract [[graft.streaming.ConditionalPutCommitter]] builds on.
  *  - '''rename''' of a FILE is copy-then-delete with an injectable
  *    crash window ([[AtomicPutStoreFs.failMidCopy]] leaves the
  *    destination torn) — the reason rename-based commit protocols are
  *    unsafe on this profile. Directory renames delegate to the local
  *    rename: they model bulk data staging, which is outside the commit
  *    protocol's atomicity needs.
  *
  * Registered via `fs.naf.impl` (+ the AbstractFileSystem binding for
  * FileContext) in `TestSpark`; `ObjectStoreCommitSpec` drives the
  * commit protocol through it.
  */
class AtomicPutStoreFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("naf:///")

  private def rawCreate(f: Path, bufferSize: Int, replication: Short,
                        blockSize: Long, progress: Progressable): FSDataOutputStream =
    super.create(f, true, bufferSize, replication, blockSize, progress)

  private def bufferedCreate(f: Path, overwrite: Boolean, bufferSize: Int,
                             replication: Short, blockSize: Long,
                             progress: Progressable): FSDataOutputStream = {
    val buf = new ByteArrayOutputStream()
    val sink = new java.io.OutputStream {
      private var closed = false
      override def write(b: Int): Unit = buf.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        buf.write(b, off, len)
      override def close(): Unit = if (!closed) {
        closed = true
        AtomicPutStoreFs.storeLock.synchronized {
          if (!overwrite && !AtomicPutStoreFs.preconditionDisabled &&
              AtomicPutStoreFs.this.exists(f))
            throw new FileAlreadyExistsException(
              s"$f exists — simulated conditional-put precondition " +
                "(If-None-Match: *) failed at PUT completion")
          // readers never take the store lock: land the bytes under a
          // hidden name and move them into place, so the object appears
          // whole (a direct write is visible empty, then partial)
          val tmp = new Path(f.getParent, s".naf-put-${java.util.UUID.randomUUID()}")
          val out = rawCreate(tmp, bufferSize, replication, blockSize, progress)
          try out.write(buf.toByteArray) finally out.close()
          java.nio.file.Files.move(pathToFile(tmp).toPath, pathToFile(f).toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
      }
    }
    new FSDataOutputStream(sink, null)
  }

  // RawLocalFileSystem funnels its public create variants through the
  // non-permission one below AND exposes the permission form — override
  // both so every write path gets visible-at-close PUT semantics
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    bufferedCreate(f, overwrite, bufferSize, replication, blockSize, progress)

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    bufferedCreate(f, overwrite, bufferSize, replication, blockSize, progress)

  override def rename(src: Path, dst: Path): Boolean =
    AtomicPutStoreFs.storeLock.synchronized {
      AtomicPutStoreFs.fileRenames.incrementAndGet()
      if (!exists(src)) false
      else if (getFileStatus(src).isDirectory) super.rename(src, dst)
      else if (exists(dst)) false
      else {
        // COPY-then-delete — the object-store "rename": the destination
        // fills in place (torn-visible), then the source goes away
        val in = open(src)
        val bytes =
          try {
            val b = new ByteArrayOutputStream()
            org.apache.commons.io.IOUtils.copy(in, b)
            b.toByteArray
          } finally in.close()
        val out = rawCreate(dst, 4096, 1.toShort, 33554432L, null)
        try out.write(bytes, 0,
          if (AtomicPutStoreFs.failMidCopy) bytes.length / 2 else bytes.length)
        finally out.close()
        if (AtomicPutStoreFs.failMidCopy)
          throw new java.io.IOException(
            s"simulated crash mid-copy renaming $src -> $dst " +
              "(destination left torn, source still present)")
        delete(src, false)
        true
      }
    }
}

object AtomicPutStoreFs {
  /** The simulated store's server: its internal operations are atomic. */
  val storeLock = new Object
  /** Crash injection: leave the rename destination half-written. */
  @volatile var failMidCopy: Boolean = false
  /** Capability injection: model a connector WITHOUT server-side
    * conditional create — `overwrite = false` silently overwrites (the
    * degraded check-then-put profile ConditionalPutCommitter must detect
    * and refuse). */
  @volatile var preconditionDisabled: Boolean = false
  /** FILE rename attempts observed — lets specs assert a protocol issued
    * zero renames. */
  val fileRenames = new java.util.concurrent.atomic.AtomicInteger
}

/** FileContext binding for `naf://` (TableFs.renameOverwrite's non-local
  * branch resolves the scheme through AbstractFileSystem). */
class AtomicPutStoreAbstractFs(uri: URI, conf: Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new AtomicPutStoreFs, conf, "naf", false)

/** A non-local scheme whose rename IS atomic (delegates to POSIX rename) —
  * the HDFS-class profile, for exercising TableFs.renameOverwrite's
  * FileContext branch positively. */
class HdfsLikeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("hdfsl:///")
}

class HdfsLikeAbstractFs(uri: URI, conf: Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new HdfsLikeFs, conf, "hdfsl", false)
