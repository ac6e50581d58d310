package graft.pipeline

import java.util.concurrent.{ExecutionException, Executors}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Runs a fixed set of independent driver-side branches (each typically one
  * Spark write) at the same time — the one concurrency helper of the write
  * paths ([[graft.streaming.StreamStar]]'s per-tick dim writes and fact
  * staging, [[Maintenance.compact]]'s partition rewrites).
  *
  *  - every branch runs through `SQLExecution.withThreadLocalCaptured`, so
  *    it sees the caller's active session and local properties (job group,
  *    call site, job description, scheduler pool) exactly as if it ran on
  *    the calling thread;
  *  - every branch is JOINED before anything is rethrown: when `apply`
  *    returns or throws, no branch is still running, so a caller that
  *    commits after a failure-free return — or cleans up after a throw —
  *    never races a sibling still writing;
  *  - the first failure in branch order is rethrown, later ones ride along
  *    as suppressed exceptions.
  *
  * A single branch runs inline on the calling thread; at most
  * `MaxThreads` branches run at once.
  */
object JoinAll {

  /** At most this many branches run at once. Every caller's branches are
    * whole Spark jobs that parallelize across the cluster on their own;
    * the threads only hide per-job driver latency, which 4 already covers
    * for the largest fixed set (a tick's fact staging plus its 3 dims),
    * and a long branch list (compaction's partition rewrites) must not
    * start one driver thread per branch.
    */
  private val MaxThreads = 4

  def apply[T](spark: SparkSession)(branches: Seq[() => T]): Seq[T] = {
    if (branches.size <= 1) return branches.map(_())
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val pool = Executors.newFixedThreadPool(math.min(MaxThreads, branches.size))
    val outcomes = try {
      val futures = branches.map(b =>
        SQLExecution.withThreadLocalCaptured(session, pool)(b()))
      futures.map(f => Try(f.get()).recoverWith {
        case e: ExecutionException if e.getCause != null => Failure(e.getCause)
      })
    } finally {
      // joins branches submitted before a failed submission, too
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.DAYS)
    }
    val failures = outcomes.collect { case Failure(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.foreach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
    outcomes.collect { case Success(v) => v }
  }
}
