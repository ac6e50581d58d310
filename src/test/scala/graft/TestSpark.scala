package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** One shared local session for the whole forked test JVM. */
object TestSpark {

  /** Count FileSourceScanExec leaves, seeing through AQE: an
    * `AdaptiveSparkPlanExec` is itself a leaf node, so a naive
    * `collectLeaves` on an exchange-bearing plan finds zero scans.
    * Unwraps to the current finalized physical plan (and any nested
    * adaptive subtrees) before counting.
    */
  def fileScans(plan: SparkPlan): Int = fileScanNodes(plan).size

  /** All FileSourceScanExec nodes, unwrapping AQE subtrees (see above). */
  def fileScanNodes(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
    case a: AdaptiveSparkPlanExec => fileScanNodes(a.executedPlan)
    // materialized AQE stages are leaves wrapping the real subtree
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      fileScanNodes(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      fileScanNodes(r.child)
    case f: FileSourceScanExec    => Seq(f)
    case p                        => p.children.flatMap(fileScanNodes)
  }

  /** Files the scans of `df` read (their numFiles metrics), collecting it. */
  def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    fileScanNodes(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
  }

  /** Run `body` with the rank-1 → max_by rewrite excluded from the
    * optimizer: the window form a rewritten plan is compared against.
    */
  def withoutRankOneRewrite[T](body: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules",
      graft.plans.RewriteRankOneToMaxBy.ruleName)
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  /** Data files committed under `parts` of the manifest table at `path`. */
  def filesOf(path: String, parts: String*): Long =
    graft.pipeline.Maintenance.tableFileStats(path)
      .filter(p => parts.contains(p.key)).map(_.nFiles.toLong).sum
  lazy val spark: SparkSession = Session(4, Seq(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString,
    // the simulated object-store schemes (ObjectStoreSim.scala): naf =
    // atomic-put / non-atomic-rename, hdfsl = non-local atomic-rename
    "spark.hadoop.fs.naf.impl" -> classOf[AtomicPutStoreFs].getName,
    "spark.hadoop.fs.AbstractFileSystem.naf.impl" -> classOf[AtomicPutStoreAbstractFs].getName,
    "spark.hadoop.fs.hdfsl.impl" -> classOf[HdfsLikeFs].getName,
    "spark.hadoop.fs.AbstractFileSystem.hdfsl.impl" -> classOf[HdfsLikeAbstractFs].getName))
}
