package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.{DataFrame, Row}

/** Partitioning-preserving eager `localCheckpoint`.
  *
  * `Dataset.localCheckpoint` under AQE wraps the checkpointed rows in a
  * `LogicalRDD` with `UnknownPartitioning` — `AdaptiveSparkPlanExec` does
  * not expose its final plan's partitioning to `LogicalRDD.fromDataset`,
  * so a frame that was carefully hash-partitioned+sorted before the
  * checkpoint REACQUIRES an exchange (and a sort) at every downstream
  * join, once per consumer. The round-21 plan dumps caught exactly this
  * in the PageRank fixed-point loop: the supposedly partition-carrying
  * edge checkpoint was re-exchanged every round (an Exchange over
  * `Scan ExistingRDD ... UnknownPartitioning(0)`); `GraphSpec`'s
  * plan-shape test now asserts every edge source's rounds stay
  * exchange-free.
  *
  * [[localCheckpointPreserving]] re-implements the checkpoint with the
  * same mechanics (`toRdd.map(_.copy())`, `localCheckpoint`, eager
  * count — exactly `Dataset.checkpoint`'s path) but stamps the resulting
  * `LogicalRDD` with the FINAL physical plan's `outputPartitioning` and
  * `outputOrdering`. The final adaptive plan's top node partitions over
  * the plan's own output attributes — the same references the
  * `LogicalRDD` carries — so downstream `EnsureRequirements` can prove
  * the checkpoint already satisfies a join/aggregate distribution and
  * skip the exchange outright (guide §2.4). Partition counts stay
  * whatever AQE made them (scale-adaptive, never a local constant);
  * co-partitioned consumers align their other side to the checkpoint's
  * count, which is the bucketed-table economics in memory.
  *
  * Like every `localCheckpoint` these blocks are NOT fault-tolerant
  * (a lost executor kills the lineage-free frame — guide §5); callers
  * release them via `Par.release` once the last consumer materializes.
  */
object CheckpointBridge {

  def localCheckpointPreserving(df: DataFrame): DataFrame = {
    val cds = df.asInstanceOf[CDataset[Row]]
    val spark: CSparkSession = cds.sparkSession
    val qe = cds.queryExecution
    val rdd: RDD[InternalRow] = qe.toRdd.map(_.copy())
    rdd.localCheckpoint()
    rdd.count() // eager: materialize the blocks now (Dataset.checkpoint's contract)
    val finalPlan: SparkPlan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p                        => p
    }
    val output = finalPlan.output
    // only carry partitioning/ordering expressed over the plan's own
    // output (anything else could not be resolved against the LogicalRDD)
    val attrSet = org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
    val partitioning: Partitioning = finalPlan.outputPartitioning match {
      case p: org.apache.spark.sql.catalyst.expressions.Expression
          if !p.references.subsetOf(attrSet) => UnknownPartitioning(rdd.getNumPartitions)
      case p => p
    }
    val ordering: Seq[SortOrder] =
      finalPlan.outputOrdering.filter(_.references.subsetOf(attrSet))
    CDataset.ofRows(spark,
      LogicalRDD(output, rdd, partitioning, ordering, isStreaming = false)(spark))
  }
}
