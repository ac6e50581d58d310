package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The QUALIFY-dedup → max_by optimizer rule: plan is rewritten (Window
  * gone, aggregate present), results identical to the window form, and
  * unsupported shapes (mixed sort directions) are left untouched.
  */
class RewriteRuleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def windowDedup() =
    Dedup.keepFirst(graft.sources.Tables.events(spark, "/root/testdata/sf0.001"),
      Seq("user_id"), Seq(col("ts").desc, col("event_id").desc))

  test("rank-1 filter over row_number window rewrites to max_by aggregate") {
    // baseline: the same query with the rule excluded, so it keeps the window
    val (windowPlan, baseline) = TestSpark.withoutRankOneRewrite {
      val df = windowDedup()
      (df.queryExecution.optimizedPlan.toString, df.collect().map(_.toString).sorted)
    }
    assert(windowPlan.contains("windowspecdefinition"),
      s"baseline should keep the window:\n$windowPlan")
    val opt = windowDedup()
    val plan = opt.queryExecution.optimizedPlan.toString
    assert(plan.contains("max_by"), s"expected max_by in:\n$plan")
    assert(!plan.contains("windowspecdefinition"), s"expected no window in:\n$plan")
    val rewritten = opt.collect().map(_.toString).sorted
    assert(rewritten.sameElements(baseline))
  }

  test("mixed sort directions are not rewritten") {
    val mixed = Dedup.keepFirst(
      graft.sources.Tables.events(spark, "/root/testdata/sf0.001"),
      Seq("user_id"), Seq(col("ts").desc, col("event_id").asc))
    val plan = mixed.queryExecution.optimizedPlan.toString
    assert(plan.contains("windowspecdefinition"), s"window should remain in:\n$plan")
  }
}
