package refreshbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.refreshbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** What the listener saw while one window was open. */
final class Window {
  final case class Job(start: Long, var end: Long, file: String, module: String)
  final case class Task(durMs: Long, inBytes: Long, inRecs: Long, outBytes: Long,
                        shuffleWrite: Long, shuffleRead: Long)
  val jobs: mutable.Map[Int, Job] = mutable.Map.empty
  val tasks: mutable.ArrayBuffer[Task] = mutable.ArrayBuffer.empty
  var stages = 0

  /** Per-window figures; `wallMs` is the window's wall time, `slots` the
    * local task slots. */
  def metrics(wallMs: Double, slots: Int): Map[String, Double] = synchronized {
    val durs = tasks.map(_.durMs.toDouble).toSeq
    val busyS = durs.sum / 1000
    val covered = jobs.values.toSeq.map(j => (j.start, math.max(j.start, j.end)))
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
        if (e <= reach) (acc, reach)
        else (acc + e - math.max(s, reach), e)
      }._1
    def jobS(p: Job => Boolean): Double =
      jobs.values.filter(p).map(j => math.max(0L, j.end - j.start)).sum / 1000.0
    // the modules the registered workloads launch jobs from
    val byModule = Seq("pipeline", "streaming", "bench")
      .map(m => s"callsite.${m}_s" -> jobS(_.module == m))
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "driver.nojob_s" -> math.max(0.0, wallMs - covered) / 1000,
      "spark.task_busy_s" -> busyS,
      "spark.busy_share" -> (if (wallMs > 0) busyS / (wallMs / 1000 * slots) else 0.0),
      "spark.longest_task_ms" -> (if (durs.isEmpty) 0.0 else durs.max),
      "spark.task_skew" ->
        (if (durs.isEmpty) 0.0 else durs.max / math.max(1.0, Stats.median(durs))),
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "sources.rows_read" -> tasks.map(_.inRecs).sum.toDouble,
      "sources.bytes_read" -> tasks.map(_.inBytes).sum.toDouble,
      "pipeline.bytes_written" -> tasks.map(_.outBytes).sum.toDouble,
      "pipeline.upsert_s" -> jobS(_.file == "Upsert.scala"),
      "streaming.merge_s" -> jobS(_.file == "StreamDedup.scala")
    ) ++ byModule
  }
}

/** A timed span recorded by the benchmark around one of its own calls. */
final case class Span(op: Int, name: String, parent: String, startMs: Double, durMs: Double)

/** The traced run's instrument: a listener that files every job and task
  * under the window open when it was posted, plus the spans
  * the benchmark records around its own calls into the program. The bus is
  * drained at every window boundary, so delivery order equals posting
  * order relative to the windows. */
final class Tracer(sc: SparkContext, fileModules: Map[String, String]) extends SparkListener {
  @volatile private var current: Window = null
  /** Call site of each SQL execution, from its start event. */
  private val executionSites = new java.util.concurrent.ConcurrentHashMap[Long, String]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val t0 = System.nanoTime()
  private var attached = false

  def attach(): Unit = if (!attached) { sc.addSparkListener(this); attached = true }
  def detach(): Unit = if (attached) { BusDrain.drain(sc); sc.removeSparkListener(this); attached = false }

  /** Runs `body` with a fresh window open; returns its result, the window
    * and the body's wall time in ms. */
  def window[T](body: => T): (T, Window, Double) = {
    BusDrain.drain(sc)
    val w = new Window
    current = w
    val start = System.nanoTime()
    try {
      val r = body
      val wall = (System.nanoTime() - start) / 1e6
      (r, w, wall)
    } finally {
      BusDrain.drain(sc)
      current = null
    }
  }

  /** Records a span of `durMs` that ended just now. */
  def ended(op: Int, name: String, parent: String, durMs: Double): Unit =
    spans += Span(op, name, parent, (System.nanoTime() - t0) / 1e6 - durMs, durMs)

  /** Times `body` as a span of operation `op`. */
  def span[T](op: Int, name: String, parent: String = "op")(body: => T): (T, Double) = {
    val start = System.nanoTime()
    val r = body
    val end = System.nanoTime()
    val dur = (end - start) / 1e6
    spans += Span(op, name, parent, (start - t0) / 1e6, dur)
    (r, dur)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executionSites.put(s.executionId, s.description + "\n" + s.details)
    case _ =>
  }

  /** A job's call site: its SQL execution's when it has one (a broadcast or
    * adaptive stage job is filed under the action that planned it), else
    * its own `callSite.short`, else its last stage's name. */
  private def siteOf(e: SparkListenerJobStart): String = {
    val props = Option(e.properties)
    val own = props.flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      .getOrElse("")
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executionSites.get(id.toLong)))
      .filter(CallSites.knownFile(_, fileModules).nonEmpty)
      .getOrElse(own)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val w = current
    if (w != null) {
      val site = siteOf(e)
      w.synchronized {
        w.jobs(e.jobId) = w.Job(e.time, e.time, CallSites.knownFile(site, fileModules).getOrElse(""),
          CallSites.moduleOf(site, fileModules))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val w = current
    if (w != null) w.synchronized { w.jobs.get(e.jobId).foreach(_.end = e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val w = current
    if (w != null) w.synchronized { w.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = current
    val m = e.taskMetrics
    if (w != null && m != null) w.synchronized {
      w.tasks += w.Task(e.taskInfo.duration, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead)
    }
  }
}

/** Facts read off an executed physical plan. */
object Plans {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def exchanges(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[Exchange])

  def filesRead(p: SparkPlan): Long = nodes(p).collect {
    case s: DataSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
  }.sum
}
