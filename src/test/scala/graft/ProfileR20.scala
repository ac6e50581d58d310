package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only per-job/per-stage profiler for the round-20 optimization pass:
  * runs the named `SparkEntry` queries under the bench session shape
  * (local[$SPARK_GRAFT_CPUS], shuffle partitions = cpus) with a listener
  * recording every job's wall time and every stage's task time / shuffle
  * bytes, then prints the SECOND (warm) pass's breakdown. This is the
  * "which stage is slow" step of guide §1/§7 without the UI.
  *
  * Run: `sbt "Test/runMain graft.ProfileR20 <q1,q2,...>"`.
  */
object ProfileR20 {
  case class JobRec(id: Int, desc: String, var ms: Long = -1,
                    stages: mutable.Buffer[String] = mutable.Buffer.empty)

  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    spark.range(1000000).selectExpr("sum(id)")
      .write.format("noop").mode("overwrite").save()

    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val starts = mutable.Map.empty[Int, Long]
    var record = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (record) {
        starts(e.jobId) = e.time
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, d.take(110))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach { j =>
          j.ms = e.time - starts.getOrElse(e.jobId, e.time)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = e.stageInfo
          val m = si.taskMetrics
          val line = f"      stage ${si.stageId}%4d ${si.name.take(70)}%-70s " +
            f"tasks=${si.numTasks}%3d exec=${m.executorRunTime}%6d ms " +
            f"shufR=${m.shuffleReadMetrics.totalBytesRead}%9d shufW=${m.shuffleWriteMetrics.bytesWritten}%9d"
          // attach to the most recent unfinished job (best effort)
          jobs.values.toSeq.reverseIterator
            .find(_.ms < 0).orElse(jobs.values.lastOption)
            .foreach(_.stages += line)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // pass 1: warm (fixtures, codegen)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      jobs.clear(); starts.clear()
      record = true
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      df.write.format("noop").mode("overwrite").save()
      val tTotal = (System.nanoTime() - t0) / 1e9
      record = false
      Thread.sleep(300) // let listener events drain
      println(f"\n=== $name warm pass: total $tTotal%.2f s (build $tBuild%.2f s), ${jobs.size} jobs ===")
      jobs.values.foreach { j =>
        println(f"  job ${j.id}%4d ${j.ms}%6d ms  ${j.desc}")
        j.stages.foreach(println)
      }
    }
    spark.stop()
  }
}
