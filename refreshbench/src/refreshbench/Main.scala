package refreshbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One workload of the refresh benchmark in one JVM, as one client.
  *
  * {{{
  * refreshbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *                   --root DIR --modules FILE [--commit ID] [--source-hash H]
  * }}}
  *
  * Prints an environment line, in traced runs a span line, and last the
  * result line `{"correct", "attempted", "failed", "metrics"}`. Exits 1
  * when any operation or check failed.
  */
object Main {

  /** Per-layer metrics every traced run reports; 0 where the workload does
    * not exercise the layer (see the README table). */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "driver.nojob_s" -> "s", "spark.task_busy_s" -> "s", "spark.busy_share" -> "ratio",
    "spark.longest_task_ms" -> "ms", "spark.task_skew" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "plans.plan_ms" -> "ms", "plans.exchanges" -> "count",
    "sources.resolve_ms" -> "ms", "sources.rows_read" -> "count",
    "sources.bytes_read" -> "bytes", "sources.files_read" -> "count",
    "sources.rows_read_per_row_returned" -> "ratio",
    "operators.dedup_s" -> "s", "operators.dims_s" -> "s", "operators.star_s" -> "s",
    "operators.monitoring_s" -> "s", "operators.dedup_keep_ratio" -> "ratio",
    "pipeline.upsert_s" -> "s", "pipeline.bytes_written" -> "bytes",
    "pipeline.files_written" -> "count",
    "streaming.merge_s" -> "s", "streaming.star_batch_s" -> "s",
    "streaming.manifest_versions" -> "count", "streaming.partitions_replaced" -> "count",
    "callsite.pipeline_s" -> "s", "callsite.streaming_s" -> "s", "callsite.bench_s" -> "s",
    "trace.overhead_ratio" -> "ratio", "trace.ops" -> "count")

  /** The timed loop starts no operation once it has run this many times
    * `--seconds`: a guard that keeps a pathologically slow run inside the
    * run's time limit. At the fixed counts the loop takes about `--seconds`. */
  val GuardFactor = 6

  val GenerateReps = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val measureS = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val root = opt("root")
    val modules = CallSites.parseModules(
      scala.io.Source.fromFile(opt("modules"), "UTF-8").getLines().toSeq)

    val nproc = Runtime.getRuntime.availableProcessors
    val slots = math.min(4, nproc)
    val sessionStart = System.nanoTime()
    val spark = session(root, slots)
    val code = try {
      val sessionS = (System.nanoTime() - sessionStart) / 1e9
      val tracer = if (trace) Some(new Tracer(spark.sparkContext, modules)) else None
      val ctx = Ctx(spark, seed, s"$root/work", slots, tracer)
      val wl = Workload(workload, ctx)

      def seconds(body: => Unit): Double = {
        val start = System.nanoTime()
        body
        (System.nanoTime() - start) / 1e9
      }
      val generateS = (0 until GenerateReps).map { r =>
        val s = seconds(wl.generate(s"$root/input-$r"))
        if (r > 0) Files.delete(new java.io.File(s"$root/input-${r - 1}"))
        s
      }
      val seedS = seconds(wl.seed())

      var attempted = 0
      var failed = 0
      val failures = mutable.ArrayBuffer.empty[String]
      def record(f: Option[String]): Unit = f.foreach { m =>
        failed += 1
        if (failures.size < 10) failures += m
      }
      def attempt(i: Int, traced: Boolean): Option[OpResult] = {
        attempted += 1
        try {
          if (traced) tracer.foreach(_.attach()) else tracer.foreach(_.detach())
          val r = wl.op(i, traced)
          if (traced) tracer.foreach(_.ended(i, s"op.${r.label}", "", r.wallMs))
          record(r.failure)
          if (r.failure.isEmpty) Some(r) else None
        } catch {
          case NonFatal(e) =>
            record(Some(s"op $i threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)))
            None
        }
      }

      // warm-up: untimed rounds, so class loading, code generation and the
      // JIT are paid before timing
      val warmOps = wl.warmupRounds * wl.roundSize
      val warmS = seconds((0 until warmOps).foreach(k => attempt(k, traced = false)))

      val calibBefore = calibrate(spark)

      // closed loop, one client, a fixed number of whole rounds, so two
      // commits time the same operations. A traced run's rounds go traced
      // and plain in the order T P P T ..., so every operation kind is timed
      // both ways and the warming trend favours neither
      val ok = mutable.ArrayBuffer.empty[(OpResult, Boolean)]
      val loopStart = System.nanoTime()
      val endOps = math.min(wl.maxOps, warmOps + wl.rounds(trace) * wl.roundSize)
      var i = warmOps
      def guardLeft = (System.nanoTime() - loopStart) / 1e9 < GuardFactor * measureS
      while (i < endOps && guardLeft) {
        val traced = trace && Set(0, 3)(((i - warmOps) / wl.roundSize) % 4)
        attempt(i, traced).foreach(r => ok += ((r, traced)))
        i += 1
      }
      tracer.foreach(_.detach())

      attempted += 1
      val checkFailures =
        try wl.finalChecks()
        catch { case NonFatal(e) => Seq(s"final check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      record(checkFailures.headOption.map(_ => checkFailures.mkString("; ")))

      val calibAfter = calibrate(spark)
      val byKind = ok.map(_._1).toSeq.groupBy(_.label).map { case (k, rs) => k -> rs.map(_.wallMs) }
      val metrics: Seq[(String, Double, String)] =
        if (ok.isEmpty) Nil
        else if (!trace) {
          val walls = ok.map(_._1.wallMs).toSeq
          Seq(
            ("setup_s", sessionS + Stats.median(generateS) + seedS + warmS, "s"),
            // a read round is a fixed mix of kinds whose times differ tenfold:
            // its typical time is the geometric mean of the kinds' medians,
            // as TPC-H's power metric summarises its queries. No tail
            // percentile is reported: a run's few samples put fewer than ten
            // beyond any percentile above the median
            ("op_ms", Stats.geomean(byKind.values.map(Stats.quantile(_, 0.5)).toSeq), "ms"),
            ("throughput_per_s", ok.map(_._1.rows).sum / (walls.sum / 1000), "1/s"),
            ("stored_bytes_per_input_byte", wl.storedBytesPerInputByte(), "ratio"),
            ("peak_rss_mb", peakRssMb(), "MB"))
        } else {
          val traced = ok.filter(_._2).map(_._1).toSeq
          val plain = ok.filterNot(_._2).map(_._1).toSeq.groupBy(_.label)
          // per operation kind: median traced time over median plain time
          val ratios = traced.groupBy(_.label).toSeq.flatMap { case (label, rs) =>
            plain.get(label).map(ps => Stats.median(rs.map(_.wallMs)) / Stats.median(ps.map(_.wallMs)))
          }
          val overhead = if (ratios.isEmpty) 0.0 else Stats.median(ratios)
          PerLayer.map { case (name, unit) =>
            val v = name match {
              case "trace.overhead_ratio" => overhead
              case "trace.ops" => traced.size.toDouble
              case _ =>
                val xs = traced.flatMap(_.layer.get(name))
                if (xs.isEmpty) 0.0 else Stats.median(xs)
            }
            (name, v, unit)
          }
        }

      val env = Seq(
        "workload" -> Json.str(workload), "seed" -> seed.toString,
        "nproc" -> nproc.toString, "master" -> Json.str(s"local[$slots]"),
        "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
        "spark" -> Json.str(spark.version),
        "scala" -> Json.str(scala.util.Properties.versionNumberString),
        "jdk" -> Json.str(System.getProperty("java.version")),
        "commit" -> Json.str(opts.getOrElse("commit", "unknown")),
        "source_hash" -> Json.str(opts.getOrElse("source-hash", "unknown")),
        "calibration_s" -> Json.obj(Seq("before" -> Json.num(calibBefore),
          "after" -> Json.num(calibAfter))),
        "session_s" -> Json.num(sessionS),
        "generate_s" -> generateS.map(Json.num).mkString("[", ", ", "]"),
        "seed_s" -> Json.num(seedS), "warmup_s" -> Json.num(warmS),
        "ops_timed" -> ok.size.toString,
        "op_ms_by_kind" -> Json.obj(byKind.toSeq.sortBy(_._1).map { case (k, xs) =>
          k -> xs.map(Json.num).mkString("[", ", ", "]") }),
        "error_rate" -> Json.num(failed.toDouble / attempted),
        "failures" -> failures.map(Json.str).mkString("[", ", ", "]"))
      println(Json.obj(Seq("env" -> Json.obj(env))))
      tracer.foreach { t =>
        println(Json.obj(Seq("spans" -> t.spans.map(s => Json.obj(Seq(
          "op" -> s.op.toString, "name" -> Json.str(s.name), "parent" -> Json.str(s.parent),
          "start_ms" -> Json.num(s.startMs), "dur_ms" -> Json.num(s.durMs)))).mkString("[", ", ", "]"))))
      }
      val correct = failed == 0 && ok.nonEmpty
      println(Json.obj(Seq(
        "correct" -> correct.toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
          n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        }))))
      if (correct) 0 else 1
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        2
    } finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }

  /** The session every workload runs in: one client, at most `local[4]`,
    * with every file it writes under `root`. */
  def session(root: String, slots: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("refreshbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.sources.Tables.NanosAsLongConf, "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A fixed data-independent job (hash aggregate over 1e7 rows) whose
    * time depends only on the host's speed and contention. */
  def calibrate(spark: SparkSession): Double = {
    val start = System.nanoTime()
    spark.range(10000000L).selectExpr("sum(hash(id))", "count(distinct id % 1000)")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - start) / 1e9
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(sys.error("no VmHWM in /proc/self/status"))
    finally src.close()
  }
}

/** The build's class-loading training run: each named workload's set-up,
  * a traced round, and its checks, in one JVM, so the
  * class-data archive the build dumps at exit holds the classes a run
  * loads. `refreshbench.Train ROOT MODULES WORKLOAD...` */
object Train {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val modules = CallSites.parseModules(
      scala.io.Source.fromFile(args(1), "UTF-8").getLines().toSeq)
    val slots = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = Main.session(root, slots)
    try args.drop(2).foreach { name =>
      val tracer = new Tracer(spark.sparkContext, modules)
      val wl = Workload(name, Ctx(spark, 1L, s"$root/$name", slots, Some(tracer)))
      wl.generate(s"$root/$name-input")
      wl.seed()
      tracer.attach()
      (0 until wl.roundSize).foreach(i => wl.op(i, traced = true))
      tracer.detach()
      wl.finalChecks()
      wl.storedBytesPerInputByte()
    } finally spark.stop()
    Main.peakRssMb()
  }
}
