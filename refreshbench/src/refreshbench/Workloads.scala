package refreshbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Dims, Monitoring, Star}
import graft.pipeline.{Pipeline, Upsert, Views}
import graft.sources.{ManifestTable, Tables}
import graft.streaming.{AtomicRenameCommitter, StreamStar}

/** Shared state of one benchmark process. */
final case class Ctx(spark: SparkSession, seed: Long, root: String, slots: Int,
                     tracer: Option[Tracer])

/** One timed operation: what it was, its wall time, the input rows it
  * consumed, the per-layer figures of a traced operation, and the first
  * failed check. */
final case class OpResult(label: String, wallMs: Double, rows: Long,
                          layer: Map[String, Double], failure: Option[String])

abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark

  /** Generates the inputs into the fresh directory `dir`. Runs several
    * times; the last run's inputs are used. */
  def generate(dir: String): Unit
  /** Builds, once, what the operations start from (the seed builds). */
  def seed(): Unit = ()
  def op(i: Int, traced: Boolean): OpResult
  /** Operations per round: the timed loop and the warm-up run whole rounds. */
  def roundSize: Int = 1
  /** Untimed warm-up rounds before timing. */
  def warmupRounds: Int = 1
  /** Timed rounds of an untraced run. The count is fixed, whatever
    * `--seconds` says: operations still speed up as the JIT warms, so two
    * commits compare only when they time the same operations. */
  def minRounds: Int = 2
  /** Timed rounds of a run: a traced one makes at least four, traced and
    * plain in the order T P P T. */
  def rounds(trace: Boolean): Int = if (trace) math.max(4, minRounds) else minRounds
  /** Checks made once, after the timed loop; returns the failures. */
  def finalChecks(): Seq[String] = Nil
  /** Committed bytes divided by landed input bytes. */
  def storedBytesPerInputByte(): Double
  /** Upper limit on operations (the extracts or the query plan run out). */
  def maxOps: Int = Int.MaxValue

  /** Runs `body`, inside a listener window when traced. */
  protected def timed[T](traced: Boolean)(body: => T): (T, Double, Map[String, Double]) =
    ctx.tracer match {
      case Some(t) if traced =>
        val (r, w, wall) = t.window(body)
        (r, wall, w.metrics(wall, ctx.slots))
      case _ =>
        val start = System.nanoTime()
        val r = body
        (r, (System.nanoTime() - start) / 1e6, Map.empty)
    }

  /** Times `body` as a span when traced; returns its result and ms (0 untraced). */
  protected def span[T](i: Int, traced: Boolean, name: String, parent: String = "op")
                       (body: => T): (T, Double) =
    ctx.tracer match {
      case Some(t) if traced => t.span(i, name, parent)(body)
      case _ => (body, 0.0)
    }

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode(SaveMode.Overwrite).save()
}

object Workload {
  val Names: Seq[String] = Seq("microbatch_cdc", "analyst_reads")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "microbatch_cdc" => new MicrobatchCdc(ctx)
    case "analyst_reads" => new AnalystReads(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** File-system helpers over the run's local directories. */
object Files {
  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(walk)
    else if (f.isFile) Seq(f) else Nil

  def dataFiles(path: String): Seq[File] =
    walk(new File(path)).filter(f => f.getName.endsWith(".parquet"))

  def bytes(path: String): Long = dataFiles(path).map(_.length).sum

  def copy(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles).toSeq.flatten.foreach(f => copy(f, new File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** Data entries of a manifest table (metadata keys start with `__`). */
  def manifestData(table: String): Map[String, String] =
    AtomicRenameCommitter.readManifest(table).filterNot(_._1.startsWith("__"))

  /** Bytes of the data files a manifest table's committed state references. */
  def committedBytes(table: String): Long =
    manifestData(table).values.toSeq.distinct.map(rel => bytes(s"$table/$rel")).sum
}

/** Writers of the generated inputs in the program's `Tables` layout. */
object Inputs {
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_us", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def eventFrame(spark: SparkSession, evs: Seq[Ev], partitions: Int): DataFrame = {
    val rows = evs.map(e => Row(e.id, e.tsUs, e.user, e.etype, e.value, e.props))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), EventSchema)
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
  }

  /** Writes `evs` as a parquet directory of `files` files. */
  def writeEvents(spark: SparkSession, evs: Seq[Ev], path: String, files: Int): Unit =
    eventFrame(spark, evs, files).write.mode(SaveMode.Overwrite).parquet(path)
}

/** Closed-loop cron ticks, each applied with `StreamStar.upsertStarBatch`,
  * at the reference's traffic: 10 readings per 10-minute slot, so a tick
  * lands ~20 rows (two slots, plus corrections). */
final class MicrobatchCdc(ctx: Ctx) extends Workload(ctx) {
  val HistoryDays = 2
  val TickDays = 1
  val CorrectionShare = 0.03

  private var dir = ""
  private var landing: Landing = _
  private var ticks = 0
  private def historyExtracts = HistoryDays * Gen.SlotsPerDay
  private def paths = StreamStar.StarPaths(s"$dir/star")
  private def tables = Seq(paths.factSnap, paths.dimUser, paths.dimEventType,
    paths.dimDate, paths.star)
  private def tickPath(i: Int) = s"$dir/landing/tick_$i"

  override def maxOps: Int = landing.extracts.size - historyExtracts
  // the set-up's seed batch and one tick leave the next tick still slower
  // than later ones: two warm-up ticks put the timed ones on the flat of the
  // curve. Five timed ticks, because the 90th percentile of three is
  // nearly their maximum and spread ~0.13 of its median across seeds
  override def warmupRounds: Int = 2
  override def minRounds: Int = 5

  def generate(d: String): Unit = {
    dir = d
    ticks = 0
    landing = Gen.landing(ctx.seed, HistoryDays + TickDays, Gen.RefEventsPerDay, Gen.RefUsers,
      Gen.RefEventTypes, CorrectionShare)
    Inputs.writeEvents(spark, landing.landed(0, historyExtracts), s"$dir/history", ctx.slots)
  }

  override def seed(): Unit =
    StreamStar.upsertStarBatch(spark, spark.read.parquet(s"$dir/history"), paths.root,
      batchId = Some(0L), incrementalDims = true)

  def op(i: Int, traced: Boolean): OpResult = {
    val extract = landing.extracts(historyExtracts + i)
    // landing: the cron extract job's output, written before the clock starts
    Inputs.writeEvents(spark, extract, tickPath(i), 1)
    ticks = i + 1
    val before =
      if (traced) tables.map(t => t -> Files.manifestData(t)).toMap
      else Map.empty[String, Map[String, String]]
    val filesBefore =
      if (traced) Files.dataFiles(paths.root).map(_.getPath).toSet else Set.empty[String]
    var resolveMs = 0.0
    val ((starBatchMs, touched), wall, layer) = timed(traced) {
      val (batch, r1) = span(i, traced, "sources.resolve")(spark.read.parquet(tickPath(i)))
      val (_, batchMs) = span(i, traced, "streaming.star_batch")(
        StreamStar.upsertStarBatch(spark, batch, paths.root, batchId = Some(i + 1L),
          incrementalDims = true))
      // the commit is readable once a reader resolves the star over it
      val (star, r2) = span(i, traced, "sources.resolve")(Upsert.readTable(spark, paths.star))
      resolveMs = r1 + r2
      (batchMs, star.inputFiles.length)
    }
    val failure = if (touched > 0) None else Some(s"tick $i: star has no committed files")
    val extra =
      if (!traced) Map.empty[String, Double]
      else {
        val after = tables.map(t => t -> Files.manifestData(t)).toMap
        val star0 = before(paths.star)
        val star1 = after(paths.star)
        Map(
          "sources.resolve_ms" -> resolveMs,
          "streaming.star_batch_s" -> starBatchMs / 1000,
          "streaming.manifest_versions" -> tables.count(t => before(t) != after(t)).toDouble,
          "streaming.partitions_replaced" ->
            (star0.keySet ++ star1.keySet).count(k => star0.get(k) != star1.get(k)).toDouble,
          "pipeline.files_written" ->
            Files.dataFiles(paths.root).count(f => !filesBefore(f.getPath)).toDouble)
      }
    OpResult("tick", wall, extract.size.toLong, layer ++ extra, failure)
  }

  /** The committed star after the last tick equals the star of the union
    * of every landed extract, computed from the generated rows without
    * Spark: keep-latest per event, sha256 surrogate keys, `yyyyMMdd` day
    * keys (the equivalence `StreamStarSpec` pins against `Pipeline.run`). */
  override def finalChecks(): Seq[String] = {
    val want = Expected.star(landing.landed(0, historyExtracts + ticks))
    val got = Upsert.readTable(spark, paths.star)
      .select(col("user_key"), col("event_type_key"), col("date_key").cast("long"),
        col("event_id"), col("measure_value"), col("ts_us"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    val gotSet = got.toSet
    if (got.length == want.size && gotSet == want) Nil
    else Seq(s"streamed star (${got.length} rows) differs from the landed events' star " +
      s"(${want.size} rows) in ${(gotSet diff want).size + (want diff gotSet).size} rows")
  }

  def storedBytesPerInputByte(): Double = {
    val landed = Files.bytes(s"$dir/history") + (0 until ticks).map(i => Files.bytes(tickPath(i))).sum
    tables.map(Files.committedBytes).sum.toDouble / landed
  }
}

/** One query of the analyst mix: its kind, and the patient and day it
  * asks about (0 where the kind takes none). */
final case class Ask(kind: String, user: Long, day: Int)

/** One client's closed loop of short analyst queries over committed tables
  * holding 30 days of the reference's traffic. */
final class AnalystReads(ctx: Ctx) extends Workload(ctx) {
  val Days = 30
  val CorrectionShare = 0.03
  val Kinds: Vector[String] = Vector("mon_results", "mon_last_status", "mon_daily_summary",
    "mon_7d_summary", "mon_errors", "star_daily_user", "star_trailing_7d", "user_lookup",
    "sanity_sql")

  private var dir = ""
  private var asks: Vector[Ask] = Vector.empty
  private var expected: Map[Ask, String] = Map.empty
  private var maxDateKey = 0L
  private var keepRatio = 0.0
  private var distinctEvents = 0L
  private def out = s"$dir/out"
  private def factTable = s"$dir/fact_table"

  override def roundSize: Int = Kinds.size
  // queries still speed up over the second round: two warm-up rounds, then
  // three samples of each kind (with two, op_ms spread ~0.13 of its median
  // across seeds)
  override def warmupRounds: Int = 2
  override def minRounds: Int = 3
  override def maxOps: Int = asks.size

  /** The seeded query plan, long enough for a traced run: each round is a
    * shuffle of every kind, each per-patient kind asking about a seeded
    * patient and day. */
  private def plan(): Vector[Ask] = {
    val rng = new java.util.SplittableRandom(ctx.seed ^ 0x5eedL)
    Vector.fill(warmupRounds + rounds(trace = true)) {
      val order = Kinds.indices.toArray
      for (j <- order.indices.reverse) {
        val k = rng.nextInt(j + 1); val t = order(j); order(j) = order(k); order(k) = t
      }
      order.toVector.map { k =>
        val user = 1L + rng.nextInt(Gen.RefUsers)
        val day = rng.nextInt(Days)
        Kinds(k) match {
          case "star_daily_user" => Ask("star_daily_user", user, 0)
          case "user_lookup" => Ask("user_lookup", user, day)
          case kind => Ask(kind, 0L, 0)
        }
      }
    }.flatten
  }

  def generate(d: String): Unit = {
    dir = d
    val landing = Gen.landing(ctx.seed, Days, Gen.RefEventsPerDay, Gen.RefUsers,
      Gen.RefEventTypes, CorrectionShare)
    val landed = landing.landed(0, landing.extracts.size)
    Inputs.writeEvents(spark, landed, Tables.path(dir, "events"), ctx.slots)
    // `Views.registerAll` resolves every base table of the warehouse; the
    // non-event ones are copies of a one-row stand-in the queries never touch
    val stub = new File(Tables.path(dir, "lineitem"))
    spark.range(1).write.mode(SaveMode.Overwrite).parquet(stub.getPath)
    Seq("orders", "customer", "supplier", "part", "nation", "region",
      "documents", "embeddings").foreach(t => Files.copy(stub, new File(Tables.path(dir, t))))
    asks = plan()
    expected = Expected.answers(landed, landing.fact, asks.distinct, Gen.RefEventsPerDay)
    maxDateKey = Expected.dateKey(landing.fact.map(_.day).max)
    distinctEvents = landing.events.size.toLong
  }

  /** The warehouse the analysts read: the batch pipeline's tables, and its
    * fact committed once more as a manifest table for point lookups. The
    * pipeline's fact must hold one row per generated event. */
  override def seed(): Unit = {
    val rows = Pipeline.run(spark, dir, out).map(s => s.stage -> s.rows).toMap
    val fact = rows.getOrElse("fact_events", -1L)
    require(fact == distinctEvents, s"fact_events $fact != $distinctEvents distinct events")
    keepRatio = fact.toDouble / rows("landing_events")
    Upsert.writeTableAtomic(spark, spark.read.parquet(s"$out/fact_events"), factTable)
  }

  private def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")

  private val MonitoringViews: Map[String, DataFrame => DataFrame] = Map(
    "mon_results" -> Monitoring.results _, "mon_last_status" -> Monitoring.lastStatus _,
    "mon_daily_summary" -> Monitoring.dailySummary _,
    "mon_7d_summary" -> Monitoring.sevenDaySummary _, "mon_errors" -> Monitoring.errors _)

  /** The query of one ask; `resolve` wraps each source resolution. */
  private def query(ask: Ask, resolve: (=> DataFrame) => DataFrame): DataFrame = {
    def events = resolve(Tables.events(spark, dir))
    def table(name: String) = resolve(spark.read.parquet(s"$out/$name"))
    ask.kind match {
      case "mon_results" =>
        Monitoring.results(events).agg(count(lit(1)), sum(col("status")),
          sum(when(col("is_success"), 1L).otherwise(0L)))
      case "mon_last_status" =>
        Monitoring.lastStatus(events).select(col("job_name"), col("ts_us"), col("status"),
          col("is_success"))
      case "mon_daily_summary" =>
        Monitoring.dailySummary(events).select(col("event_date").cast("string"),
          col("job_name"), col("runs"), col("successes"), col("failures"))
      case "mon_7d_summary" =>
        Monitoring.sevenDaySummary(events).select(col("job_name"), col("runs_7d"),
          col("successes_7d"))
      case "mon_errors" =>
        Monitoring.errors(events).select(col("event_id"), col("ts_us"), col("status")).limit(20)
      case "star_daily_user" =>
        Star.dailyUserActivity(table("fact_events_star"), table("dim_date"), table("dim_user"))
          .filter(col("user_id") === ask.user)
          .select(col("date_id").cast("string"), col("n_events"), cents(col("sum_value")))
      case "star_trailing_7d" =>
        table("fact_events_star").filter(col("date_key") >= Expected.minusDays(maxDateKey, 6))
          .groupBy(col("date_key").cast("long"))
          .agg(count(lit(1)), sum(cents(col("measure_value"))))
      case "user_lookup" =>
        // event ids run in time order, one day's readings to an id range
        val (lo, hi) = Expected.dayIds(ask.day, Gen.RefEventsPerDay)
        resolve(ManifestTable.readTableIndexed(spark, factTable))
          .filter(col("event_id") >= lo && col("event_id") <= hi && col("user_id") === ask.user)
          .select(col("event_id"), cents(col("value")))
      case "sanity_sql" =>
        resolve { Views.registerAll(spark, dir); spark.table("fact_events_star") }
        spark.sql("""SELECT d.date_id, t.event_type, count(*) AS n_events
                     FROM fact_events_star f
                     JOIN dim_date d ON f.date_key = d.date_key
                     JOIN dim_event_type t ON f.event_type_key = t.event_type_key
                     GROUP BY d.date_id, t.event_type""")
          .select(col("date_id").cast("string"), col("event_type"), col("n_events"))
    }
  }

  /** After a traced query, the operator behind its kind run whole into a
    * no-op sink, so the `operators` layer is timed on its own; the
    * operators are lazy, so the query's own jobs are the benchmark's. */
  private def operatorSpan(i: Int, kind: String): Option[(String, Double)] = {
    def fact = spark.read.parquet(s"$out/fact_events")
    def dim(name: String) = spark.read.parquet(s"$out/$name")
    def timedSpan(name: String)(body: => Unit) =
      Some(s"${name}_s" -> span(i, traced = true, name, "decomposition")(body)._2 / 1000)
    kind match {
      case k if MonitoringViews.contains(k) =>
        timedSpan("operators.monitoring")(noop(MonitoringViews(k)(Tables.events(spark, dir))))
      case "star_trailing_7d" =>
        timedSpan("operators.star")(noop(Star.factStar(fact, dim("dim_user"),
          dim("dim_event_type"), dim("dim_date"))))
      case "sanity_sql" =>
        timedSpan("operators.dims") {
          noop(Dims.dimUser(fact)); noop(Dims.dimEventType(fact)); noop(Dims.dimDate(fact))
        }
      case "user_lookup" =>
        timedSpan("operators.dedup")(noop(Dedup.latestEvents(Tables.events(spark, dir))))
      case _ => None
    }
  }

  def op(i: Int, traced: Boolean): OpResult = {
    val ask = asks(i)
    var resolveMs = 0.0
    var planMs = 0.0
    var df: DataFrame = null
    val (rows, wall, layer) = timed(traced) {
      df = query(ask, d => {
        val (r, ms) = span(i, traced, "sources.resolve")(d)
        resolveMs += ms
        r
      })
      if (traced) planMs = span(i, traced, "plans.plan")(df.queryExecution.executedPlan)._2
      df.collect()
    }
    val failure =
      if (Expected.render(rows.toSeq) == expected(ask)) None
      else Some(s"${ask.kind}(user ${ask.user}, day ${ask.day}): answer differs")
    val extra =
      if (!traced) Map.empty[String, Double]
      else {
        val plan = df.queryExecution.executedPlan
        Map(
          "sources.resolve_ms" -> resolveMs,
          "plans.plan_ms" -> planMs,
          "plans.exchanges" -> Plans.exchanges(plan).toDouble,
          "sources.files_read" -> Plans.filesRead(plan).toDouble,
          "sources.rows_read_per_row_returned" ->
            layer.getOrElse("sources.rows_read", 0.0) / math.max(1, rows.length),
          "operators.dedup_keep_ratio" -> keepRatio) ++ operatorSpan(i, ask.kind)
      }
    OpResult(ask.kind, wall, 1L, layer ++ extra, failure)
  }

  def storedBytesPerInputByte(): Double =
    (Files.bytes(out) + Files.committedBytes(factTable)).toDouble /
      Files.bytes(Tables.path(dir, "events"))
}

/** The analyst answers computed from the generated rows without Spark. */
object Expected {
  def render(rows: Seq[Row]): String =
    rows.map(_.toSeq.map {
      case null => "null"
      case d: Double => Json.num(d)
      case v => v.toString
    }.mkString("|")).sorted.mkString("\n")

  private def fmt(day: Long): String = java.time.LocalDate.ofEpochDay(day).toString
  def dateKey(day: Long): Long = fmt(day).replace("-", "").toLong
  def minusDays(dateKey: Long, n: Int): Long = {
    val d = java.time.LocalDate.parse(dateKey.toString,
      java.time.format.DateTimeFormatter.BASIC_ISO_DATE).minusDays(n)
    d.toString.replace("-", "").toLong
  }
  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The star of `landed`: the latest row per event id (by `ts`, then
    * value), keyed as `Star.factStar` keys it. */
  def star(landed: Seq[Ev]): Set[(String, String, Long, Long, Double, Long)] = {
    val keys = scala.collection.mutable.Map.empty[String, String]
    landed.groupBy(_.id).values.map(_.maxBy(e => (e.tsUs, e.cents))).map { e =>
      (keys.getOrElseUpdate(e.user.toString, sha256(e.user.toString)),
        keys.getOrElseUpdate(e.etype, sha256(e.etype)), dateKey(e.day), e.id, e.value, e.tsUs)
    }.toSet
  }

  private def lines(xs: Iterable[Seq[Any]]): String =
    xs.map(_.mkString("|")).toSeq.sorted.mkString("\n")
  private def ok(s: Long) = s >= 50 && s <= 99

  /** The event ids of day `day` (from the first generated day). */
  def dayIds(day: Int, eventsPerDay: Int): (Long, Long) =
    (day.toLong * eventsPerDay, (day + 1L) * eventsPerDay - 1)

  def answers(landed: Seq[Ev], fact: Seq[Ev], asks: Seq[Ask],
              eventsPerDay: Int): Map[Ask, String] = {
    val parsed = landed.flatMap(e => e.status.map(s => (e, s)))
    val maxDay = landed.map(_.day).max
    val errors = parsed.filter { case (_, s) => !ok(s) }
      .sortBy { case (e, _) => (-e.tsUs, -e.id) }.take(20)
    val lastByJob = parsed.groupBy(_._1.etype).map { case (job, xs) =>
      val (e, s) = xs.maxBy { case (e, _) => (e.tsUs, e.id) }
      Seq(job, e.tsUs, s, ok(s))
    }
    val factMaxKey = dateKey(fact.map(_.day).max)
    val global = Map(
      "mon_results" -> lines(Seq(Seq(parsed.size.toLong, parsed.map(_._2).sum,
        parsed.count(p => ok(p._2)).toLong))),
      "mon_last_status" -> lines(lastByJob),
      "mon_daily_summary" -> lines(parsed.groupBy { case (e, _) => (e.day, e.etype) }.map {
        case ((d, job), xs) =>
          val s = xs.count(p => ok(p._2)).toLong
          Seq(fmt(d), job, xs.size.toLong, s, xs.size - s)
      }),
      "mon_7d_summary" -> lines(parsed.filter(_._1.day >= maxDay - 7).groupBy(_._1.etype).map {
        case (job, xs) => Seq(job, xs.size.toLong, xs.count(p => ok(p._2)).toLong)
      }),
      "mon_errors" -> lines(errors.map { case (e, s) => Seq(e.id, e.tsUs, s) }),
      "star_trailing_7d" -> lines(fact.filter(e => dateKey(e.day) >= minusDays(factMaxKey, 6))
        .groupBy(e => dateKey(e.day)).map { case (k, xs) =>
          Seq(k, xs.size.toLong, xs.map(_.cents).sum)
        }),
      "sanity_sql" -> lines(fact.groupBy(e => (e.day, e.etype)).map { case ((d, t), xs) =>
        Seq(fmt(d), t, xs.size.toLong)
      }))
    val byUser = fact.groupBy(_.user)
    asks.map { ask =>
      val mine = byUser.getOrElse(ask.user, Seq.empty)
      ask -> (ask.kind match {
        case "star_daily_user" => lines(mine.groupBy(_.day).map { case (d, xs) =>
          Seq(fmt(d), xs.size.toLong, xs.map(_.cents).sum)
        })
        case "user_lookup" =>
          val (lo, hi) = dayIds(ask.day, eventsPerDay)
          lines(mine.filter(e => e.id >= lo && e.id <= hi).map(e => Seq(e.id, e.cents)))
        case kind => global(kind)
      })
    }.toMap
  }
}
