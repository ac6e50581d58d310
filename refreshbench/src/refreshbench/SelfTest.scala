package refreshbench

/** Unit tests of the benchmark's pure parts: quantile estimation, call-site
  * to module mapping, and generator determinism. Run with
  * `python3 refreshbench/run.py --self-test`; exits 1 on any failure. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  threw $e"); false }
    if (ok) passed += 1 else { failures += 1; println(s"FAIL $name") }
  }

  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  def main(args: Array[String]): Unit = {
    // quantile estimation
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    check("median of odd count is the middle sample")(Stats.median(xs) == 3.0)
    check("median of even count averages the middle pair")(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    check("quantile of a constant sample is the constant")(
      math.abs(Stats.quantile(Seq.fill(7)(4.0), 0.9) - 4.0) < 1e-9)
    check("median quantile of a symmetric sample is its centre")(
      math.abs(Stats.quantile(xs, 0.5) - 3.0) < 1e-9)
    check("quantiles rise with p and stay within the sample")(
      Stats.quantile(xs, 0.1) < Stats.quantile(xs, 0.5) && Stats.quantile(xs, 0.5) < Stats.quantile(xs, 0.9) &&
        Stats.quantile(xs, 0.9) < 5.0 && Stats.quantile(xs, 0.1) > 1.0)
    check("p90 of 1..100 is near 90")(
      math.abs(Stats.quantile((1 to 100).map(_.toDouble), 0.9) - 90.9) < 0.5)
    check("single sample")(Stats.quantile(Seq(7.0), 0.9) == 7.0 && Stats.median(Seq(7.0)) == 7.0)
    check("empty input is refused")(
      scala.util.Try(Stats.median(Nil)).isFailure && scala.util.Try(Stats.quantile(Nil, 0.5)).isFailure)
    check("geometric mean")(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)

    // call-site mapping
    val modules = CallSites.parseModules(Seq("Pipeline.scala\tpipeline", "StreamDedup.scala\tstreaming",
      "ManifestTable.scala\tsources", "Workloads.scala\tbench", "bad line"))
    check("short form names its file")(
      CallSites.knownFile("parquet at Pipeline.scala:33", modules) == Some("Pipeline.scala"))
    check("file maps to its module")(CallSites.moduleOf("parquet at Pipeline.scala:33", modules) == "pipeline")
    check("collect at streaming file")(
      CallSites.moduleOf("collect at StreamDedup.scala:251", modules) == "streaming")
    check("benchmark's own call site")(CallSites.moduleOf("save at Workloads.scala:12", modules) == "bench")
    check("unknown file is other")(CallSites.moduleOf("count at Spark.scala:1", modules) == "other")
    check("unparseable site is other")(CallSites.moduleOf("", modules) == "other" &&
      CallSites.knownFile("no call site", modules) == None)
    check("malformed module lines are skipped")(modules.size == 4)
    val longForm = "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:412)\n" +
      "org.apache.spark.sql.catalog.Pipeline.x(Pipeline.scala:9)\n" +
      "graft.streaming.StreamDedup$.merge(StreamDedup.scala:270)\n" +
      "graft.pipeline.Pipeline$.run(Pipeline.scala:40)"
    check("long form takes the innermost program frame")(
      CallSites.moduleOf(longForm, modules) == "streaming")

    // generator determinism
    val a = Gen.landing(7, 2, 500, 100, 3, 0.03)
    val b = Gen.landing(7, 2, 500, 100, 3, 0.03)
    val c = Gen.landing(8, 2, 500, 100, 3, 0.03)
    check("same seed, identical event bytes")(
      sha(Gen.eventBytes(a.landed(0, a.extracts.size))) == sha(Gen.eventBytes(b.landed(0, b.extracts.size))))
    check("different seed, different rows")(a.events != c.events)
    check("every event lands twice plus its correction")(
      a.landed(0, a.extracts.size).size == 2 * a.events.size + a.corrections.size)
    check("corrections are later and on the same day")(a.corrections.nonEmpty &&
      a.corrections.forall(f => a.events(f.id.toInt).tsUs < f.tsUs && a.events(f.id.toInt).day == f.day))
    check("the fact holds one row per event")(a.fact.map(_.id).distinct.size == a.events.size)
    check("event types come from the first `types` codes")(
      a.events.map(_.etype).toSet == Gen.EventTypes.take(3).toSet)
    check("the reference's traffic lands ~20 rows per extract")({
      val r = Gen.landing(7, 1, Gen.RefEventsPerDay, Gen.RefUsers, Gen.RefEventTypes, 0.03)
      val mid = r.extracts.slice(2, Gen.SlotsPerDay).map(_.size)
      r.events.map(_.user).toSet == Set(1L, 2L, 3L) && r.events.map(_.etype).toSet.size == 1 &&
        mid.min >= 18 && mid.max <= 24
    })
    check("a day's event ids hold exactly that day's events")((0 until 2).forall { d =>
      val (lo, hi) = Expected.dayIds(d, 500)
      a.events.filter(e => e.id >= lo && e.id <= hi).map(_.day).toSet ==
        Set(Math.floorDiv(Gen.StartUs, Gen.DayUs) + d) && hi - lo + 1 == 500
    })

    // date arithmetic of the expected answers
    check("date keys")(Expected.dateKey(0) == 19700101L && Expected.minusDays(20240301L, 1) == 20240229L)

    println(s"refreshbench self-test: $passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
