package refreshbench

import java.util.SplittableRandom

/** One landed event row in the program's `events` layout (`Tables.events`):
  * `event_id`, `ts` (µs), `user_id`, `event_type`, `value`, `props`.
  * Values are whole cents so `round(value * 100)` is exact on every path.
  */
final case class Ev(id: Long, tsUs: Long, user: Long, etype: String,
                    cents: Long, props: String) {
  def value: Double = cents / 100.0
  /** `try_cast(get_json_object(props, '$.k') AS BIGINT)` for this generator's payloads. */
  def status: Option[Long] =
    if (props.contains("null")) None
    else Some(props.stripPrefix("{\"k\": ").stripSuffix("}").toLong)
  def day: Long = Math.floorDiv(tsUs, Gen.DayUs)
}

/** The cron landing model of the reference: an extract runs every 10
  * minutes with a 20-minute lookback, so each event lands in two
  * consecutive extracts; a seeded share of events lands once more, in the
  * extract after that, as a correction with a later `ts` and a new value.
  * `extracts(e)` holds the rows of extract `e`: the events of slots `e - 1`
  * and `e`, plus the corrections of slot `e - 2`.
  */
final case class Landing(events: Vector[Ev], corrections: Vector[Ev],
                         extracts: Vector[Vector[Ev]]) {
  /** The keep-latest fact: one row per event id, the correction when there is one. */
  lazy val fact: Vector[Ev] = {
    val fixed = corrections.map(c => c.id -> c).toMap
    events.map(e => fixed.getOrElse(e.id, e))
  }
  def landed(from: Int, until: Int): Vector[Ev] =
    extracts.slice(from, until).flatten
}

object Gen {
  val StartUs = 1704067200000000L // 2024-01-01T00:00:00Z
  val DayUs = 86400000000L
  val CadenceUs = 600000000L // 10 minutes
  val SlotsPerDay: Int = (DayUs / CadenceUs).toInt
  val EventTypes: Vector[String] = Vector("8867-4", "8480-6", "8462-4", "8310-5", "9279-1")

  /** The reference's traffic, from its ingest cron and generator constants:
    * one heart-rate reading a minute (1,440 a day), from 3 patients, all of
    * one LOINC code, valued uniformly in 60.0..100.0 with one decimal. */
  val RefEventsPerDay = 1440
  val RefUsers = 3
  val RefEventTypes = 1

  /** `eventsPerDay` events spread evenly (with seeded jitter) over `days`
    * days from 2024-01-01, users uniform over `1..users`, event types
    * uniform over the first `types` of [[EventTypes]], values uniform in
    * 60.0..100.0, 2 % of payloads unparseable, `correctionShare` of events
    * corrected once with a new reading.
    */
  def landing(seed: Long, days: Int, eventsPerDay: Int, users: Int, types: Int,
              correctionShare: Double): Landing = {
    val rng = new SplittableRandom(seed)
    val n = days * eventsPerDay
    val spanUs = days * DayUs
    val events = Vector.newBuilder[Ev]
    val corrections = Vector.newBuilder[Ev]
    val slots = days * SlotsPerDay
    val bySlot = Array.fill(slots + 2)(Vector.newBuilder[Ev])
    val fixBySlot = Array.fill(slots + 2)(Vector.newBuilder[Ev])
    var i = 0
    while (i < n) {
      val ts = StartUs + ((i + rng.nextDouble()) * spanUs / n).toLong
      val cents = 6000L + 10 * rng.nextInt(401)
      val props =
        if (rng.nextDouble() < 0.02) "{\"k\": null}"
        else s"{\"k\": ${rng.nextInt(100)}}"
      val ev = Ev(i.toLong, ts, 1L + rng.nextInt(users),
        EventTypes(rng.nextInt(types)), cents, props)
      events += ev
      val slot = ((ts - StartUs) / CadenceUs).toInt
      bySlot(slot) += ev
      val fixDraw = rng.nextDouble()
      val shiftUs = (1L + rng.nextInt(300)) * 1000000L
      val newCents = 6000L + 10 * rng.nextInt(401)
      // a correction never moves its event to another day
      if (fixDraw < correctionShare && Math.floorDiv(ts + shiftUs, DayUs) == ev.day) {
        val fix = ev.copy(tsUs = ts + shiftUs, cents = newCents)
        corrections += fix
        fixBySlot(slot) += fix
      }
      i += 1
    }
    val slotRows = bySlot.map(_.result())
    val fixRows = fixBySlot.map(_.result())
    val extracts = (0 until slots + 2).map { e =>
      (if (e >= 1) slotRows(e - 1) else Vector.empty) ++
        (if (e < slots) slotRows(e) else Vector.empty) ++
        (if (e >= 2) fixRows(e - 2) else Vector.empty)
    }.toVector
    Landing(events.result(), corrections.result(), extracts)
  }

  /** Canonical bytes of generated rows, for determinism checks. */
  def eventBytes(evs: Seq[Ev]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    evs.foreach { e =>
      out.writeLong(e.id); out.writeLong(e.tsUs); out.writeLong(e.user)
      out.writeUTF(e.etype); out.writeLong(e.cents); out.writeUTF(e.props)
    }
    out.flush()
    bos.toByteArray
  }

}
