package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** One generated event: the JSON payload plus what the benchmark expects
  * the pipeline to make of it. `reason` is the `FlightStream.quarantine`
  * reject reason, or null for an event that must reach staging. */
final case class Ev(json: String, key: String, keep: Boolean, reason: String,
    status: String, ingestMicros: Long, depSchedMicros: Long) {
  /** The staging row's identity, as [[Digest]] renders it. */
  def stagingLine: String = s"$key|$status|$ingestMicros|$depSchedMicros"
}

/** Seeded source of `FlightSchemas.eventSchema`-shaped JSON events.
  *
  * - Flights: a pool of `activeFlights` flights, each emitting a run of
  *   status snapshots (active → en-route → landed → arrived) with
  *   increasing ingest times; a finished flight is replaced by a new one.
  *   Flights interleave and start at scattered event times, so ingest
  *   order across flights is out of order.
  * - Dimensions: 12 airlines and 30 airports; some of each are ICAO-only
  *   (no IATA code), so both of `LoadCycle`'s insert paths run.
  * - Rejects: every block of [[BlockSize]] events holds exactly one event
  *   per reject reason, so each reason is `1 / BlockSize` of the events.
  * - Timestamps: whole seconds (schedules whole minutes), written in the
  *   ISO variants the ingest normalizer accepts (`Z`, `+00:00`, `+0000`, a
  *   non-UTC offset, no zone, and no seconds field where it is exact).
  *
  * The same seed gives the same events, byte for byte. The generator is
  * not thread-safe: one thread owns it.
  */
final class FlightGen(seed: Long, activeFlights: Int) {
  import FlightGen._

  private val rnd = new SplittableRandom(seed)
  private var produced = 0L
  private var flightSeq = 0
  private var blockReasons: Array[String] = Array.empty

  private final class Flight(val key: String, val date: String,
      val airline: Int, val number: Int, val dep: Int, val arr: Int,
      val depSched: Long, val arrSched: Long, val snapshots: Int) {
    var emitted = 0
    var lastIngest: Long = 0L
  }

  /** Event-time clock (epoch seconds): advances one second per event. */
  private def clock: Long = EventStart + produced

  private def newFlight(): Flight = {
    flightSeq += 1
    val airline = rnd.nextInt(Airlines.size)
    val number = 100 + rnd.nextInt(9000)
    // departures between 36 h before and 2 h after `Now`: always recent
    val depSched = NowSec - 36 * 3600 + rnd.nextInt(38 * 60) * 60L
    val arrSched = depSched + (60 + rnd.nextInt(300)) * 60L
    val dep = rnd.nextInt(Airports.size)
    val arr = (dep + 1 + rnd.nextInt(Airports.size - 1)) % Airports.size
    val date = DateFmt.format(Instant.ofEpochSecond(depSched))
    val code = Airlines(airline)._1.getOrElse(Airlines(airline)._2)
    val f = new Flight(s"$date-$code$number-$flightSeq", date, airline, number,
      dep, arr, depSched, arrSched, 3 + rnd.nextInt(4))
    f.lastIngest = clock - rnd.nextInt(600)
    f
  }

  private val pool: Array[Flight] = Array.fill(activeFlights)(newFlight())

  def next(): Ev = {
    val pos = (produced % BlockSize).toInt
    if (pos == 0) blockReasons = shuffledBlock()
    val reason = blockReasons(pos)
    val ev = if (reason == null) keptEvent() else rejectedEvent(reason)
    produced += 1
    ev
  }

  def take(n: Int): Array[Ev] = Array.fill(n)(next())

  private def shuffledBlock(): Array[String] = {
    val b = Array.fill[String](BlockSize)(null)
    Reasons.copyToArray(b)
    var i = BlockSize - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = b(i); b(i) = b(j); b(j) = t
      i -= 1
    }
    b
  }

  private def keptEvent(): Ev = {
    val slot = rnd.nextInt(pool.length)
    val f = pool(slot)
    val statusLc = Progression(math.min(f.emitted, Progression.size - 1))
    f.emitted += 1
    f.lastIngest += 30 + rnd.nextInt(60)
    if (f.emitted >= f.snapshots) pool(slot) = newFlight()
    val departed = statusLc != "active"
    val landed = statusLc == "landed" || statusLc == "arrived"
    val depDelay = if (departed) rnd.nextInt(40) - 5 else 0
    val arrDelay = if (landed) rnd.nextInt(50) - 10 else 0
    val json = render(f.key, f.date, mixCase(statusLc), f, f.depSched, f.arrSched,
      if (departed) f.depSched + depDelay * 60L else Long.MinValue,
      if (landed) f.arrSched + arrDelay * 60L else Long.MinValue,
      f.lastIngest, if (departed) Some(depDelay) else None,
      if (landed) Some(arrDelay) else None, withSched = true)
    Ev(json, f.key, keep = true, null, statusLc, f.lastIngest * 1000000L,
      f.depSched * 1000000L)
  }

  private def rejectedEvent(reason: String): Ev = {
    val f = pool(rnd.nextInt(pool.length))
    val ingest = clock - rnd.nextInt(600)
    val json = reason match {
      case "status_not_allowed" =>
        render(f.key, f.date, RejectStatuses(rnd.nextInt(RejectStatuses.size)),
          f, f.depSched, f.arrSched, Long.MinValue, Long.MinValue, ingest,
          None, None, withSched = true)
      case "null_flight_key" =>
        render(null, f.date, mixCase("active"), f, f.depSched, f.arrSched,
          Long.MinValue, Long.MinValue, ingest, None, None, withSched = true)
      case "no_timestamps" =>
        render(f.key, f.date, mixCase("en-route"), f, f.depSched, f.arrSched,
          Long.MinValue, Long.MinValue, ingest, None, None, withSched = false)
      case "stale" =>
        // every timestamp five to nine days before `Now`
        val dep = NowSec - (5 + rnd.nextInt(4)) * 86400L - rnd.nextInt(1440) * 60L
        render(f.key + "-old", DateFmt.format(Instant.ofEpochSecond(dep)),
          mixCase("landed"), f, dep, dep + 7200L, dep + 600L, dep + 7800L,
          ingest, Some(10), Some(10), withSched = true)
    }
    Ev(json, f.key, keep = false, reason, null, ingest * 1000000L, Long.MinValue)
  }

  private def mixCase(s: String): String = rnd.nextInt(3) match {
    case 0 => s
    case 1 => s.toUpperCase
    case _ => s.capitalize
  }

  /** A timestamp string in one of the accepted variants; null when absent. */
  private def ts(epochSec: Long): String =
    if (epochSec == Long.MinValue) null
    else {
      val t = Instant.ofEpochSecond(epochSec)
      rnd.nextInt(6) match {
        case 0 => IsoSec.format(t) + "Z"
        case 1 => IsoSec.format(t) + "+00:00"
        case 2 => IsoSec.format(t) + "+0000"
        case 3 => IsoSec.format(t.plusSeconds(7200)) + "+02:00"
        case 4 => IsoSec.format(t)
        // no seconds field: only exact for whole minutes
        case _ if epochSec % 60 == 0 => IsoMin.format(t) + "Z"
        case _ => IsoSec.format(t) + "Z"
      }
    }

  private def render(key: String, date: String, status: String, f: Flight,
      depSched: Long, arrSched: Long, depAct: Long, arrAct: Long,
      ingest: Long, depDelay: Option[Int], arrDelay: Option[Int],
      withSched: Boolean): String = {
    val sb = new java.lang.StringBuilder(640)
    def str(s: String): Unit =
      if (s == null) sb.append("null") else sb.append('"').append(s).append('"')
    def field(name: String, s: String, comma: Boolean = true): Unit = {
      sb.append('"').append(name).append("\":"); str(s)
      if (comma) sb.append(',')
    }
    def endpoint(ap: Int, sched: Long, est: Long, act: Long,
        delay: Option[Int]): Unit = {
      val (iata, icao, name) = Airports(ap)
      sb.append('{')
      field("airport", name); field("iata", iata.orNull); field("icao", icao)
      field("gate", s"G${1 + (f.number + ap) % 40}")
      field("terminal", ('A' + ap % 4).toChar.toString)
      field("schedule", if (withSched) ts(sched) else null)
      field("estimated", ts(est))
      field("actual", if (withSched) ts(act) else null)
      sb.append("\"delay_min\":").append(delay.map(_.toString).getOrElse("null"))
      sb.append('}')
    }
    val (aIata, aIcao, aName) = Airlines(f.airline)
    sb.append('{')
    field("flight_key", key); field("flight_date", date); field("status", status)
    sb.append("\"airline\":{")
    field("iata", aIata.orNull); field("icao", aIcao); field("name", aName, comma = false)
    sb.append("},\"flight\":{")
    field("number", f.number.toString)
    field("iata", aIata.map(_ + f.number).orNull)
    field("icao", aIcao + f.number, comma = false)
    sb.append("},\"departure\":")
    endpoint(f.dep, depSched, depSched + 300L, depAct, depDelay)
    sb.append(",\"arrival\":")
    endpoint(f.arr, arrSched, arrSched + 300L, arrAct, arrDelay)
    sb.append(',')
    field("ingest_time", ts(ingest)); field("source", "perfbench", comma = false)
    sb.append('}')
    sb.toString
  }
}

object FlightGen {
  /** The pipeline's injected `now`; retention keeps the last three days. */
  val Now: Instant = Instant.parse("2026-01-15T12:00:00Z")
  val NowSec: Long = Now.getEpochSecond
  private val EventStart = NowSec - 6 * 3600

  val Reasons: Seq[String] =
    Seq("status_not_allowed", "null_flight_key", "no_timestamps", "stale")
  /** One event per reject reason in every block: each reason is 5 %. */
  val BlockSize = 20
  def rejectShare(reason: String): Double =
    if (Reasons.contains(reason)) 1.0 / BlockSize else 0.0

  private val Progression = Vector("active", "en-route", "enroute", "landed", "arrived")
  private val RejectStatuses = Vector("scheduled", "Cancelled", "DIVERTED", "incident")

  /** (iata, icao, name); the last three are ICAO-only. */
  val Airlines: Vector[(Option[String], String, String)] = Vector(
    (Some("AA"), "AAL", "American"), (Some("DL"), "DAL", "Delta"),
    (Some("UA"), "UAL", "United"), (Some("BA"), "BAW", "British"),
    (Some("LH"), "DLH", "Lufthansa"), (Some("AF"), "AFR", "Air France"),
    (Some("KL"), "KLM", "KLM"), (Some("EK"), "UAE", "Emirates"),
    (Some("QF"), "QFA", "Qantas"), (None, "XCG", "Cargo North"),
    (None, "RSK", "Regional Sky"), (None, "TWX", "Taxi West"))

  /** (iata, icao, name); every fifth one is ICAO-only. */
  val Airports: Vector[(Option[String], String, String)] =
    Vector.tabulate(30) { i =>
      val icao = s"K${('A' + i / 26).toChar}${('A' + i % 26).toChar}X"
      val iata = if (i % 5 == 4) None else Some(icao.drop(1))
      (iata, icao, s"Airport $i")
    }

  private val DateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)
  private val IsoSec = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)
  private val IsoMin = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm").withZone(ZoneOffset.UTC)
}

/** Order-insensitive digest of a multiset of rendered rows. */
object Digest {
  def of(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.toArray.sorted.foreach { l =>
      md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
