package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** One bus_status after-image as the generator knows it. Optional fields
  * are None when the envelope omits them (partial after-images are legal
  * Debezium). This, not the JSON, is what the reference check trusts. */
final case class Bus(recordId: Int, id: Int, routeId: Int, directionId: Option[String],
    predictable: Option[Int], secsSinceReport: Int, kph: Int, heading: Option[Int],
    lat: Double, lon: Double, leadingVehicleId: Option[Int], eventTime: Long)

object Kind extends Enumeration {
  val Snapshot, Insert, Redelivery, Update, OutOfOrder, Delete, Malformed = Value
}

/** A generated envelope: its wire JSON, the after-image it carries (None
  * for deletes and malformed JSON) and what kind of CDC event it models. */
final case class Env(json: String, after: Option[Bus], kind: Kind.Value)

/** Seeded Debezium envelope generator (FIXTURES.md §A.2 cases).
  *
  * Keys follow the reference's MySQL table: `record_id` is AUTO_INCREMENT,
  * so inserts take the next id, and a record's `routeId` never changes
  * (the sink's index is partition-local). Routes are Zipf-skewed over
  * `routes` route ids; the seed picks which ids are hot. Event times
  * come from one clock that steps 10 ms per generated event, and an
  * out-of-order update gets a time ≡ 5 (mod 10) below its key's newest,
  * so no two different images of one key ever share an event time (the
  * sink's precombine would break such a tie arbitrarily).
  *
  * [[latest]] is kept as events are generated: the newest after-image per
  * key, i.e. the table a correct upsert sink must end with. */
final class Envelopes(seed: Long, routes: Int = Envelopes.Routes) {
  import Envelopes._

  private val rnd = new SplittableRandom(seed)
  private val routeIds: Array[Int] = {
    val ids = Array.range(1, 4 * routes + 1)
    for (i <- ids.indices.reverse) { // Fisher-Yates: the seed picks the hot routes
      val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    ids.take(routes)
  }
  private val routeCdf: Array[Double] = {
    val w = Array.tabulate(routes)(r => 1.0 / math.pow(r + 1, ZipfExponent))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }

  private var clock = T0
  private var nextRecordId = 1
  private var offsetPos = 4690L
  val latest = mutable.HashMap.empty[Int, Bus]
  private val keys = mutable.ArrayBuffer.empty[Int]
  private val oooTimes = mutable.HashMap.empty[Int, mutable.Set[Long]]
  private val recent = new Array[Env](256)
  private var recentN = 0

  private def tick(): Long = { clock += 10; clock }

  def route(): Int = {
    val u = rnd.nextDouble()
    var lo = 0; var hi = routes - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (routeCdf(m) < u) lo = m + 1 else hi = m }
    routeIds(lo)
  }

  private def fresh(): Bus = { nextRecordId += 1; draft(nextRecordId - 1) }

  private def draft(rid: Int): Bus = {
    val r = route()
    val sparse = rnd.nextDouble() < SparseShare
    Bus(rid, 1000 + rnd.nextInt(9000), r,
      if (sparse) None else Some(s"${r}_${rnd.nextInt(2)}_$r"),
      if (sparse) None else Some(rnd.nextInt(2)),
      rnd.nextInt(60), rnd.nextInt(80),
      if (sparse) None else Some(rnd.nextInt(360)),
      43.6 + rnd.nextInt(1000000) / 1e7, -79.4 - rnd.nextInt(1000000) / 1e7,
      if (sparse || rnd.nextBoolean()) None else Some(1000 + rnd.nextInt(9000)),
      tick())
  }

  private def moved(b: Bus, t: Long): Bus =
    b.copy(secsSinceReport = rnd.nextInt(60), kph = rnd.nextInt(80),
      lat = b.lat + rnd.nextInt(1000) / 1e7, eventTime = t)

  private def keep(e: Env): Env = {
    e.after.foreach { b =>
      if (latest.get(b.recordId).forall(_.eventTime < b.eventTime)) {
        if (!latest.contains(b.recordId)) keys += b.recordId
        latest(b.recordId) = b
      }
    }
    recent(recentN % recent.length) = e; recentN += 1
    e
  }

  private def existing(): Bus = latest(keys(rnd.nextInt(keys.length)))

  /** `op=r` snapshot row of a new record (initial table load). */
  def snapshot(): Env = { val b = fresh(); keep(Env(envelope(Some(b), None, "r"), Some(b), Kind.Snapshot)) }

  /** One change event drawn from the given mix. */
  def next(mix: Mix): Env = {
    val u = rnd.nextDouble()
    if (u < mix.redelivery && recentN > 0) {
      val e = recent(rnd.nextInt(math.min(recentN, recent.length)))
      Env(e.json, e.after, Kind.Redelivery)
    } else if (u < mix.redelivery + mix.update && keys.nonEmpty) {
      val b = existing(); val n = moved(b, tick())
      keep(Env(envelope(Some(n), Some(b), "u"), Some(n), Kind.Update))
    } else if (u < mix.redelivery + mix.update + mix.outOfOrder && keys.nonEmpty) {
      val b = existing()
      val used = oooTimes.getOrElseUpdate(b.recordId, mutable.Set.empty)
      var t = b.eventTime - 5
      while (used.contains(t)) t -= 10
      used += t; tick()
      val n = moved(b, t)
      keep(Env(envelope(Some(n), Some(b), "u"), Some(n), Kind.OutOfOrder))
    } else if (u < mix.redelivery + mix.update + mix.outOfOrder + mix.delete && keys.nonEmpty) {
      val b = existing(); tick()
      keep(Env(envelope(None, Some(b), "d"), None, Kind.Delete))
    } else if (u < mix.redelivery + mix.update + mix.outOfOrder + mix.delete + mix.malformed) {
      val whole = envelope(Some(draft(nextRecordId)), None, "c")
      keep(Env(whole.take(40 + rnd.nextInt(whole.length / 2)), None, Kind.Malformed))
    } else {
      val b = fresh()
      keep(Env(envelope(Some(b), None, "c"), Some(b), Kind.Insert))
    }
  }

  private def envelope(after: Option[Bus], before: Option[Bus], op: String): String = {
    val sb = new java.lang.StringBuilder(720)
    sb.append("""{"schema":{"type":"struct","optional":false,"name":"dbserver1.demo.bus_status.Envelope"},"payload":{"before":""")
    image(sb, before)
    sb.append(",\"after\":"); image(sb, after)
    offsetPos += 300
    val ts = clock + 462
    sb.append(""","source":{"version":"1.9.4.Final","connector":"mysql","name":"dbserver1","ts_ms":""")
      .append(clock).append(""","snapshot":"""").append(if (op == "r") "true" else "false")
      .append("""","db":"demo","sequence":null,"table":"bus_status","server_id":223344,"gtid":null,"file":"binlog.000003","pos":""")
      .append(offsetPos).append(""","row":0,"thread":null,"query":null},"op":"""").append(op)
      .append("""","ts_ms":""").append(ts).append(""","transaction":null}}""")
    sb.toString
  }
}

object Envelopes {
  /** Distinct routes in the fleet, and the Zipf exponent of their traffic. */
  val Routes = 150
  val ZipfExponent = 1.1
  /** Event-time origin: the reference sample's `event_time`. */
  val T0 = 1656980233000L
  /** Share of new records whose after-image omits every optional field. */
  val SparseShare = 0.1

  /** Event mix: the share of each non-insert kind; inserts take the rest. */
  final case class Mix(redelivery: Double, update: Double, outOfOrder: Double,
      delete: Double, malformed: Double)

  /** Live fleet traffic: mostly AUTO_INCREMENT inserts. */
  val Steady = Mix(redelivery = 0.08, update = 0.06, outOfOrder = 0.03, delete = 0.02, malformed = 0.01)
  /** Replayed log tail after the snapshot: a heavy share of redeliveries. */
  val Replay = Mix(redelivery = 0.60, update = 0.05, outOfOrder = 0.02, delete = 0.01, malformed = 0.01)

  private def opt[T](sb: java.lang.StringBuilder, k: String, v: Option[T]): Unit =
    v.foreach { x =>
      sb.append(",\"").append(k).append("\":")
      x match { case s: String => sb.append('"').append(s).append('"'); case o => sb.append(o) }
    }

  def image(sb: java.lang.StringBuilder, b: Option[Bus]): Unit = b match {
    case None => sb.append("null")
    case Some(r) =>
      sb.append("{\"record_id\":").append(r.recordId).append(",\"id\":").append(r.id)
        .append(",\"routeId\":").append(r.routeId)
      opt(sb, "directionId", r.directionId); opt(sb, "predictable", r.predictable)
      sb.append(",\"secsSinceReport\":").append(r.secsSinceReport).append(",\"kph\":").append(r.kph)
      opt(sb, "heading", r.heading)
      sb.append(",\"lat\":").append(r.lat).append(",\"lon\":").append(r.lon)
      opt(sb, "leadingVehicleId", r.leadingVehicleId)
      sb.append(",\"event_time\":").append(r.eventTime).append('}')
  }
}
