package perfbench

import java.util.SplittableRandom

import scala.math.Ordering.Double.TotalOrdering

import graft.operators.FdsnQuery.{EventParams, StationParams}

/** An in-memory Scala evaluation of the FDSN request semantics graft
  * serves, over event and channel index rows derived here from the raw
  * events with the index attribute definitions of `graft.operators.Indexers`.
  * Responses are compared as canonical text rows: timestamps as epoch
  * microseconds, everything else as its string form.
  */
object FdsnModel {
  final case class Ev(e: Event) {
    def id: Long = e.eventId
    def time: Long = e.tsUs
    def latitude: Double = (((e.userId * 37) % 180) - 90).toDouble + 0.5
    def longitude: Double = (((e.eventId * 53) % 360) - 180).toDouble + 0.5
    def depth: Double = (e.eventId % 700).toDouble
    def magnitude: Double = e.value / 50.0
    def agency: String = s"AG${e.userId % 7}"
    def contributor: String = s"C${e.eventId % 5}"
    def magnitudeType: String = MagnitudeTypes((e.eventId % 4).toInt)
    def updatedS: Long = Math.floorDiv(e.tsUs, 1000000L) + (e.eventId % 97) * 3600L
  }

  private val MagnitudeTypes = IndexedSeq("mb", "ms", "mw", "ml")

  final case class Ch(userId: Long, channel: String, epochStart: Long, epochEnd: Long, n: Long) {
    def network: String = s"N${userId % 10}"
    def station: String = s"ST$userId"
    def latitude: Double = (((userId * 31) % 180) - 90).toDouble + 0.5
    def longitude: Double = (((userId * 73) % 360) - 180).toDouble + 0.5
  }

  /** Columns each response is rendered with. */
  val EventCols = Seq("event_id", "time", "latitude", "longitude", "depth", "magnitude",
    "magnitude_type", "agency")
  val PageCols = Seq("event_id", "updated_s", "magnitude")
  val LookupCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
  /** Every stored index column the final-contents check compares. */
  val StoreCols = LookupCols ++ Seq("time", "latitude", "longitude", "depth", "magnitude",
    "agency", "contributor", "magnitude_type", "updated_s")
  def channelCols(level: String): Seq[String] = level match {
    case "channel" => Seq("network", "station", "channel", "epoch_start", "epoch_end",
      "n_samples", "latitude", "longitude")
    case "station" => Seq("network", "station", "n_channels", "epoch_start", "epoch_end",
      "latitude", "longitude")
    case _ => Seq("network", "n_stations", "n_channels", "epoch_start", "epoch_end")
  }

  def line(xs: Any*): String = xs.map(String.valueOf).mkString("|")
  def eventLine(v: Ev): String = line(v.id, v.time, v.latitude, v.longitude, v.depth,
    v.magnitude, v.magnitudeType, v.agency)
  def lookupLine(e: Event): String = line(e.eventId, e.tsUs, e.userId, e.eventType, e.value, e.props)
  def storeLine(v: Ev): String = line(lookupLine(v.e), v.time, v.latitude, v.longitude,
    v.depth, v.magnitude, v.agency, v.contributor, v.magnitudeType, v.updatedS)

  private def tsParam(s: String): Long =
    java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L

  private def centralAngleDeg(lat: Double, lon: Double, cLat: Double, cLon: Double): Double =
    math.toDegrees(2 * math.asin(math.sqrt(
      math.pow(math.sin(math.toRadians(lat - cLat) / 2), 2) +
        math.cos(math.toRadians(cLat)) * math.cos(math.toRadians(lat)) *
          math.pow(math.sin(math.toRadians(lon - cLon) / 2), 2))))

  private def inRadius(lat: Double, lon: Double, p: Option[(Double, Double)],
      minR: Option[Double], maxR: Option[Double]): Boolean = p.forall { case (cLat, cLon) =>
    val d = centralAngleDeg(lat, lon, cLat, cLon)
    d >= minR.getOrElse(0.0) && d <= maxR.getOrElse(180.0)
  }

  private def center(lat: Option[Double], lon: Option[Double]) =
    for (a <- lat; b <- lon) yield (a, b)

  def events(rows: Iterable[Ev], p: EventParams): Seq[String] = {
    val st = p.starttime.map(tsParam)
    val et = p.endtime.map(tsParam)
    val c = center(p.latitude, p.longitude)
    val hit = rows.filter { v =>
      st.forall(v.time >= _) && et.forall(v.time <= _) &&
      p.minLatitude.forall(v.latitude >= _) && p.maxLatitude.forall(v.latitude <= _) &&
      p.minLongitude.forall(v.longitude >= _) && p.maxLongitude.forall(v.longitude <= _) &&
      p.minDepth.forall(v.depth >= _) && p.maxDepth.forall(v.depth <= _) &&
      p.minMagnitude.forall(v.magnitude >= _) && p.maxMagnitude.forall(v.magnitude <= _) &&
      p.magnitudeType.forall(v.magnitudeType == _) && p.agency.forall(v.agency == _) &&
      inRadius(v.latitude, v.longitude, c, p.minRadius, p.maxRadius)
    }.toSeq
    val sorted = p.orderBy match {
      case "time" => hit.sortBy(v => (-v.time, v.id))
      case "time-asc" => hit.sortBy(v => (v.time, v.id))
      case "magnitude" => hit.sortBy(v => (-v.magnitude, v.id))
      case _ => hit.sortBy(v => (v.magnitude, v.id))
    }
    sorted.drop(p.offset.getOrElse(0)).take(p.limit.getOrElse(Int.MaxValue)).map(eventLine)
  }

  def channelIndex(events: Iterable[Event]): Seq[Ch] =
    events.groupBy(e => (e.userId, e.eventType)).toSeq.map { case ((u, t), es) =>
      Ch(u, t, es.map(_.tsUs).min, es.map(_.tsUs).max, es.size.toLong)
    }

  private def wildcard(pattern: String): scala.util.matching.Regex =
    pattern.map {
      case '*' => ".*"
      case '?' => "."
      case ch => java.util.regex.Pattern.quote(ch.toString)
    }.mkString.r

  /** Unordered: the FDSN station service promises no row order. */
  def channels(rows: Seq[Ch], p: StationParams): Seq[String] = {
    def wild(v: String, pat: Option[String]) = pat.forall(x => wildcard(x).matches(v))
    val ts = (o: Option[String]) => o.map(tsParam)
    val (sb, sa, eb, ea, st, et) = (ts(p.startBefore), ts(p.startAfter), ts(p.endBefore),
      ts(p.endAfter), ts(p.starttime), ts(p.endtime))
    val c = center(p.latitude, p.longitude)
    val hit = rows.filter { r =>
      wild(r.network, p.network) && wild(r.station, p.station) && wild(r.channel, p.channel) &&
      sb.forall(r.epochStart < _) && sa.forall(r.epochStart > _) &&
      eb.forall(r.epochEnd < _) && ea.forall(r.epochEnd > _) &&
      st.forall(r.epochEnd >= _) && et.forall(r.epochStart <= _) &&
      p.minLatitude.forall(r.latitude >= _) && p.maxLatitude.forall(r.latitude <= _) &&
      p.minLongitude.forall(r.longitude >= _) && p.maxLongitude.forall(r.longitude <= _) &&
      inRadius(r.latitude, r.longitude, c, p.minRadius, p.maxRadius)
    }
    val out = p.level match {
      case "channel" => hit.map(r => line(r.network, r.station, r.channel, r.epochStart,
        r.epochEnd, r.n, r.latitude, r.longitude))
      case "station" => hit.groupBy(r => (r.network, r.station)).toSeq.map { case ((n, s), g) =>
        line(n, s, g.size, g.map(_.epochStart).min, g.map(_.epochEnd).max,
          g.map(_.latitude).min, g.map(_.longitude).min)
      }
      case _ => hit.groupBy(_.network).toSeq.map { case (n, g) =>
        line(n, g.map(_.station).distinct.size, g.size, g.map(_.epochStart).min,
          g.map(_.epochEnd).max)
      }
    }
    out.sorted
  }

  def page(rows: Iterable[Ev], cursorSort: Long, cursorId: Long, limit: Int): Seq[String] =
    rows.filter(v => v.updatedS < cursorSort || (v.updatedS == cursorSort && v.id > cursorId))
      .toSeq.sortBy(v => (-v.updatedS, v.id)).take(limit)
      .map(v => line(v.id, v.updatedS, v.magnitude))

  // ---- seeded request parameters -------------------------------------

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
  private def maybe[T](r: SplittableRandom, pct: Int)(v: => T): Option[T] =
    if (r.nextInt(100) < pct) Some(v) else None
  /** A coordinate on a 0.25-degree grid offset by 0.1, so no index row
    * (all at x.5) sits on a box edge.
    */
  private def coord(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.floor((lo + r.nextDouble() * (hi - lo)) * 4) / 4 + 0.1

  def eventParams(r: SplittableRandom): EventParams = {
    val start = DataGen.T0Us + (r.nextDouble() * (DataGen.SpanUs - 86400e6)).toLong
    val len = (3600e6 * math.pow(120.0, r.nextDouble())).toLong
    val window = r.nextInt(100) < 80
    val geo = r.nextInt(10)
    val (bLat, bLon) = (coord(r, -90, 50), coord(r, -180, 100))
    val (cLat, cLon) = (coord(r, -80, 80), coord(r, -170, 170))
    val depth0 = r.nextInt(600).toDouble + 0.5
    val mag0 = r.nextInt(200) / 100.0 + 0.005
    EventParams(
      starttime = if (window) Some(Time.iso(start)) else None,
      endtime = if (window) Some(Time.iso(start + len)) else None,
      minLatitude = if (geo < 4) Some(bLat) else None,
      maxLatitude = if (geo < 4) Some(bLat + 20 + r.nextInt(70)) else None,
      minLongitude = if (geo < 4) Some(bLon) else None,
      maxLongitude = if (geo < 4) Some(bLon + 30 + r.nextInt(150)) else None,
      latitude = if (geo >= 4 && geo < 7) Some(cLat) else None,
      longitude = if (geo >= 4 && geo < 7) Some(cLon) else None,
      minRadius = if (geo >= 4 && geo < 7 && r.nextBoolean()) Some(2.3) else None,
      maxRadius = if (geo >= 4 && geo < 7) Some(10.3 + r.nextInt(50)) else None,
      minDepth = maybe(r, 50)(depth0),
      maxDepth = maybe(r, 50)(depth0 + 50 + r.nextInt(300)),
      minMagnitude = maybe(r, 50)(mag0),
      maxMagnitude = maybe(r, 20)(mag0 + 1 + r.nextInt(5)),
      magnitudeType = maybe(r, 30)(pick(r, IndexedSeq("mb", "ms", "mw", "ml"))),
      agency = maybe(r, 30)(s"AG${r.nextInt(7)}"),
      orderBy = pick(r, IndexedSeq("time", "time-asc", "magnitude", "magnitude-asc")),
      limit = Some(10 + r.nextInt(91)),
      offset = if (r.nextBoolean()) Some(1 + r.nextInt(50)) else None)
  }

  def stationParams(r: SplittableRandom): StationParams = {
    val start = DataGen.T0Us + (r.nextDouble() * (DataGen.SpanUs - 86400e6)).toLong
    val epochs = r.nextInt(3)
    StationParams(
      network = pick(r, IndexedSeq(Some(s"N${r.nextInt(10)}"), Some("N?"), None)),
      station = pick(r, IndexedSeq(Some(s"ST${1 + r.nextInt(9)}?"), Some(s"ST${1 + r.nextInt(9)}*"),
        Some(s"ST${r.nextInt(DataGen.NUsers)}"), None)),
      channel = pick(r, IndexedSeq(Some(pick(r, DataGen.EventTypes)), Some("*i*"),
        Some("?l*"), None)),
      starttime = if (epochs == 1) Some(Time.iso(start)) else None,
      endtime = if (epochs == 1) Some(Time.iso(start + 86400000000L)) else None,
      startAfter = if (epochs == 2) Some(Time.iso(DataGen.T0Us + 3600000000L)) else None,
      endBefore = if (epochs == 2) Some(Time.iso(DataGen.T0Us + DataGen.SpanUs - 3600000000L))
        else None,
      level = pick(r, IndexedSeq("channel", "channel", "station", "network")))
  }
}
