package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions

/** FDSN web-service query compilation (Jane: fdsnws-event / fdsnws-station).
  *
  * Jane translates FDSN HTTP query params into a Django ORM / PostGIS query
  * over its index tables; graft translates the same param surface into one
  * Catalyst predicate + sort + limit over an index DataFrame. Because the
  * result is a single declarative plan, every parameter pushes down to
  * the parquet scan (row-group skipping). Partition pruning applies where
  * the store's layout matches a parameter: over a day-partitioned event
  * store ([[graft.sources.ParquetStore.writeDayPartitioned]]) the time
  * window also bounds `p_day`, so the scan reads only the window's days.
  */
object FdsnQuery {

  /** FDSN wildcards: `*` = any run, `?` = one char (fdsnws-station
    * network/station/location/channel params). Translated to SQL LIKE with
    * LIKE-metacharacter escaping.
    */
  def fdsnWildcardToLike(pattern: String): String =
    pattern.flatMap {
      case '*'  => "%"
      case '?'  => "_"
      case '%'  => "\\%"
      case '_'  => "\\_"
      case '\\' => "\\\\"
      case c    => c.toString
    }

  def matchesFdsn(c: Column, pattern: String): Column =
    c.like(fdsnWildcardToLike(pattern))

  /** The geographic + freshness surface both FDSN services share: box in
    * degrees, point-radius in great-circle DEGREES per the FDSN spec (not
    * km), so real fdsnws clients can pass their values through unchanged.
    */
  sealed trait GeoParams {
    def minLatitude: Option[Double]
    def maxLatitude: Option[Double]
    def minLongitude: Option[Double]
    def maxLongitude: Option[Double]
    def latitude: Option[Double]
    def longitude: Option[Double]
    def minRadius: Option[Double]
    def maxRadius: Option[Double]
    def updatedAfter: Option[String]
  }

  /** Filter `index` by one conjunction: `lead` predicates, then the bbox,
    * then `attrs`, then updatedafter and the point-radius — one order for
    * both services, so each service's plan keeps its predicate sequence.
    */
  private def filterBy(index: DataFrame, p: GeoParams,
      lead: Seq[Option[Column]], attrs: Seq[Option[Column]]): DataFrame = {
    val bbox = Seq(
      p.minLatitude.map(col("latitude") >= _),
      p.maxLatitude.map(col("latitude") <= _),
      p.minLongitude.map(col("longitude") >= _),
      p.maxLongitude.map(col("longitude") <= _))
    // updatedafter compares on integer epoch seconds (engine-portable)
    val updated = p.updatedAfter.map(t =>
      col("updated_s") >= unix_timestamp(lit(t).cast("timestamp")))
    val radius = for {
      lat <- p.latitude; lon <- p.longitude
    } yield {
      val deg = expr(GeoFunctions.centralAngleDegSql("latitude", "longitude", lat, lon))
      deg >= p.minRadius.getOrElse(0.0) && deg <= p.maxRadius.getOrElse(180.0)
    }
    (lead ++ bbox ++ attrs :+ updated :+ radius).flatten
      .reduceOption(_ && _).fold(index)(index.filter)
  }

  /** The UTC calendar day of FDSN time `t`, shifted by `days`. A store's
    * `p_day` is the day in its writer's session zone, which the reader
    * cannot see; every real zone is within a day of UTC, so a window's
    * UTC days widened by one on each side cover its `p_day`s. */
  private def utcDay(t: String, days: Int): Column =
    date_add(date_from_unix_date(
      floor(unix_seconds(lit(t).cast("timestamp")) / 86400).cast("int")), days)

  /** fdsnws-event query parameters (public FDSN spec surface). */
  final case class EventParams(
      starttime: Option[String] = None,
      endtime: Option[String] = None,
      minLatitude: Option[Double] = None,
      maxLatitude: Option[Double] = None,
      minLongitude: Option[Double] = None,
      maxLongitude: Option[Double] = None,
      latitude: Option[Double] = None,
      longitude: Option[Double] = None,
      minRadius: Option[Double] = None, // degrees
      maxRadius: Option[Double] = None, // degrees
      minDepth: Option[Double] = None,
      maxDepth: Option[Double] = None,
      minMagnitude: Option[Double] = None,
      maxMagnitude: Option[Double] = None,
      magnitudeType: Option[String] = None,
      agency: Option[String] = None,
      contributor: Option[String] = None,
      updatedAfter: Option[String] = None, // ISO timestamp
      orderBy: String = "time", // time | time-asc | magnitude | magnitude-asc
      limit: Option[Int] = None,
      offset: Option[Int] = None) extends GeoParams

  /** Compile event params over an event-index DataFrame with columns
    * `time: timestamp, latitude, longitude, depth, magnitude,
    * magnitude_type, agency, contributor, updated_s` (+ id cols). An
    * index with a `p_day` column (a day-partitioned store) also gets the
    * time window as a `p_day` bound, which prunes its day partitions; the
    * `time` predicates keep the result exact.
    */
  def events(index: DataFrame, p: EventParams): DataFrame = {
    val days = index.columns.contains("p_day")
    val filtered = filterBy(index, p,
      lead = Seq(
        p.starttime.map(t => col("time") >= lit(t).cast("timestamp")),
        p.endtime.map(t => col("time") <= lit(t).cast("timestamp")),
        p.starttime.filter(_ => days).map(t => col("p_day") >= utcDay(t, -1)),
        p.endtime.filter(_ => days).map(t => col("p_day") <= utcDay(t, 1))),
      attrs = Seq(
        p.minDepth.map(col("depth") >= _),
        p.maxDepth.map(col("depth") <= _),
        p.minMagnitude.map(col("magnitude") >= _),
        p.maxMagnitude.map(col("magnitude") <= _),
        p.magnitudeType.map(col("magnitude_type") === _),
        p.agency.map(col("agency") === _),
        p.contributor.map(col("contributor") === _)))
    val sorted = p.orderBy match {
      // event id as deterministic tie-break, matching Jane's stable paging
      case "time"          => filtered.orderBy(col("time").desc, col("event_id").asc)
      case "time-asc"      => filtered.orderBy(col("time").asc, col("event_id").asc)
      case "magnitude"     => filtered.orderBy(col("magnitude").desc, col("event_id").asc)
      case "magnitude-asc" => filtered.orderBy(col("magnitude").asc, col("event_id").asc)
      case other => throw new IllegalArgumentException(s"orderby: $other")
    }
    val paged = p.offset.fold(sorted)(sorted.offset)
    p.limit.fold(paged)(paged.limit)
  }

  /** fdsnws-event `includeallorigins` semantics over an origin-index
    * DataFrame (see [[Indexers.OriginIndex]]): rank each event's origins
    * by quality (most defining phases, then lowest origin id — the
    * deterministic stand-in for QuakeML's author-designated
    * preferredOriginID) and either keep only the preferred origin
    * (`includeAll = false`, the service default) or all of them flagged.
    * One window shuffle keyed by event_id; no self-join.
    */
  def eventOrigins(origins: DataFrame, includeAll: Boolean): DataFrame =
    rankPreferred(origins, Seq(col("n_phases").desc, col("origin_id").asc), includeAll)

  /** Shared preferred-row selection: rank within each event by the given
    * quality ordering, flag rank 1 as preferred, keep all (flagged) or
    * only the preferred row. One event_id-keyed window shuffle.
    */
  private def rankPreferred(df: DataFrame,
      ordering: Seq[Column], includeAll: Boolean): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_id")
      .orderBy(ordering: _*)
    val ranked = df
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .withColumn("is_preferred", when(col("__rn") === 1, 1L).otherwise(0L))
    (if (includeAll) ranked else ranked.filter(col("__rn") === 1)).drop("__rn")
  }

  /** QuakeML magnitude-type preference order: moment magnitude is the
    * authoritative estimate when present, then surface/body wave, then
    * local. One CASE text shared verbatim with the DuckDB oracle
    * (SURVEY.md §4).
    */
  val magTypeRankSql: String =
    "CASE mtype WHEN 'mw' THEN 0 WHEN 'ms' THEN 1 WHEN 'mb' THEN 2 ELSE 3 END"

  /** fdsnws-event `includeallmagnitudes` semantics over a magnitude-index
    * DataFrame (see [[Indexers.MagnitudeIndex]]): rank each event's
    * magnitude estimates by type authority (mw > ms > mb > ml, then lowest
    * mag id — the deterministic stand-in for QuakeML's author-designated
    * preferredMagnitudeID) and either keep only the preferred one
    * (`includeAll = false`, the service default) or all of them flagged.
    * Same single-window shape as [[eventOrigins]]: one event_id-keyed
    * shuffle, no self-join.
    */
  def eventMagnitudes(mags: DataFrame, includeAll: Boolean): DataFrame =
    rankPreferred(mags, Seq(expr(magTypeRankSql).asc, col("mag_id").asc), includeAll)

  /** fdsnws-station epoch parameters (epoch + wildcard surface plus the
    * FDSN `level` rollup: network | station | channel).
    */
  final case class StationParams(
      network: Option[String] = None,
      station: Option[String] = None,
      channel: Option[String] = None,
      startBefore: Option[String] = None,
      startAfter: Option[String] = None,
      endBefore: Option[String] = None,
      endAfter: Option[String] = None,
      // epoch must overlap [starttime, endtime]
      starttime: Option[String] = None,
      endtime: Option[String] = None,
      // geographic constraints (same FDSN surface as the event service)
      minLatitude: Option[Double] = None,
      maxLatitude: Option[Double] = None,
      minLongitude: Option[Double] = None,
      maxLongitude: Option[Double] = None,
      latitude: Option[Double] = None,
      longitude: Option[Double] = None,
      minRadius: Option[Double] = None, // degrees
      maxRadius: Option[Double] = None, // degrees
      updatedAfter: Option[String] = None, // ISO timestamp
      level: String = "channel") extends GeoParams

  /** Compile station params over a channel-epoch DataFrame with columns
    * `network, station, channel, epoch_start, epoch_end`.
    *
    * `level` follows the FDSN station service: `channel` returns matching
    * epoch rows as-is; `station` rolls up to one row per (network,
    * station) and `network` to one row per network, each with the covering
    * epoch extent and member counts. The rollups are plain map-side-
    * combined groupBys on the rollup key — the filters still push to the
    * scan below them.
    */
  def channels(index: DataFrame, p: StationParams): DataFrame = {
    def ts(s: String): Column = lit(s).cast("timestamp")
    val filtered = filterBy(index, p,
      lead = Seq(
        p.network.map(matchesFdsn(col("network"), _)),
        p.station.map(matchesFdsn(col("station"), _)),
        p.channel.map(matchesFdsn(col("channel"), _)),
        p.startBefore.map(col("epoch_start") < ts(_)),
        p.startAfter.map(col("epoch_start") > ts(_)),
        p.endBefore.map(col("epoch_end") < ts(_)),
        p.endAfter.map(col("epoch_end") > ts(_)),
        p.starttime.map(col("epoch_end") >= ts(_)),
        p.endtime.map(col("epoch_start") <= ts(_))),
      attrs = Nil)
    // station coords are constant per station (one instrument site), so
    // MIN is the identity pick — deterministic, unlike first()
    val geoAggs =
      if (filtered.columns.contains("latitude"))
        Seq(min(col("latitude")).as("latitude"),
          min(col("longitude")).as("longitude"))
      else Seq.empty
    p.level match {
      case "channel" => filtered
      case "station" =>
        filtered.groupBy("network", "station")
          .agg(count(lit(1)).as("n_channels"),
            (Seq(min(col("epoch_start")).as("epoch_start"),
              max(col("epoch_end")).as("epoch_end")) ++ geoAggs): _*)
      case "network" =>
        filtered.groupBy("network")
          .agg(countDistinct(col("station")).as("n_stations"),
            count(lit(1)).as("n_channels"),
            min(col("epoch_start")).as("epoch_start"),
            max(col("epoch_end")).as("epoch_end"))
      case other => throw new IllegalArgumentException(s"level: $other")
    }
  }
}
