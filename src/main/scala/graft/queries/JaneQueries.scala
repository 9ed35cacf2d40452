package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.ExactNum.cents
import graft.operators.{DocumentStore, FdsnQuery, Indexers}
import graft.operators.FdsnQuery.{EventParams, StationParams}
import graft.operators.Indexers.{ArrivalIndex, ChannelIndex, EventIndex, MagnitudeIndex, OriginIndex}

/** Jane-domain operators (SURVEY.md §2.A–C): document versioning,
  * pagination, FDSN event/station query semantics, geographic search.
  *
  * Oracle parity: geo formulas and derived attributes are shared SQL text
  * (see [[Indexers]]); epoch outputs are floor-to-second BIGINTs.
  */
object JaneQueries {

  type Q = (SparkSession, String) => DataFrame

  // --- shared formula text (Spark expr + DuckDB splice) -------------------

  private val CLat = 10.5
  private val CLon = 45.5
  /** Haversine km from the fixed query point, over index cols lat/lon —
    * ONE source of truth with the two-point join form (same generator, so
    * the formula can never desynchronize between j02/j13 and j31).
    */
  private val havSql: String = graft.functions.GeoFunctions
    .haversineKmSql(s"$CLat", s"$CLon", "latitude", "longitude")

  /** Convex polygon (lat, lon) vertices, counter-clockwise in (lon, lat). */
  private val polyVerts: Seq[(Double, Double)] =
    Seq((40.0, 10.0), (19.0, -19.0), (-14.0, -8.0), (-14.0, 28.0), (19.0, 39.0))

  /** Half-plane containment predicate — generated once, used verbatim by
    * both engines (products of identical doubles, bit-exact).
    */
  private val polySql: String = polyVerts.indices.map { i =>
    val (y1, x1) = polyVerts(i)
    val (y2, x2) = polyVerts((i + 1) % polyVerts.length)
    s"((${x2 - x1}) * (latitude - ($y1)) - (${y2 - y1}) * (longitude - ($x1))) >= 0"
  }.mkString(" AND ")

  /** Non-convex star: alternating outer/inner vertices around (10, 10). */
  private val starVerts: Seq[(Double, Double)] = Seq(
    (50.0, 10.0), (20.0, 25.0), (25.0, 58.0), (10.0, 35.0), (-15.0, 45.0),
    (0.0, 10.0), (-15.0, -25.0), (10.0, -15.0), (25.0, -38.0), (20.0, -5.0))

  private val starPolySql: String =
    graft.functions.GeoFunctions.rayCastSql("latitude", "longitude")(starVerts)

  private def ev(s: SparkSession, d: String): DataFrame =
    EventIndex.attach(Tables.events(s, d))

  /** j45's CSV feed, rendered from the events table: every
    * `event_id % 13 = 0` row gets a deliberately unparseable value field
    * (the typed read quarantines it). Doubles are rendered with Spark's
    * shortest-round-trip cast, so the good rows' values survive the text
    * round trip bit-exact. Shared with the streaming twin's spec
    * ([[graft.streaming.EventStreams.ingestQuarantineStream]]) so the
    * corruption rule can never desynchronize between the two.
    */
  private[graft] def ingestFeed(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id").cast("string").as("event_id"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
      col("user_id").cast("string").as("user_id"),
      col("event_type"),
      when(col("event_id") % 13 === 0, lit("CORRUPT"))
        .otherwise(col("value").cast("string")).as("value"),
      lit(null).cast("string").as("props"))

  /** j46's JSON-lines feed, rendered from the events table: every
    * `event_id % 17 = 0` row is STRUCTURALLY corrupted (the closing
    * brace is cut, so the line is not valid JSON — the CSV twin j45
    * corrupts a field VALUE instead; the two exercise the reader's two
    * distinct reject paths). Doubles are rendered by `to_json`
    * (Java's round-trippable Double.toString), so good rows' values
    * survive the text round trip bit-exact, same as j45's CSV proof.
    */
  private[graft] def ingestJsonFeed(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      // ignoreNullFields OFF (r14, the r13 ADVICE): to_json's default
      // silently OMITS null fields — if the events generator ever
      // emitted a null in one of the five rendered fields, the key
      // would vanish, the line would still parse as 'good', and the
      // checksum desync would surface only at the hash check. Rendering
      // explicit nulls keeps structural truncation the ONLY reject
      // source and makes a null input fail the spec's
      // every-field-parses assert at the feed instead.
      .withColumn("line", to_json(struct(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("user_id"),
        col("event_type"),
        col("value")), Map("ignoreNullFields" -> "false")))
      .select(
        when(col("event_id") % 17 === 0,
          expr("substring(line, 1, length(line) - 1)"))
          .otherwise(col("line")).as("line"))

  /** j46's feed directory — ONE symbol shared with NewQueriesR13Spec so
    * a store rename cannot silently decouple the spec's raw-line asserts
    * from the shipped feed (r13 verdict item 4). */
  private[graft] def jsonFeedPath(d: String): String =
    s"/tmp/graft_stores/ingest_feed_json_${new java.io.File(d).getName}"

  /** j49's XML feed, rendered from the events table: one `<event>`
    * element per row, each part file a well-formed `<feed>` document
    * (written by `ParquetStore.installOverwriteXml` — the per-file root
    * is load-bearing; see its Scaladoc for the measured no-root
    * collapse). Every `event_id % 19 = 0` element carries an
    * unparseable `<value>` (type-mismatch against the read schema's
    * DOUBLE) — the j45 CSV reject class, and on this reader the ONLY
    * honest one for multi-document files: a STRUCTURAL malformation
    * (the j46 cut-a-closing-tag class) was measured to fail the StAX
    * parse at DOCUMENT level, swallowing every later element in the
    * file into one corrupt record — one bad upload must never eat its
    * neighbors, and the value-class reject quarantines exactly the bad
    * element (ProbeXml r19; NewQueriesR19Spec pins neighbor
    * integrity). Doubles are rendered with Spark's shortest-round-trip
    * cast, so good rows' values survive the text round trip bit-exact,
    * same as the j45/j46 proofs.
    */
  private[graft] def ingestXmlFeed(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
      col("user_id"),
      col("event_type"),
      when(col("event_id") % 19 === 0, lit("CORRUPT"))
        .otherwise(col("value").cast("string")).as("value"))

  /** j49's feed directory (single-symbol rule, as [[jsonFeedPath]]). */
  private[graft] def xmlFeedPath(d: String): String =
    s"/tmp/graft_stores/ingest_feed_xml_${new java.io.File(d).getName}"

  /** j50's nested QuakeML-shaped document store: one `<event>` row per
    * significant event with preferred-origin/-magnitude pointer elements
    * and repeated nested `<origin>`/`<magnitude>` children — j32's
    * rendered document shape, STRUCTURED instead of concat'd, so the
    * native XML writer emits real nested elements the reader can parse
    * back through `Ingest.quakemlDocSchema`. Arrays are array_sort'ed
    * (origin_id / mag_id lead their structs) before the write, so array
    * position is a deterministic document coordinate both engines can
    * derive. Same two-aggregate join shape as j24/j32: each side
    * shuffles once on event_id.
    */
  private[graft] def quakemlDocs(s: SparkSession, d: String): DataFrame = {
    val evf = ev(s, d).filter(col("magnitude") >= 6.0)
    val os = FdsnQuery.eventOrigins(OriginIndex.attach(evf), includeAll = true)
      .groupBy("event_id")
      .agg(max(when(col("is_preferred") === 1, col("origin_id")))
        .as("pref_oid"),
        expr("array_sort(collect_list(struct(origin_id, otime_s, lat_e2, " +
          "lon_e2, depth_m, n_phases, azimuthal_gap)))").as("origin"))
    val ms = FdsnQuery.eventMagnitudes(MagnitudeIndex.attach(evf), includeAll = true)
      .groupBy("event_id")
      .agg(max(when(col("is_preferred") === 1, col("mag_id")))
        .as("pref_mid"),
        expr("array_sort(collect_list(struct(mag_id, mag_c, mtype)))")
          .as("magnitude"))
    os.join(ms, "event_id")
      .select("event_id", "pref_oid", "pref_mid", "origin", "magnitude")
  }

  /** j50's document-store directory (single-symbol rule). */
  private[graft] def quakemlStorePath(d: String): String =
    s"/tmp/graft_stores/quakeml_docs_${new java.io.File(d).getName}"

  /** j47's day-partitioned snapshot store directory (shared with
    * NewQueriesR13Spec for the same single-symbol reason). */
  private[graft] def ttravelStorePath(d: String): String =
    s"/tmp/graft_stores/ttravel_days_${new java.io.File(d).getName}"

  /** Aki–Utsu b-value ×1e4 from integer centimag counts — ONE generator
    * for both dialects and both estimators (j39 full-catalog, j42
    * weekly), so the Δ/2-corrected formula can never desynchronize.
    * 434294.4819032518 = 1e4 · 100·log₁₀(e) (centimag units).
    */
  private def bE4Sql(n: String, sumC: String, mcBin: String): String =
    s"CAST(round(434294.4819032518 * $n / " +
      s"($sumC - $n * ($mcBin * 10 - 5))) AS BIGINT)"

  /** j31/j38's shared candidate machinery: (event ≥ 5.5) × station pairs
    * within 3000 km as a covering-cell EQUI-join + exact haversine
    * post-filter — see j31's candidate-cell superset proof. Distance is
    * integer 10-m units (cents doctrine): a DOUBLE output column over
    * this many distinct operand pairs would carry j02's last-ulp
    * rounding exposure × the output size.
    */
  private def stationCoveragePairs(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).filter(col("magnitude") >= 5.5)
      .select(col("event_id"), col("latitude").as("elat"),
        col("longitude").as("elon"))
    val sinHalf = math.sin(3000.0 / (2 * graft.functions.GeoFunctions.EarthRadiusKm))
    val cand = e
      .withColumn("cl", explode(expr(
        "sequence(greatest(-9, CAST(floor((elat - 27.5) / 10) AS INT)), " +
          "least(8, CAST(floor((elat + 27.5) / 10) AS INT)))")))
      .withColumn("denom", expr(
        "cos(radians(elat)) * cos(radians(least(greatest(abs(cl * 10.0), " +
          "abs(cl * 10.0 + 10.0)), 90.0)))"))
      .withColumn("wl", expr(
        s"CASE WHEN denom <= 1e-12 THEN 180.0 ELSE " +
          s"least(180.0, degrees(2 * asin(least(1.0, $sinHalf / sqrt(denom))))) END"))
      .withColumn("cg", explode(expr(
        "array_distinct(transform(" +
          "sequence(CAST(floor((elon - wl) / 10) AS INT), " +
          "CAST(floor((elon + wl) / 10) AS INT)), " +
          "x -> ((x + 18) % 36 + 36) % 36 - 18))")))
      .select(col("event_id"), col("elat"), col("elon"), col("cl"), col("cg"))
    val st = ChannelIndex.build(Tables.events(s, d))
      .select(col("network"), col("station"), col("latitude").as("slat"),
        col("longitude").as("slon"))
      .distinct()
      // normalize the station cell EXACTLY like the candidate cells
      // (r6 ADVICE): lat 90 clamps into cell 8, lon 180 wraps into
      // [-18,17] — otherwise a boundary station never matches any
      // candidate cell and is silently dropped vs the all-pairs oracle
      .withColumn("scl", expr("least(8, CAST(floor(slat / 10) AS INT))"))
      .withColumn("scg", expr(
        "((CAST(floor(slon / 10) AS INT) + 18) % 36 + 36) % 36 - 18"))
    val distSql = graft.functions.GeoFunctions
      .haversineKmSql("elat", "elon", "slat", "slon")
    cand.join(st, col("cl") === col("scl") && col("cg") === col("scg"))
      .filter(abs(col("slat") - col("elat")) <= 27.5 && expr(distSql) <= 3000.0)
      .select(col("event_id"), col("network"), col("station"),
        expr(s"CAST(round($distSql * 100) AS BIGINT)").as("dist_e2"))
  }

  val queries: Map[String, Q] = Map(
    "j01_geo_bbox" -> { (s, d) =>
      ev(s, d)
        .filter(graft.functions.GeoFunctions.inBoundingBox(
          col("latitude"), col("longitude"), -30, 30, 0, 90))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(cents(col("magnitude"))).as("mag_c"))
        .orderBy("event_type")
    },

    "j02_geo_radius" -> { (s, d) =>
      ev(s, d)
        .withColumn("dist_km", expr(havSql))
        .filter(col("dist_km") <= 3000.0)
        .select(col("event_id"), round(col("dist_km"), 2).as("dist_km2"),
          col("latitude"), col("longitude"))
        .orderBy("event_id")
    },

    "j03_point_in_polygon" -> { (s, d) =>
      ev(s, d)
        .filter(expr(polySql))
        .select(col("event_id"), col("event_type"), col("latitude"), col("longitude"))
        .orderBy("event_id")
    },

    "j04_wildcard_match" -> { (s, d) =>
      Tables.documents(s, d)
        .filter(FdsnQuery.matchesFdsn(col("source"), "src1*"))
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy("doc_id")
    },

    "j05_interval_overlap" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(min(col("ts")).as("epoch_start"), max(col("ts")).as("epoch_end"))
        .filter(col("epoch_start") <= lit("2024-02-05").cast("timestamp") &&
          col("epoch_end") >= lit("2024-01-30 12:00:00").cast("timestamp"))
        .select(col("user_id"),
          unix_timestamp(col("epoch_start")).as("start_s"),
          unix_timestamp(col("epoch_end")).as("end_s"))
        .orderBy("user_id")
    },

    "j06_fdsn_event_query" -> { (s, d) =>
      FdsnQuery.events(ev(s, d), EventParams(
        starttime = Some("2024-01-05"), endtime = Some("2024-01-25"),
        minLatitude = Some(-60), maxLatitude = Some(60),
        minLongitude = Some(-90), maxLongitude = Some(90),
        minMagnitude = Some(4.0),
        orderBy = "magnitude", limit = Some(100)))
        .select(col("event_id"), cents(col("magnitude")).as("mag_c"),
          unix_timestamp(col("time")).as("time_s"),
          col("latitude"), col("longitude"))
    },

    "j07_fdsn_station_epochs" -> { (s, d) =>
      FdsnQuery.channels(ChannelIndex.build(Tables.events(s, d)), StationParams(
        station = Some("ST1*"), channel = Some("*e*"),
        startBefore = Some("2024-01-03"), endAfter = Some("2024-01-28"),
        level = "station"))
        .select(col("network"), col("station"), col("n_channels"),
          unix_timestamp(col("epoch_start")).as("start_s"),
          unix_timestamp(col("epoch_end")).as("end_s"))
        .orderBy("network", "station")
    },

    "j17_fdsn_event_full" -> { (s, d) =>
      // The complete fdsnws-event parameter surface in one query: time
      // window, point-radius in FDSN-spec degrees, depth + magnitude
      // ranges, magnitudetype, catalog agency/contributor, updatedafter,
      // orderby magnitude with stable paging.
      FdsnQuery.events(ev(s, d), EventParams(
        starttime = Some("2024-01-02"), endtime = Some("2024-03-31"),
        latitude = Some(10.5), longitude = Some(45.5), maxRadius = Some(90.0),
        minDepth = Some(10), maxDepth = Some(690),
        minMagnitude = Some(0.5), maxMagnitude = Some(9.9),
        magnitudeType = Some("ml"), agency = Some("AG2"),
        contributor = Some("C2"), updatedAfter = Some("2024-01-05"),
        orderBy = "magnitude", limit = Some(50)))
        .select(col("event_id"), cents(col("magnitude")).as("mag_c"),
          col("magnitude_type"), col("agency"), col("contributor"),
          unix_timestamp(col("time")).as("time_s"), col("updated_s"),
          col("latitude"), col("longitude"))
    },

    "j18_fdsn_level_rollup" -> { (s, d) =>
      // fdsnws-station level=network: one row per network with covering
      // epoch extent and member counts (j07 exercises level=station).
      FdsnQuery.channels(ChannelIndex.build(Tables.events(s, d)), StationParams(
        channel = Some("*a*"), endAfter = Some("2024-01-15"),
        level = "network"))
        .select(col("network"), col("n_stations"), col("n_channels"),
          unix_timestamp(col("epoch_start")).as("start_s"),
          unix_timestamp(col("epoch_end")).as("end_s"))
        .orderBy("network")
    },

    "j21_fdsn_channel_list" -> { (s, d) =>
      // fdsnws-station level=channel passthrough (j07 covers
      // level=station, j18 level=network): matching epoch rows as-is,
      // exercising the starttime/endtime epoch-overlap params plus
      // updatedafter (re-index freshness — the federation incremental-
      // harvest param).
      FdsnQuery.channels(ChannelIndex.build(Tables.events(s, d)), StationParams(
        network = Some("N?"), channel = Some("*u*"),
        starttime = Some("2024-01-10"), endtime = Some("2024-02-20"),
        updatedAfter = Some("2024-01-25"),
        level = "channel"))
        .select(col("network"), col("station"), col("channel"),
          unix_timestamp(col("epoch_start")).as("start_s"),
          unix_timestamp(col("epoch_end")).as("end_s"),
          col("n_samples"))
        .orderBy("network", "station", "channel")
    },

    "j35_station_geojson" -> { (s, d) =>
      // fdsnws-station format=geojson (the map-client format, j12's event
      // rendering applied to the station index): one GeoJSON Feature per
      // station at level=station, channel count as the property. Station
      // site coords are x.5 by construction, so double->string rendering
      // is engine-portable (the j12 precondition).
      FdsnQuery.channels(ChannelIndex.build(Tables.events(s, d)),
        StationParams(level = "station"))
        .select(col("network"), col("station"), concat(
          lit("""{"type":"Feature","geometry":{"type":"Point","coordinates":["""),
          col("longitude").cast("string"), lit(","),
          col("latitude").cast("string"),
          lit("""]},"properties":{"n_channels":"""),
          col("n_channels").cast("string"), lit("}}")).as("feature"))
        .orderBy("network", "station")
    },

    "j23_station_geo" -> { (s, d) =>
      // fdsnws-station geographic constraints: the event service's bbox +
      // point-radius (FDSN great-circle DEGREES) surface on the station
      // index, combined with a channel wildcard and the level=station
      // rollup — the federation/map-client query shape. The box predicate
      // is sargable (pushes to the scan under the rollup); the radius term
      // evaluates only on box survivors.
      FdsnQuery.channels(ChannelIndex.build(Tables.events(s, d)), StationParams(
        channel = Some("*e*"),
        minLatitude = Some(-60), maxLatitude = Some(60),
        minLongitude = Some(-90), maxLongitude = Some(170),
        latitude = Some(10.5), longitude = Some(45.5), maxRadius = Some(80.0),
        level = "station"))
        .select(col("network"), col("station"), col("n_channels"),
          col("latitude"), col("longitude"),
          unix_timestamp(col("epoch_start")).as("start_s"),
          unix_timestamp(col("epoch_end")).as("end_s"))
        .orderBy("network", "station")
    },

    "j27_station_text" -> { (s, d) =>
      // fdsnws-station format=text at level=channel: one pipe-delimited
      // line per channel epoch (Network|Station|Location|Channel|Lat|Lon|
      // ...|StartTime|EndTime analog). Same integer-rendered-fields-only
      // convention as j10 (double->string is not engine-portable; x.5
      // coords ×10 are exact integers).
      FdsnQuery.channels(ChannelIndex.build(Tables.events(s, d)), StationParams(
        network = Some("N?"), channel = Some("*a*"),
        endAfter = Some("2024-01-20"), level = "channel"))
        .select(col("network"), col("station"), col("channel"), concat_ws("|",
          col("network"), col("station"), col("channel"),
          (col("latitude") * 10).cast("long").cast("string"),
          (col("longitude") * 10).cast("long").cast("string"),
          unix_timestamp(col("epoch_start")).cast("string"),
          unix_timestamp(col("epoch_end")).cast("string"),
          col("n_samples").cast("string")).as("line"))
        .orderBy("network", "station", "channel")
    },

    "j19_nullness" -> { (s, d) =>
      // REST __isnull filter over an optional attribute (Jane: index
      // attributes may be absent per document; derived here: every third
      // doc is missing its language tag).
      Tables.documents(s, d)
        .withColumn("opt_lang",
          expr("case when doc_id % 3 = 0 then NULL else lang end"))
        .filter(col("opt_lang").isNull)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },

    "j08_latest_version" -> { (s, d) =>
      val versioned = Tables.documents(s, d)
        .withColumn("group_id", expr("doc_id div 5"))
        .withColumn("version", expr("doc_id % 5"))
      DocumentStore.latestVersions(versioned, Seq("group_id"), "version")
        .select(col("group_id"), col("doc_id"), col("version"), col("source"),
          col("n_chars"))
        .orderBy("group_id")
    },

    "j36_version_history" -> { (s, d) =>
      // "All versions of this document" — the supersede chain behind
      // j08's latest-wins view (Jane serves both): every version with
      // is_latest and the superseding doc id, over the same derived
      // version groups as j08. One group-keyed window shuffle.
      val versioned = Tables.documents(s, d)
        .withColumn("group_id", expr("doc_id div 5"))
        .withColumn("version", expr("doc_id % 5"))
      DocumentStore.versionHistory(versioned, Seq("group_id"), "version", "doc_id")
        .select(col("group_id"), col("doc_id"), col("version"),
          col("is_latest"), col("superseded_by"), col("n_chars"))
        .orderBy("group_id", "version")
    },

    "j37_time_travel" -> { (s, d) =>
      // Point-in-time snapshot + changelog diff — "what did the index
      // look like at T, and what changed between T1 and T2" (Jane's
      // versioned store read at a past instant; the question every
      // incremental downstream consumer asks). Version slots are derived
      // sparse (8 slots per group, ~1/3 survive by hash — re-uploads are
      // irregular), version order IS ingest order, so snapshot-at-T =
      // latest-wins over `version <= T`. Scale shape: the T cutoff is a
      // SCAN predicate (partition pruning in a day-partitioned store —
      // time travel reads history <= T, never the full store), and BOTH
      // snapshots plus the diff ride ONE map-side-combinable max_by
      // aggregate (FILTER clauses) — one shuffle, no windows, no
      // self-join of two snapshot subplans.
      Tables.documents(s, d)
        .filter(expr("((doc_id * 2654435761) % 1000000007) % 3 = 0"))
        .select(col("doc_id"), expr("doc_id div 8").as("group_id"),
          expr("doc_id % 8").as("version"))
        .groupBy("group_id")
        .agg(
          expr("max_by(doc_id, version) FILTER (WHERE version <= 3)")
            .as("doc_t1"),
          expr("max(version) FILTER (WHERE version <= 3)").as("v_t1"),
          expr("max_by(doc_id, version)").as("doc_t2"),
          expr("max(version)").as("v_t2"))
        .withColumn("change", expr(
          "CASE WHEN v_t1 IS NULL THEN 'created' " +
            "WHEN v_t1 = v_t2 THEN 'same' ELSE 'updated' END"))
        .select(col("group_id"), col("doc_t1"), col("v_t1"), col("doc_t2"),
          col("v_t2"), col("change"))
        .orderBy("group_id")
    },

    "j47_time_travel_served" -> { (s, d) =>
      // j37's SERVING twin (r13 depth item): the time-travel scan
      // predicate made PHYSICAL. j37's scale note claims "the T cutoff
      // is a scan predicate — partition pruning in a day-partitioned
      // store"; this query RUNS that lifecycle: the version history is
      // persisted once behind `buildIfStale`, PARTITIONED BY ingest day
      // (version order IS ingest order in the j37 model, so day = the
      // version slot), and the snapshot-at-T1=3 is served from the
      // store with `ingest_day <= 3` as a PARTITION filter —
      // NewQueriesR13Spec asserts the scan's PartitionFilters carry the
      // cutoff, exactly 4 of the 8 day directories are listed into the
      // plan, and the serve never rescans the documents corpus. At
      // 100 TB this is the difference between reading |T| days of
      // history and filtering all of it. Same derivation + snapshot
      // semantics as j37's T1 half, so the DuckDB oracle replays it
      // logically over parquet (latest-wins over version <= 3).
      val path = ttravelStorePath(d)
      val want = "ttravel-days-v1|" +
        graft.sources.ParquetStore.sourceStamp(s"$d/documents.parquet")
      graft.sources.ParquetStore.buildIfStale(
        s"$path.marker", want, Seq(path)) {
        graft.sources.ParquetStore.installOverwritePartitioned(
          Tables.documents(s, d)
            .filter(expr("((doc_id * 2654435761) % 1000000007) % 3 = 0"))
            .select(col("doc_id"), expr("doc_id div 8").as("group_id"),
              expr("doc_id % 8").as("version"),
              expr("doc_id % 8").as("ingest_day")),
          path, "ingest_day")
      }
      // serve: the cutoff prunes day directories before any row is read
      graft.sources.ParquetStore.read(s, path)
        .filter(col("ingest_day") <= 3)
        .groupBy("group_id")
        .agg(expr("max_by(doc_id, version)").as("doc_t1"),
          max(col("version")).as("v_t1"))
        .orderBy("group_id")
    },

    "j09_pagination" -> { (s, d) =>
      DocumentStore.page(Tables.documents(s, d),
        Seq(col("n_chars").desc, col("doc_id").asc), offset = 20, limit = 10)
        .select(col("doc_id"), col("source"), col("n_chars"))
    },

    "j22_keyset_page" -> { (s, d) =>
      // Cursor (keyset) pagination: the page after cursor (n_chars=300,
      // doc_id=250) under the j09 ordering. Unlike j09's offset form —
      // which scans and discards O(offset) rows per request — the seek
      // predicate pushes to the parquet scan, so page 10,000 costs the
      // same as page 1. This is the REST cursor-paging analog.
      DocumentStore.pageAfter(Tables.documents(s, d),
        sortCol = "n_chars", idCol = "doc_id",
        cursorSort = 300L, cursorId = 250L, limit = 10)
        .select(col("doc_id"), col("source"), col("n_chars"))
    },

    "j10_fdsn_text_format" -> { (s, d) =>
      // fdsnws-event format=text: one pipe-delimited line per event.
      // Integer-rendered fields only — double->string formatting is not
      // engine-portable, integer casts are.
      ev(s, d)
        .filter(col("magnitude") >= 8.0)
        .select(col("event_id"), concat_ws("|",
          col("event_id").cast("string"),
          unix_timestamp(col("time")).cast("string"),
          (col("latitude") * 10).cast("long").cast("string"),
          (col("longitude") * 10).cast("long").cast("string"),
          cents(col("magnitude")).cast("string")).as("line"))
        .orderBy("event_id")
    },

    "j12_geojson" -> { (s, d) =>
      // REST GeoJSON output format. Coordinates are always x.5 by
      // construction, so double->string rendering is engine-portable
      // (arbitrary doubles would not be).
      ev(s, d)
        .filter(col("magnitude") >= 9.0)
        .select(col("event_id"), concat(
          lit("""{"type":"Feature","geometry":{"type":"Point","coordinates":["""),
          col("longitude").cast("string"), lit(","),
          col("latitude").cast("string"),
          lit("""]},"properties":{"mag_c":"""),
          cents(col("magnitude")).cast("string"), lit("}}")).as("feature"))
        .orderBy("event_id")
    },

    "j14_polygon_raycast" -> { (s, d) =>
      // Non-convex (star) polygon via ray casting — PostGIS-parity for
      // arbitrary simple polygons, unlike j03's convex half-plane test.
      ev(s, d)
        .filter(expr(starPolySql))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    "j13_nearest_events" -> { (s, d) =>
      // "nearby documents": 20 closest events to the query point, ordered
      // by great-circle distance (identical formula text both engines →
      // identical doubles → identical order; event_id breaks exact ties).
      ev(s, d)
        .withColumn("dist_km", expr(havSql))
        .select(col("event_id"), round(col("dist_km"), 2).as("dist_km2"),
          col("latitude"), col("longitude"))
        .orderBy(col("dist_km2").asc, col("event_id").asc)
        .limit(20)
    },

    "j16_attr_operators" -> { (s, d) =>
      // Jane REST comparison operators: __in (membership), != (negation),
      // __icontains (case-insensitive substring).
      Tables.documents(s, d)
        .filter(col("lang").isin("en", "de") &&
          col("source") =!= "src0" &&
          lower(col("text")).contains("merge"))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    },

    "j15_upsert" -> { (s, d) =>
      // Re-upload simulation: every doc_id % 7 == 0 document arrives again
      // with a revised payload; the store keeps the revision and all
      // untouched documents.
      val docs = Tables.documents(s, d)
      val revised = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("n_chars", col("n_chars") + 1000)
        .withColumn("source", lit("reupload"))
      DocumentStore.upsert(docs, revised, "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },

    "j44_store_maintenance" -> { (s, d) =>
      // The store MAINTENANCE lifecycle as one audited query (SURVEY §7
      // r12 depth item: the spec-only maintenance operators — upsert,
      // vacuum, install/compact — exercised end to end UNDER THE
      // ORACLE): a versioned document store (j08's derived version
      // groups) takes an in-place re-upload batch (upsert keyed by
      // doc_id: version-2 payloads revised), is vacuumed to the newest
      // 2 versions per group with tombstoned groups reaped (every 7th
      // group's final upload is a delete marker), and the survivor set
      // is installed DELIBERATELY FRAGMENTED (16 files) then compacted
      // to size-targeted files (ParquetStore.compact — pure layout,
      // installed by ParquetStore.publish). The card reports each
      // stage's row/group counts and an integer content checksum; the
      // '03_compacted' row is computed FROM THE POST-SWAP STORE READ, so compact's
      // content-identity and the atomic install are what the oracle
      // hash actually checks (the oracle replays the logical pipeline
      // and expects vacuum's numbers for both final stages). Scale
      // shape: vacuum rides ONE group-keyed window shuffle; upsert is
      // the key-shuffled anti-join + union; compact is a ceil(bytes /
      // target)-file rewrite — no driver-side content materializes.
      // each stage feeds 2+ consumers (the next stage + its card row,
      // vacuumed also the install write) — a scan-rooted subtree
      // re-executes per consumer, so checkpoint each NARROW stage once
      // (r13 ADVICE; the CLAUDE.md multi-consumer recompute rule)
      val versioned = Tables.documents(s, d)
        .withColumn("group_id", expr("doc_id div 5"))
        .withColumn("version", expr("doc_id % 5"))
        .select("doc_id", "group_id", "version", "n_chars")
        .localCheckpoint()
      val revised = versioned.filter(col("version") === 2)
        .withColumn("n_chars", col("n_chars") + 1000)
      val upserted =
        DocumentStore.upsert(versioned, revised, "doc_id").localCheckpoint()
      val vacuumed = DocumentStore.vacuum(
        upserted.withColumn("is_tomb",
          col("version") === 4 && col("group_id") % 7 === 0),
        Seq("group_id"), "version", keep = 2, tombstoneCol = Some("is_tomb"))
        .drop("is_tomb")
        .localCheckpoint()
      val path = s"/tmp/graft_stores/maint_${new java.io.File(d).getName}"
      graft.sources.ParquetStore.installOverwrite(vacuumed.repartition(16), path)
      graft.sources.ParquetStore.compact(s, path)
      val compacted = graft.sources.ParquetStore.read(s, path)
      def card(stage: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_rows"),
            countDistinct(col("group_id")).as("n_groups"),
            sum(expr("(CAST(doc_id AS BIGINT) * 31 + version * 7 + n_chars)" +
              " % 1000003")).as("checksum"))
          .select(lit(stage).as("stage"), col("n_rows"), col("n_groups"),
            col("checksum"))
      card("00_raw", versioned)
        .unionByName(card("01_upserted", upserted))
        .unionByName(card("02_vacuumed", vacuumed))
        .unionByName(card("03_compacted", compacted))
        .orderBy("stage")
    },

    "j45_ingest_quarantine" -> { (s, d) =>
      // INGEST with reject-but-continue quarantine UNDER THE ORACLE (r12
      // depth item; jane's upload endpoint rejects malformed documents and
      // keeps serving — graft.sources.Ingest mirrors that with PERMISSIVE
      // + _corrupt_record, previously spec-only in IngestSpec). Lifecycle:
      // a CSV feed is RENDERED from the events table (rows with
      // event_id % 13 = 0 get a deliberately unparseable value field),
      // written once behind buildIfStale (content stamp on the source),
      // then ingested through the shipped Ingest.readCsvEvents — good
      // rows aggregate per type over the PARSED typed columns (the
      // double survives the text round trip bit-exact: Spark's
      // cast-to-string is shortest-round-trip and the CSV parser is its
      // inverse), quarantined rows are TRIAGED from the raw rejected
      // line (recover the id from the line text — what a reprocessing
      // job does). The oracle never sees the CSV: it replays the
      // corruption rule directly over the parquet table, so the hash
      // check proves parse + quarantine routing end to end. Scale
      // shape: ingest is an embarrassingly parallel per-file scan; the
      // parsed narrow projection is checkpointed ONCE so the two
      // consumers (good agg, quarantine triage) don't re-ingest the
      // feed (and a corrupt-column-only branch is legal post-
      // materialization — Spark forbids it straight off a CSV scan).
      val feedPath = s"/tmp/graft_stores/ingest_feed_${new java.io.File(d).getName}"
      val feed = ingestFeed(s, d)
      val want = "ingest-feed-v1|" +
        graft.sources.ParquetStore.sourceStamp(s"$d/events.parquet")
      graft.sources.ParquetStore.buildIfStale(
        s"$feedPath.marker", want, Seq(feedPath)) {
        graft.sources.ParquetStore.installOverwriteCsv(feed, feedPath)
      }
      val raw = graft.sources.Ingest.readCsvEvents(s, feedPath)
        .select(col("event_type"), col("value"), col("_corrupt_record"))
        .localCheckpoint()
      val good = raw.filter(col("_corrupt_record").isNull)
        .groupBy(col("event_type").as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(cents(col("value"))).as("checksum"))
      // id recovery anchored to ^\d+ (r13 ADVICE): the feed renderer
      // writes event_id as the first UNQUOTED field, and the anchor
      // keeps the recovery honest if a future feed variant quotes or
      // reorders fields — a non-match yields null and the count row
      // would desynchronize from the oracle loudly instead of silently
      val quarantined = raw.filter(col("_corrupt_record").isNotNull)
        .agg(count(lit(1)).as("n_rows"),
          sum(regexp_extract(col("_corrupt_record"), "^\\d+", 0).cast("long"))
            .as("checksum"))
        .select(lit("__quarantined__").as("bucket"),
          col("n_rows"), col("checksum"))
      good.unionByName(quarantined).orderBy("bucket")
    },

    "j46_ingest_json_quarantine" -> { (s, d) =>
      // j45's lifecycle on the JSON reader arm (r13 depth item — closes
      // the Ingest family: every reader's reject-but-continue path now
      // runs under the oracle). Same shape, different reject CLASS: the
      // CSV twin corrupts a field VALUE (type-mismatch reject); this
      // feed cuts the closing brace off every event_id % 17 = 0 line,
      // so the reader's MALFORMED-document path quarantines it — jane's
      // "unparseable upload" case. Triage recovers the id from the
      // broken line with a regexp over the raw text (a parser can't
      // touch it — exactly what a reprocessing job does with a morgue
      // file). The oracle replays the corruption rule over parquet, so
      // the hash check proves JSON parse + quarantine routing + the
      // double's to_json/parse round trip end to end. Scale shape:
      // identical to j45 — per-file parallel scan, one checkpoint of
      // the narrow projection for the two consumers.
      val feedPath = jsonFeedPath(d)
      // v2 (r14): the renderer changed (ignoreNullFields=false) — the
      // output is byte-identical on null-free inputs, but the marker
      // rule is builder-change => version bump, so a feed written by
      // pre-change code can never validate against post-change specs
      val want = "ingest-feed-json-v2|" +
        graft.sources.ParquetStore.sourceStamp(s"$d/events.parquet")
      graft.sources.ParquetStore.buildIfStale(
        s"$feedPath.marker", want, Seq(feedPath)) {
        graft.sources.ParquetStore.installOverwriteText(
          ingestJsonFeed(s, d), feedPath)
      }
      val raw = graft.sources.Ingest.readJsonEvents(s, feedPath)
        .select(col("event_type"), col("value"), col("_corrupt_record"))
        .localCheckpoint()
      val good = raw.filter(col("_corrupt_record").isNull)
        .groupBy(col("event_type").as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(cents(col("value"))).as("checksum"))
      // the broken line still contains the rendered "event_id":<id>
      // prefix — anchor on the KEY, not a position, since JSON field
      // order is the renderer's choice
      val quarantined = raw.filter(col("_corrupt_record").isNotNull)
        .agg(count(lit(1)).as("n_rows"),
          sum(regexp_extract(col("_corrupt_record"),
            "\"event_id\":(\\d+)", 1).cast("long")).as("checksum"))
        .select(lit("__quarantined__").as("bucket"),
          col("n_rows"), col("checksum"))
      good.unionByName(quarantined).orderBy("bucket")
    },

    "j49_xml_ingest" -> { (s, d) =>
      // j45/j46's reject-but-continue lifecycle on Spark 4.1's NATIVE
      // XML reader (r19 — the registry's one new-surface key this
      // round: jane's real document formats ARE XML (QuakeML /
      // StationXML), and the r1 "no XML parser in this environment"
      // non-goal predates spark-sql shipping the source natively).
      // Lifecycle: events rendered to a one-<event>-element-per-row XML
      // feed (each part file a well-formed <feed> document) behind
      // buildIfStale (content stamp on the source), ingested through
      // the shipped Ingest.readXmlEvents (PERMISSIVE +
      // _corrupt_record), good elements aggregate per type over the
      // PARSED typed columns, quarantined elements are TRIAGED from
      // their partially-parsed row: XML PERMISSIVE keeps every
      // well-typed field of a rejected element (measured — the id
      // parses, the bad value nulls), so recovery reads the typed
      // event_id directly; the raw-text regexp the CSV/JSON twins use
      // is NOT available here because the XML _corrupt_record carries
      // the enclosing FILE document, not the single element (measured,
      // ProbeXml r19 — file-granular raw preservation, element-granular
      // typed triage). The oracle never sees the XML: it replays the
      // corruption rule over parquet, so the hash check proves XML
      // tokenization + parse + quarantine routing + the double's
      // text round trip end to end. Scale shape: identical to j45/j46
      // — per-file parallel scan, one checkpoint of the narrow
      // projection for the two consumers (and a corrupt-column-only
      // branch is legal only post-materialization).
      val feedPath = xmlFeedPath(d)
      // v2 (r19 roll OOM postmortem): the corrupt record is the whole
      // enclosing FILE, so its cost is O(file size) PER REJECT — the
      // first feed landed as ONE ~120 MB file at sf0.1 and ~31k rejects
      // x 120 MB transient strings OOM'd a 24 GB heap. The feed is now
      // written as 32 bounded files (at 100 TB an XML corpus arrives as
      // many documents anyway — a monolithic XML file is both a reject
      // amplifier and a parallelism ceiling), and the ingest projects
      // the corrupt column down to a BOOLEAN before materializing:
      // referencing the column still triggers the parse (quarantine
      // detection is projection-pruned — see ingestXmlFeed's Scaladoc),
      // but no file-sized string ever reaches the checkpoint.
      val want = "ingest-feed-xml-v2|" +
        graft.sources.ParquetStore.sourceStamp(s"$d/events.parquet")
      graft.sources.ParquetStore.buildIfStale(
        s"$feedPath.marker", want, Seq(feedPath)) {
        graft.sources.ParquetStore.installOverwriteXml(
          ingestXmlFeed(s, d).repartition(32), feedPath, "event", "feed")
      }
      val raw = graft.sources.Ingest.readXmlEvents(s, feedPath)
        .select(col("event_id"), col("event_type"), col("value"),
          col("_corrupt_record").isNotNull.as("is_rejected"))
        .localCheckpoint()
      val good = raw.filter(!col("is_rejected"))
        .groupBy(col("event_type").as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(cents(col("value"))).as("checksum"))
      val quarantined = raw.filter(col("is_rejected"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("event_id")).as("checksum"))
        .select(lit("__quarantined__").as("bucket"),
          col("n_rows"), col("checksum"))
      good.unionByName(quarantined).orderBy("bucket")
    },

    "j50_quakeml_roundtrip" -> { (s, d) =>
      // The indexer loop's PARSE half (r20 — the registry's one
      // sanctioned new-surface key): jane's ingest is QuakeML documents
      // IN → index rows OUT (krischer/jane src/jane/quakeml/plugins.py
      // index_documents), and until now the estate only RENDERED that
      // nested shape (j24/j32) — nothing parsed a nested document back.
      // Lifecycle: j32's document shape (preferred pointers + nested
      // origin/magnitude arrays, fixed-point BIGINT scalars) is written
      // STRUCTURED to an XML store behind buildIfStale (content stamp
      // on the source, 8 bounded per-file-rooted documents — the j49
      // OOM lesson), read back through Ingest.readEventXmlDocs'
      // explicit arrays-of-structs schema, and flattened to origin
      // index rows: posexplode gives each origin its DOCUMENT position,
      // the preferred pointer resolves is_preferred, and the
      // magnitude array folds to an order-sensitive fingerprint
      // ((acc*31 + enc) % P over mag_id-sorted elements, enc touching
      // id, value, and the type string's second ascii — the t04 fold
      // convention). The oracle replays the derivation over PARQUET
      // (pos = row_number over origin_id - 1, fp via list_reduce with
      // a prepended seed), so a hash match proves nested render →
      // XML write → StAX parse → flatten reproduces the index
      // EXACTLY — content, pointers, and element ORDER (pos only
      // matches if the reader preserves document order; the writer
      // sorted by origin_id, the oracle ranks by origin_id).
      // Scale shape: the store build pays two event_id-keyed shuffles
      // once per source generation; the serve is a per-file parallel
      // parse + per-row flatMap (posexplode) + one broadcast-free
      // order — no corpus rescan, no self-join; at 100 TB the
      // documents arrive as many files (the parse parallelizes
      // per-file) and the flatten is shuffle-free.
      val docPath = quakemlStorePath(d)
      val want = "quakeml-docs-v1|" +
        graft.sources.ParquetStore.sourceStamp(s"$d/events.parquet")
      graft.sources.ParquetStore.buildIfStale(
        s"$docPath.marker", want, Seq(docPath)) {
        graft.sources.ParquetStore.installOverwriteXml(
          quakemlDocs(s, d).repartition(8), docPath, "event", "quakeml")
      }
      graft.sources.Ingest.readEventXmlDocs(s, docPath)
        .select(col("event_id"), col("pref_oid"), col("pref_mid"),
          expr("size(magnitude)").cast("long").as("n_mags"),
          expr("aggregate(transform(magnitude, x -> x.mag_id * 1009L + " +
            "x.mag_c * 13L + ascii(substring(x.mtype, 2, 1))), 0L, " +
            "(acc, e) -> (acc * 31 + e) % 1000000007L)").as("mag_fp"),
          posexplode(col("origin")).as(Seq("pos", "o")))
        .select(col("event_id"), col("pos").cast("long").as("pos"),
          col("o.origin_id").as("origin_id"), col("o.otime_s").as("otime_s"),
          col("o.lat_e2").as("lat_e2"), col("o.lon_e2").as("lon_e2"),
          col("o.depth_m").as("depth_m"), col("o.n_phases").as("n_phases"),
          col("o.azimuthal_gap").as("azimuthal_gap"),
          when(col("o.origin_id") === col("pref_oid"), 1L).otherwise(0L)
            .as("is_preferred"),
          col("pref_mid"), col("n_mags"), col("mag_fp"))
        .orderBy("event_id", "pos")
    },

    "j48_orc_interchange" -> { (s, d) =>
      // ORC interchange under the oracle (r13; the last Ingest reader
      // arm — CSV has j45, JSON j46): events are EXPORTED once to a
      // columnar ORC store (`installOverwriteOrc` behind buildIfStale,
      // stamp on the source) and read back through the shipped
      // `Ingest.readOrcEvents`; the per-type audit card (counts, cents
      // sums, floor-second time range, distinct users) must hash-equal
      // the oracle computed over the ORIGINAL parquet — proving the
      // long/timestamp/double/string round trip through the second
      // columnar format exact (no corrupt-record path exists for a
      // binary columnar format: a bad ORC file fails the scan, it does
      // not quarantine rows — which is why this is an interchange
      // audit, not a quarantine twin). Scale shape: one map-side-
      // combined groupBy over an embarrassingly parallel columnar scan.
      val path =
        s"/tmp/graft_stores/orc_events_${new java.io.File(d).getName}"
      val want = "orc-events-v1|" +
        graft.sources.ParquetStore.sourceStamp(s"$d/events.parquet")
      graft.sources.ParquetStore.buildIfStale(
        s"$path.marker", want, Seq(path)) {
        graft.sources.ParquetStore.installOverwriteOrc(
          Tables.events(s, d), path)
      }
      graft.sources.Ingest.readOrcEvents(s, path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(cents(col("value"))).as("value_c"),
          min(unix_timestamp(col("ts"))).as("ts_min_s"),
          max(unix_timestamp(col("ts"))).as("ts_max_s"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    },

    "j20_geo_grid" -> { (s, d) =>
      // Spatial grid binning: 10°×10° cells as integer keys (the heatmap /
      // density-map REST output). The cell id is also the 100 TB layout
      // story: write the geo index partitioned/bucketed by cell and every
      // bbox/radius query enumerates its covering cells first — partition
      // pruning does the coarse geometry before any haversine runs. One
      // map-side-combined shuffle keyed by cell.
      ev(s, d)
        .withColumn("cell_lat", expr("CAST(floor(latitude / 10) AS BIGINT)"))
        .withColumn("cell_lon", expr("CAST(floor(longitude / 10) AS BIGINT)"))
        .groupBy("cell_lat", "cell_lon")
        .agg(count(lit(1)).as("n"), sum(cents(col("magnitude"))).as("mag_c"),
          max(col("depth")).cast("long").as("max_depth"))
        .orderBy("cell_lat", "cell_lon")
    },

    "j25_preferred_origin" -> { (s, d) =>
      // fdsnws-event default (includeallorigins=false): one row per event,
      // the quality-preferred origin out of the 1..3 the indexer derived.
      FdsnQuery.eventOrigins(OriginIndex.attach(ev(s, d)), includeAll = false)
        .select(col("event_id"), col("origin_id"), col("otime_s"),
          col("lat_e2"), col("lon_e2"), col("depth_m"), col("n_phases"),
          col("azimuthal_gap"), col("oagency"))
        .orderBy("event_id")
    },

    "j25_all_origins" -> { (s, d) =>
      // includeallorigins=true: every origin, the preferred one flagged —
      // the other toggle state of the same parameterized operator.
      FdsnQuery.eventOrigins(OriginIndex.attach(ev(s, d)), includeAll = true)
        .select(col("event_id"), col("origin_id"), col("n_phases"),
          col("oagency"), col("is_preferred"))
        .orderBy("event_id", "origin_id")
    },

    "j24_event_json" -> { (s, d) =>
      // QuakeML-shaped structured rendering (jane's primary output format,
      // XML there, JSON here): one nested document per event with its
      // origins/magnitudes ARRAYS and the preferred-origin pointer,
      // rendered via to_json(struct(...)). Both engines emit compact
      // key-ordered JSON with BIGINT scalars only, so the byte strings
      // match. Arrays are array_sort'ed (origin_id leads each struct), so
      // element order survives the shuffle deterministically. Shape: two
      // explode + groupBy(event_id) aggregates joined on event_id — at
      // 100 TB both sides shuffle once on the same key and AQE co-plans
      // the join.
      val evf = ev(s, d).filter(col("magnitude") >= 6.0)
      val os = FdsnQuery.eventOrigins(OriginIndex.attach(evf), includeAll = true)
        .groupBy("event_id")
        .agg(max(when(col("is_preferred") === 1, col("origin_id")))
          .as("preferred_origin_id"),
          expr("array_sort(collect_list(struct(origin_id, otime_s, lat_e2, " +
            "lon_e2, depth_m, n_phases, azimuthal_gap)))").as("origins"))
      val ms = MagnitudeIndex.attach(evf)
        .groupBy("event_id")
        .agg(expr("array_sort(collect_list(struct(mag_id, mag_c, mtype)))")
          .as("magnitudes"))
      os.join(ms, "event_id")
        .select(col("event_id"), to_json(struct(col("event_id"),
          col("preferred_origin_id"), col("origins"), col("magnitudes")))
          .as("doc"))
        .orderBy("event_id")
    },

    "j28_origin_arrivals" -> { (s, d) =>
      // fdsnws-event includearrivals: the phase picks under each served
      // origin (service default serves the preferred origin's arrivals),
      // with a phase filter — pick-quality analytics over the deepest
      // QuakeML nesting level. Window (preferred) + explode (arrivals):
      // one event_id-keyed shuffle total.
      ArrivalIndex.attach(
        FdsnQuery.eventOrigins(OriginIndex.attach(ev(s, d)), includeAll = false))
        .filter(col("phase").isin("P", "S"))
        .select(col("event_id"), col("origin_id"), col("arrival_id"),
          col("phase"), col("dist_deg_e2"), col("residual_e3"), col("azimuth"))
        .orderBy("event_id", "arrival_id")
    },

    "j26_attachments" -> { (s, d) =>
      // Fetch-attachments-for-documents with a content-type filter (Jane
      // REST: /documents/<id>/attachments?content-type=...): the English
      // subset's image attachments. Semi-join on the store key.
      val docs = Tables.documents(s, d)
      DocumentStore.Attachments.forDocuments(
        DocumentStore.Attachments.build(docs),
        docs.filter(col("lang") === "en"),
        contentType = Some("image/png"))
        .select(col("doc_id"), col("att_id"), col("n_bytes"))
        .orderBy("doc_id", "att_id")
    },

    "j29_preferred_magnitude" -> { (s, d) =>
      // fdsnws-event default (includeallmagnitudes=false): one row per
      // event, the type-authoritative magnitude estimate (mw > ms > mb >
      // ml, mag id tie-break) out of the 1..2 the indexer derived — the
      // magnitude twin of j25's preferred-origin selection, same
      // one-window shape.
      FdsnQuery.eventMagnitudes(MagnitudeIndex.attach(ev(s, d)), includeAll = false)
        .select(col("event_id"), col("mag_id"), col("mag_c"), col("mtype"))
        .orderBy("event_id")
    },

    "j34_all_magnitudes" -> { (s, d) =>
      // includeallmagnitudes=true: every derived magnitude estimate with
      // the type-authoritative one flagged — the other toggle state of
      // j29's parameterized operator (the magnitude twin of j25's
      // includeallorigins pair). Same one-window shape; the flag costs
      // nothing extra because the rank window already ran.
      FdsnQuery.eventMagnitudes(MagnitudeIndex.attach(ev(s, d)), includeAll = true)
        .select(col("event_id"), col("mag_id"), col("mag_c"), col("mtype"),
          col("is_preferred"))
        .orderBy("event_id", "mag_id")
    },

    "j30_catalogs" -> { (s, d) =>
      // fdsnws-event /catalogs + /contributors metadata endpoints: the
      // distinct catalog (agency) and contributor lists a federation
      // client fetches before composing queries, with event counts. Two
      // map-side-combined rollups over the same scan, unioned — output is
      // O(catalogs), never O(events).
      val e = ev(s, d)
      val cat = e.groupBy(col("agency").as("name"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("kind", lit("catalog"))
      val con = e.groupBy(col("contributor").as("name"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("kind", lit("contributor"))
      cat.unionByName(con)
        .select(col("kind"), col("name"), col("n_events"))
        .orderBy("kind", "name")
    },

    "j31_station_coverage" -> { (s, d) =>
      // Station coverage per significant event: all stations within
      // 3000 km of each magnitude>=5.5 event — the "which stations
      // recorded this quake" join behind data-availability displays. A
      // geo DISTANCE JOIN run as a grid-cell EQUI-JOIN (j20's 10° cell is
      // the join key — the round-5 BroadcastNestedLoopJoin enumerated all
      // event×station pairs, 10^13 predicate evaluations at production
      // cardinalities): each event explodes to the bounded set of cells
      // any within-3000 km station can occupy, the station index keys on
      // its own cell, and the exact haversine prunes the candidates.
      // Candidate-cell math (a mathematical SUPERSET of the ball, so the
      // output is row-identical to the all-pairs form — the oracle stays
      // the declarative all-pairs SQL):
      //  - lat cells: |dlat| <= 3000/111.19 = 26.98° < 27.5 → ≤7 cells;
      //  - lon half-width per (event, station-lat-cell) from the haversine
      //    inequality  cos(elat)·cos(slat)·sin²(dlon/2) ≤ sin²(D/2R):
      //    wl = 2·asin(min(1, sin(D/2R)/sqrt(cos(elat)·cos_min(cell)))),
      //    with cos_min over the cell's |lat| extent; degenerate bands
      //    (touching 90°) widen to the full ring — ≤36 cells, wrapped
      //    mod 360 and deduped. Fan-out per event is O(1) (≤ 7×36 worst
      //    case, ~4×8 typical), so the join shuffles candidate pairs
      //    only — work ∝ matches, never events×stations.
      stationCoveragePairs(s, d)
        .orderBy("event_id", "network", "station")
    },

    "j38_station_knn" -> { (s, d) =>
      // Spatial kNN JOIN: each significant event's 3 NEAREST stations
      // (within the 3000 km coverage ball) — the "closest recording
      // stations" selection behind phase association and travel-time
      // work, and the per-row top-k twin of j31's full coverage join.
      // Same covering-cell equi-join candidate machinery (work ∝
      // candidate pairs, never events×stations); ranking runs on the
      // QUANTIZED 10-m distance with (network, station) tie-break so
      // both engines order identically, and Spark 4's WindowGroupLimit
      // prunes each partition to its top-3 BEFORE the rank exchange —
      // no corpus-wide sort. Oracle: the declarative all-pairs form +
      // rank window (the candidate superset proof is j31's).
      val w = Window.partitionBy("event_id")
        .orderBy(col("dist_e2").asc, col("network").asc, col("station").asc)
      stationCoveragePairs(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("event_id"), col("rn"), col("network"), col("station"),
          col("dist_e2"))
        .orderBy("event_id", "rn")
    },

    "j32_event_xml" -> { (s, d) =>
      // QuakeML-shaped XML TEXT rendering — jane's actual primary output
      // format (j24 is the JSON twin): one <event> element per event with
      // preferredOriginID/preferredMagnitudeID pointers and nested
      // <origin>/<magnitude> elements. Scalars are the index's fixed-point
      // BIGINTs (1e-2 deg, m, centi-mag) so integer-to-string rendering is
      // engine-portable; element order is origin_id/mag_id-sorted on both
      // sides. Same two-aggregate join shape as j24: both sides shuffle
      // once on event_id.
      val evf = ev(s, d).filter(col("magnitude") >= 6.0)
      val os = FdsnQuery.eventOrigins(OriginIndex.attach(evf), includeAll = true)
        .withColumn("frag", concat(
          lit("<origin publicID=\"smi:graft/origin/"), col("origin_id"),
          lit("\"><time>"), col("otime_s"),
          lit("</time><latitude>"), col("lat_e2"),
          lit("</latitude><longitude>"), col("lon_e2"),
          lit("</longitude><depth>"), col("depth_m"),
          lit("</depth></origin>")))
        .groupBy("event_id")
        .agg(max(when(col("is_preferred") === 1, col("origin_id")))
          .as("pref_oid"),
          expr("array_join(transform(array_sort(collect_list(" +
            "struct(origin_id, frag))), x -> x.frag), '')").as("origins_xml"))
      val ms = FdsnQuery.eventMagnitudes(MagnitudeIndex.attach(evf), includeAll = true)
        .withColumn("frag", concat(
          lit("<magnitude publicID=\"smi:graft/magnitude/"), col("mag_id"),
          lit("\"><mag>"), col("mag_c"),
          lit("</mag><type>"), col("mtype"),
          lit("</type></magnitude>")))
        .groupBy("event_id")
        .agg(max(when(col("is_preferred") === 1, col("mag_id")))
          .as("pref_mid"),
          expr("array_join(transform(array_sort(collect_list(" +
            "struct(mag_id, frag))), x -> x.frag), '')").as("mags_xml"))
      os.join(ms, "event_id")
        .select(col("event_id"), concat(
          lit("<event publicID=\"smi:graft/event/"), col("event_id"),
          lit("\"><preferredOriginID>smi:graft/origin/"), col("pref_oid"),
          lit("</preferredOriginID><preferredMagnitudeID>smi:graft/magnitude/"),
          col("pref_mid"), lit("</preferredMagnitudeID>"),
          col("origins_xml"), col("mags_xml"), lit("</event>")).as("xml"))
        .orderBy("event_id")
    },

    "j33_station_json" -> { (s, d) =>
      // StationXML-shaped STRUCTURED rendering — the station-side twin of
      // j24: one nested JSON document per NETWORK with its station-epoch
      // array (station code, fixed-point site coords, covering epoch,
      // channel count), rendered via to_json(struct(...)) and byte-matched
      // against DuckDB to_json. Station structs are array_sort'ed (station
      // code leads) so element order survives the shuffle; scalars are
      // BIGINT-only for engine-portable rendering. Two stacked rollups:
      // channel→station then station→network, each one map-side-combined
      // shuffle on its key.
      val st = ChannelIndex.build(Tables.events(s, d))
        .groupBy("network", "station")
        .agg(min(expr("CAST(round(latitude * 100) AS BIGINT)")).as("lat_e2"),
          min(expr("CAST(round(longitude * 100) AS BIGINT)")).as("lon_e2"),
          unix_timestamp(min(col("epoch_start"))).as("start_s"),
          unix_timestamp(max(col("epoch_end"))).as("end_s"),
          count(lit(1)).as("n_channels"))
      st.groupBy("network")
        .agg(count(lit(1)).as("n_stations"),
          expr("array_sort(collect_list(struct(station, lat_e2, lon_e2, " +
            "start_s, end_s, n_channels)))").as("stations"))
        .select(col("network"), to_json(struct(col("network"),
          col("n_stations"), col("stations"))).as("doc"))
        .orderBy("network")
    },

    "j11_point_lookup" -> { (s, d) =>
      // Document fetch by id (Jane REST /documents/<id>); at scale this is
      // a pushed-down point predicate, pruning row groups via statistics.
      ev(s, d)
        .filter(col("event_id") === 421)
        .select(col("event_id"), col("event_type"), col("user_id"),
          unix_timestamp(col("time")).as("time_s"),
          col("latitude"), col("longitude"), col("depth"),
          cents(col("value")).as("value_c"))
    },

    "j40_declustering" -> { (s, d) =>
      // Catalog DECLUSTERING by the single-pass window method (the
      // Gardner & Knopoff 1974 shape): each M >= 4.0 mainshock claims a
      // magnitude-dependent space-time window — (mag_c-300) div 100 days
      // (1..6) and 500 km (the synthetic catalog is G-R-skewed: M>=4 is
      // the ~2% tail) — and every STRICTLY SMALLER event inside it
      // is its aftershock. Readout: per mainshock, aftershock count +
      // largest aftershock (mainshocks with none are absent). The
      // space-time join is an EQUI-join on (utc-day, 10-degree cell):
      // each mainshock explodes to its <= 5 covered days x covered
      // cells (j31's covering-cell superset machinery at D=500 km —
      // |dlat| <= 500/111.19 = 4.497 < 4.5, lon half-width from the
      // same haversine inequality), aftershock candidates key on their
      // own (day, cell), and the exact time/magnitude/haversine
      // predicates prune — work ∝ candidate pairs (~6 events per
      // day-cell), never mainshocks x events. The oracle stays the
      // declarative all-pairs band join (superset proof = j31's).
      val e = ev(s, d).select(col("event_id"),
        cents(col("magnitude")).as("mag_c"),
        unix_timestamp(col("time")).as("sec"),
        col("latitude"), col("longitude"))
      val m = e.filter(col("mag_c") >= 400)
        .select(col("event_id").as("mid"), col("mag_c").as("mmag"),
          col("sec").as("msec"), col("latitude").as("elat"),
          col("longitude").as("elon"))
        .withColumn("tw", expr("86400L * ((mmag - 300) div 100)"))
      val sinHalf = math.sin(
        500.0 / (2 * graft.functions.GeoFunctions.EarthRadiusKm))
      val cand = m
        .withColumn("day",
          explode(expr("sequence(msec div 86400, (msec + tw) div 86400)")))
        .withColumn("cl", explode(expr(
          "sequence(greatest(-9, CAST(floor((elat - 4.5) / 10) AS INT)), " +
            "least(8, CAST(floor((elat + 4.5) / 10) AS INT)))")))
        .withColumn("denom", expr(
          "cos(radians(elat)) * cos(radians(least(greatest(abs(cl * 10.0), " +
            "abs(cl * 10.0 + 10.0)), 90.0)))"))
        .withColumn("wl", expr(
          s"CASE WHEN denom <= 1e-12 THEN 180.0 ELSE " +
            s"least(180.0, degrees(2 * asin(least(1.0, $sinHalf / sqrt(denom))))) END"))
        .withColumn("cg", explode(expr(
          "array_distinct(transform(" +
            "sequence(CAST(floor((elon - wl) / 10) AS INT), " +
            "CAST(floor((elon + wl) / 10) AS INT)), " +
            "x -> ((x + 18) % 36 + 36) % 36 - 18))")))
        .select("mid", "mmag", "msec", "tw", "elat", "elon", "day", "cl", "cg")
      val a = e
        .select(col("event_id").as("aid"), col("mag_c").as("amag"),
          col("sec").as("asec"), col("latitude").as("alat"),
          col("longitude").as("alon"))
        .withColumn("aday", expr("asec div 86400"))
        .withColumn("acl", expr("least(8, CAST(floor(alat / 10) AS INT))"))
        .withColumn("acg", expr(
          "((CAST(floor(alon / 10) AS INT) + 18) % 36 + 36) % 36 - 18"))
      val distSql = graft.functions.GeoFunctions
        .haversineKmSql("elat", "elon", "alat", "alon")
      cand.join(a, col("day") === col("aday") && col("cl") === col("acl") &&
          col("cg") === col("acg"))
        .filter(col("asec") > col("msec") &&
          col("asec") <= col("msec") + col("tw") &&
          col("amag") < col("mmag") &&
          abs(col("alat") - col("elat")) <= 4.5 && expr(distSql) <= 500.0)
        .groupBy(col("mid"), col("mmag"))
        .agg(count(lit(1)).as("n_aftershocks"),
          max(col("amag")).as("max_aft_mag_c"))
        .select(col("mid").as("event_id"), col("mmag").as("mag_c"),
          col("n_aftershocks"), col("max_aft_mag_c"))
        .orderBy("event_id")
    },

    "j39_gutenberg_richter" -> { (s, d) =>
      // Gutenberg–Richter catalog statistics per reporting agency — the
      // seismicity-rate readout every catalog QA pipeline runs (Aki 1965;
      // Wiemer & Wyss 2000 maximum-curvature Mc): completeness magnitude
      // Mc = the modal 0.1-mag bin (tie → lowest bin), then the b-value
      // by the Aki–Utsu maximum-likelihood estimator over M >= Mc with
      // the Δ/2 bin-center correction. All magnitude math in integer
      // centimag (§4 cents doctrine); b_e4 is the single sanctioned
      // double expression (one shared literal constant x n / d, both
      // engines IEEE-identical, round x 1e4 collapses ulp — the bm25
      // s_e6 precedent). Plan: one groupBy(agency, bin) histogram (7 x
      // ~100 bins), a 7-row broadcast of (Mc, totals), one
      // map-side-combined re-aggregate of M >= Mc — two shuffles total,
      // both keyed by agency (no skew: agencies are uniform).
      val m = ev(s, d)
        .select(col("agency"), cents(col("magnitude")).as("mag_c"))
      val bins = m.groupBy(col("agency"), expr("mag_c div 10").as("bin"))
        .agg(count(lit(1)).as("nb"))
      val mc = bins.groupBy("agency")
        .agg(max_by(col("bin"), struct(col("nb"), col("bin") * -1))
          .as("mc_bin"),
          sum(col("nb")).as("n_events"))
      m.join(broadcast(mc), "agency")
        .filter(col("mag_c") >= col("mc_bin") * 10)
        .groupBy(col("agency"), col("mc_bin"), col("n_events"))
        .agg(count(lit(1)).as("n_above"), sum(col("mag_c")).as("sum_above_c"))
        .select(col("agency"), col("n_events"),
          (col("mc_bin") * 10).as("mc_c"), col("n_above"), col("sum_above_c"),
          expr(bE4Sql("n_above", "sum_above_c", "mc_bin")).as("b_e4"))
        .orderBy("agency")
    },

    "j43_availability" -> { (s, d) =>
      // fdsnws-AVAILABILITY analog (the FDSN extent/query service next
      // to station and event): per channel, contiguous DATA SEGMENTS —
      // sample times merged while gaps stay ≤ 1 day (the service's
      // merge-tolerance semantics) — reported as segment count, extent,
      // covered seconds, and an e4 coverage ratio (covered/span; the
      // uptime number an operator actually reads). Gaps-and-islands per
      // (station, channel) key: one channel-keyed window shuffle + two
      // map-side-combined rollups — island assignment is tie-order
      // invariant (equal timestamps always extend the current segment),
      // so both engines agree without a tie-break column.
      val ch = Tables.events(s, d)
        .select(expr(Indexers.ChannelIndex.networkSql).as("network"),
          expr(Indexers.ChannelIndex.stationSql).as("station"),
          col("event_type").as("channel"), col("user_id"),
          unix_timestamp(col("ts")).as("sec"))
      val w = Window.partitionBy("user_id", "channel").orderBy("sec")
      val isl = ch
        .withColumn("prev", lag(col("sec"), 1).over(w))
        .withColumn("nf", when(col("prev").isNull ||
          col("sec") - col("prev") > 86400, 1L).otherwise(0L))
        .withColumn("seg", sum(col("nf")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      isl.groupBy("network", "station", "user_id", "channel", "seg")
        .agg(min(col("sec")).as("s0"), max(col("sec")).as("s1"))
        .groupBy("network", "station", "user_id", "channel")
        .agg(count(lit(1)).as("n_segments"), min(col("s0")).as("first_s"),
          max(col("s1")).as("last_s"),
          sum(col("s1") - col("s0")).as("covered_s"))
        .withColumn("coverage_e4", expr(
          "CASE WHEN last_s > first_s " +
            "THEN covered_s * 10000 div (last_s - first_s) " +
            "ELSE CAST(10000 AS BIGINT) END"))
        .select(col("network"), col("station"), col("channel"),
          col("n_segments"), col("first_s"), col("last_s"),
          col("covered_s"), col("coverage_e4"))
        .orderBy("station", "channel")
    },

    "j42_completeness_drift" -> { (s, d) =>
      // Catalog COMPLETENESS DRIFT — j39's maximum-curvature Mc and
      // Aki–Utsu b-value computed per (agency, utc-week): the QA time
      // series a network operator watches (a station outage shows up as
      // a one-week Mc jump; a drifting b-value flags instrument or
      // pipeline changes long before totals move). Same integer-centimag
      // doctrine and shared-literal b_e4 formula as j39; plan adds wk to
      // every key, so both shuffles stay map-side-combined and skew-free
      // (agencies × weeks keys), and the Mc table joins back as a
      // BROADCAST (≤ agencies·weeks rows, tiny at any catalog size).
      val m = ev(s, d).select(col("agency"),
        expr("unix_timestamp(time) div 604800").as("wk"),
        cents(col("magnitude")).as("mag_c"))
      val bins = m.groupBy(col("agency"), col("wk"),
          expr("mag_c div 10").as("bin"))
        .agg(count(lit(1)).as("nb"))
      val mc = bins.groupBy("agency", "wk")
        .agg(max_by(col("bin"), struct(col("nb"), col("bin") * -1))
          .as("mc_bin"),
          sum(col("nb")).as("n_events"))
      m.join(broadcast(mc), Seq("agency", "wk"))
        .filter(col("mag_c") >= col("mc_bin") * 10)
        .groupBy(col("agency"), col("wk"), col("mc_bin"), col("n_events"))
        .agg(count(lit(1)).as("n_above"), sum(col("mag_c")).as("sum_above_c"))
        .select(col("agency"), col("wk"), col("n_events"),
          (col("mc_bin") * 10).as("mc_c"), col("n_above"),
          expr(bE4Sql("n_above", "sum_above_c", "mc_bin")).as("b_e4"))
        .orderBy("agency", "wk")
    },

    "j41_catalog_merge" -> { (s, d) =>
      // Cross-agency catalog ASSOCIATION — the catalog-merge primitive a
      // multi-agency archive runs before any rate statistic is honest
      // (duplicate reports of ONE physical event arrive from several
      // agencies; fdsnws-event federation dedups them the same way): two
      // reports associate when they lie within 1800 s and 1000 km but
      // carry DIFFERENT agency codes. Join shape: (1800-s time bucket,
      // 10° lat cell) EQUI-join — the left report explodes to its 3
      // covering time buckets × ≤2 covering lat cells (the lat half of
      // j31's covering superset proof at D=1000 km: |Δlat| ≤ 1000/111.19
      // = 8.994 < 9.0), the right report keys on its OWN (bucket, cell)
      // so each true pair matches exactly once, and the exact |Δt| /
      // haversine / agency predicates prune. The lon-cell key is
      // deliberately NOT in the join: near the poles a 1000-km ball
      // covers the full lon ring, so the lon explode costs ~20 cells/row
      // on a uniform-lat catalog (measured 5.9M exploded rows at sf0.1)
      // while only cutting candidates 0.7M → 3.2M — predicates prune
      // those integer-cheaply, so the narrower explode wins ~2×. Work ∝
      // bucket-lat-cell candidate pairs, never reports²; the oracle
      // stays the declarative all-pairs band join.
      val e = ev(s, d).select(col("event_id"), col("agency"),
        cents(col("magnitude")).as("mag_c"),
        unix_timestamp(col("time")).as("sec"),
        col("latitude"), col("longitude"))
      val a = e.select(col("event_id").as("aid"), col("agency").as("aag"),
        col("mag_c").as("amag"), col("sec").as("asec"),
        col("latitude").as("elat"), col("longitude").as("elon"))
      val cand = a
        .withColumn("bkt",
          explode(expr("sequence(asec div 1800 - 1, asec div 1800 + 1)")))
        .withColumn("cl", explode(expr(
          "sequence(greatest(-9, CAST(floor((elat - 9.0) / 10) AS INT)), " +
            "least(8, CAST(floor((elat + 9.0) / 10) AS INT)))")))
        .select("aid", "aag", "amag", "asec", "elat", "elon", "bkt", "cl")
      val b = e
        .select(col("event_id").as("bid"), col("agency").as("bag"),
          col("mag_c").as("bmag"), col("sec").as("bsec"),
          col("latitude").as("alat"), col("longitude").as("alon"))
        .withColumn("bbkt", expr("bsec div 1800"))
        .withColumn("bcl", expr("least(8, CAST(floor(alat / 10) AS INT))"))
      val distSql = graft.functions.GeoFunctions
        .haversineKmSql("elat", "elon", "alat", "alon")
      cand.join(b, col("bkt") === col("bbkt") && col("cl") === col("bcl"))
        .filter(col("aid") < col("bid") && col("aag") =!= col("bag") &&
          abs(col("bsec") - col("asec")) <= 1800 &&
          abs(col("alat") - col("elat")) <= 9.0 && expr(distSql) <= 1000.0)
        .select(col("aid").as("event_id_a"), col("bid").as("event_id_b"),
          col("aag").as("agency_a"), col("bag").as("agency_b"),
          (col("bsec") - col("asec")).as("dt_s"),
          expr(s"CAST(round(($distSql) * 100) AS BIGINT)").as("dist_e2"),
          abs(col("amag") - col("bmag")).as("dmag_c"))
        .orderBy("event_id_a", "event_id_b")
    })

  private def evCte: String = EventIndex.oracleCte

  val oracle: Map[String, String] = Map(
    "j01_geo_bbox" ->
      s"""WITH ev AS ($evCte)
         |SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(round(magnitude * 100) AS BIGINT)) AS BIGINT) AS mag_c
         |FROM ev
         |WHERE latitude BETWEEN -30 AND 30 AND longitude BETWEEN 0 AND 90
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "j02_geo_radius" ->
      s"""WITH ev AS ($evCte)
         |SELECT event_id, round($havSql, 2) AS dist_km2, latitude, longitude
         |FROM ev WHERE $havSql <= 3000.0
         |ORDER BY event_id""".stripMargin,

    "j03_point_in_polygon" ->
      s"""WITH ev AS ($evCte)
         |SELECT event_id, event_type, latitude, longitude
         |FROM ev WHERE $polySql
         |ORDER BY event_id""".stripMargin,

    "j04_wildcard_match" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE source LIKE 'src1%' ORDER BY doc_id""".stripMargin,

    "j05_interval_overlap" ->
      """SELECT user_id,
        |  CAST(floor(epoch(epoch_start)) AS BIGINT) AS start_s,
        |  CAST(floor(epoch(epoch_end)) AS BIGINT) AS end_s
        |FROM (SELECT user_id, MIN(ts) AS epoch_start, MAX(ts) AS epoch_end
        |      FROM events GROUP BY user_id)
        |WHERE epoch_start <= TIMESTAMP '2024-02-05'
        |  AND epoch_end >= TIMESTAMP '2024-01-30 12:00:00'
        |ORDER BY user_id""".stripMargin,

    "j06_fdsn_event_query" ->
      s"""WITH ev AS ($evCte)
         |SELECT event_id, CAST(round(magnitude * 100) AS BIGINT) AS mag_c,
         |  CAST(floor(epoch(time)) AS BIGINT) AS time_s, latitude, longitude
         |FROM ev
         |WHERE time >= TIMESTAMP '2024-01-05' AND time <= TIMESTAMP '2024-01-25'
         |  AND latitude >= -60 AND latitude <= 60
         |  AND longitude >= -90 AND longitude <= 90
         |  AND magnitude >= 4.0
         |ORDER BY magnitude DESC, event_id ASC LIMIT 100""".stripMargin,

    "j07_fdsn_station_epochs" ->
      s"""WITH ch AS (${ChannelIndex.oracleCte})
         |SELECT network, station, COUNT(*) AS n_channels,
         |  CAST(floor(epoch(MIN(epoch_start))) AS BIGINT) AS start_s,
         |  CAST(floor(epoch(MAX(epoch_end))) AS BIGINT) AS end_s
         |FROM ch
         |WHERE station LIKE 'ST1%' AND channel LIKE '%e%'
         |  AND epoch_start < TIMESTAMP '2024-01-03'
         |  AND epoch_end > TIMESTAMP '2024-01-28'
         |GROUP BY network, station ORDER BY network, station""".stripMargin,

    "j08_latest_version" ->
      """SELECT group_id, doc_id, version, source, n_chars
        |FROM (SELECT *, doc_id // 5 AS group_id, doc_id % 5 AS version,
        |        row_number() OVER (PARTITION BY doc_id // 5
        |                           ORDER BY doc_id % 5 DESC) AS rn
        |      FROM documents)
        |WHERE rn = 1 ORDER BY group_id""".stripMargin,

    "j37_time_travel" ->
      """WITH v AS (SELECT doc_id, doc_id // 8 AS group_id,
        |    doc_id % 8 AS version
        |  FROM documents
        |  WHERE ((doc_id * 2654435761) % 1000000007) % 3 = 0)
        |SELECT group_id,
        |  arg_max(doc_id, version) FILTER (WHERE version <= 3) AS doc_t1,
        |  max(version) FILTER (WHERE version <= 3) AS v_t1,
        |  arg_max(doc_id, version) AS doc_t2,
        |  max(version) AS v_t2,
        |  CASE WHEN max(version) FILTER (WHERE version <= 3) IS NULL
        |         THEN 'created'
        |       WHEN max(version) FILTER (WHERE version <= 3) = max(version)
        |         THEN 'same'
        |       ELSE 'updated' END AS change
        |FROM v GROUP BY group_id ORDER BY group_id""".stripMargin,

    "j47_time_travel_served" ->
      """WITH v AS (SELECT doc_id, doc_id // 8 AS group_id,
        |    doc_id % 8 AS version
        |  FROM documents
        |  WHERE ((doc_id * 2654435761) % 1000000007) % 3 = 0)
        |SELECT group_id, arg_max(doc_id, version) AS doc_t1,
        |  max(version) AS v_t1
        |FROM v WHERE version <= 3
        |GROUP BY group_id ORDER BY group_id""".stripMargin,

    "j48_orc_interchange" ->
      """SELECT event_type, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c,
        |  CAST(floor(epoch(MIN(ts))) AS BIGINT) AS ts_min_s,
        |  CAST(floor(epoch(MAX(ts))) AS BIGINT) AS ts_max_s,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "j36_version_history" ->
      """SELECT group_id, doc_id, version,
        |  CAST(CASE WHEN superseded_by = -1 THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_latest,
        |  superseded_by, n_chars
        |FROM (SELECT doc_id, n_chars, doc_id // 5 AS group_id,
        |        doc_id % 5 AS version,
        |        coalesce(lead(doc_id) OVER (PARTITION BY doc_id // 5
        |          ORDER BY doc_id % 5 ASC), CAST(-1 AS BIGINT))
        |          AS superseded_by
        |      FROM documents)
        |ORDER BY group_id, version""".stripMargin,

    "j09_pagination" ->
      """SELECT doc_id, source, n_chars FROM documents
        |ORDER BY n_chars DESC, doc_id ASC LIMIT 10 OFFSET 20""".stripMargin,

    "j22_keyset_page" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE n_chars < 300 OR (n_chars = 300 AND doc_id > 250)
        |ORDER BY n_chars DESC, doc_id ASC LIMIT 10""".stripMargin,

    "j10_fdsn_text_format" ->
      s"""WITH ev AS ($evCte)
         |SELECT event_id,
         |  CAST(event_id AS VARCHAR) || '|' ||
         |  CAST(CAST(floor(epoch(time)) AS BIGINT) AS VARCHAR) || '|' ||
         |  CAST(CAST(latitude * 10 AS BIGINT) AS VARCHAR) || '|' ||
         |  CAST(CAST(longitude * 10 AS BIGINT) AS VARCHAR) || '|' ||
         |  CAST(CAST(round(magnitude * 100) AS BIGINT) AS VARCHAR) AS line
         |FROM ev WHERE magnitude >= 8.0 ORDER BY event_id""".stripMargin,

    "j12_geojson" ->
      s"""WITH ev AS ($evCte)
         |SELECT event_id,
         |  '{"type":"Feature","geometry":{"type":"Point","coordinates":[' ||
         |  CAST(longitude AS VARCHAR) || ',' || CAST(latitude AS VARCHAR) ||
         |  ']},"properties":{"mag_c":' ||
         |  CAST(CAST(round(magnitude * 100) AS BIGINT) AS VARCHAR) || '}}' AS feature
         |FROM ev WHERE magnitude >= 9.0 ORDER BY event_id""".stripMargin,

    "j14_polygon_raycast" ->
      s"""WITH ev AS ($evCte)
         |SELECT event_type, COUNT(*) AS n
         |FROM ev WHERE $starPolySql
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "j13_nearest_events" ->
      s"""WITH ev AS ($evCte)
         |SELECT event_id, round($havSql, 2) AS dist_km2, latitude, longitude
         |FROM ev
         |ORDER BY round($havSql, 2) ASC, event_id ASC LIMIT 20""".stripMargin,

    "j16_attr_operators" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE lang IN ('en', 'de') AND source <> 'src0'
        |  AND lower(text) LIKE '%merge%'
        |ORDER BY doc_id""".stripMargin,

    "j17_fdsn_event_full" -> {
      val radiusDeg = graft.functions.GeoFunctions
        .centralAngleDegSql("latitude", "longitude", 10.5, 45.5)
      s"""WITH ev AS ($evCte)
         |SELECT event_id, CAST(round(magnitude * 100) AS BIGINT) AS mag_c,
         |  magnitude_type, agency, contributor,
         |  CAST(floor(epoch(time)) AS BIGINT) AS time_s, updated_s,
         |  latitude, longitude
         |FROM ev
         |WHERE time >= TIMESTAMP '2024-01-02' AND time <= TIMESTAMP '2024-03-31'
         |  AND $radiusDeg >= 0.0 AND $radiusDeg <= 90.0
         |  AND depth >= 10 AND depth <= 690
         |  AND magnitude >= 0.5 AND magnitude <= 9.9
         |  AND magnitude_type = 'ml' AND agency = 'AG2' AND contributor = 'C2'
         |  AND updated_s >= CAST(floor(epoch(TIMESTAMP '2024-01-05')) AS BIGINT)
         |ORDER BY magnitude DESC, event_id ASC LIMIT 50""".stripMargin
    },

    "j18_fdsn_level_rollup" ->
      s"""WITH ch AS (${ChannelIndex.oracleCte})
         |SELECT network, COUNT(DISTINCT station) AS n_stations,
         |  COUNT(*) AS n_channels,
         |  CAST(floor(epoch(MIN(epoch_start))) AS BIGINT) AS start_s,
         |  CAST(floor(epoch(MAX(epoch_end))) AS BIGINT) AS end_s
         |FROM ch
         |WHERE channel LIKE '%a%' AND epoch_end > TIMESTAMP '2024-01-15'
         |GROUP BY network ORDER BY network""".stripMargin,

    "j21_fdsn_channel_list" ->
      s"""WITH ch AS (${ChannelIndex.oracleCte})
         |SELECT network, station, channel,
         |  CAST(floor(epoch(epoch_start)) AS BIGINT) AS start_s,
         |  CAST(floor(epoch(epoch_end)) AS BIGINT) AS end_s,
         |  n_samples
         |FROM ch
         |WHERE network LIKE 'N_' AND channel LIKE '%u%'
         |  AND epoch_end >= TIMESTAMP '2024-01-10'
         |  AND epoch_start <= TIMESTAMP '2024-02-20'
         |  AND updated_s >= CAST(floor(epoch(TIMESTAMP '2024-01-25')) AS BIGINT)
         |ORDER BY network, station, channel""".stripMargin,

    "j35_station_geojson" ->
      s"""WITH ch AS (${ChannelIndex.oracleCte}),
         |st AS (SELECT network, station, COUNT(*) AS n_channels,
         |    MIN(latitude) AS latitude, MIN(longitude) AS longitude
         |  FROM ch GROUP BY network, station)
         |SELECT network, station,
         |  '{"type":"Feature","geometry":{"type":"Point","coordinates":[' ||
         |  CAST(longitude AS VARCHAR) || ',' || CAST(latitude AS VARCHAR) ||
         |  ']},"properties":{"n_channels":' ||
         |  CAST(n_channels AS VARCHAR) || '}}' AS feature
         |FROM st ORDER BY network, station""".stripMargin,

    "j23_station_geo" -> {
      val radiusDeg = graft.functions.GeoFunctions
        .centralAngleDegSql("latitude", "longitude", 10.5, 45.5)
      s"""WITH ch AS (${ChannelIndex.oracleCte})
         |SELECT network, station, COUNT(*) AS n_channels,
         |  MIN(latitude) AS latitude, MIN(longitude) AS longitude,
         |  CAST(floor(epoch(MIN(epoch_start))) AS BIGINT) AS start_s,
         |  CAST(floor(epoch(MAX(epoch_end))) AS BIGINT) AS end_s
         |FROM ch
         |WHERE channel LIKE '%e%'
         |  AND latitude >= -60 AND latitude <= 60
         |  AND longitude >= -90 AND longitude <= 170
         |  AND $radiusDeg >= 0.0 AND $radiusDeg <= 80.0
         |GROUP BY network, station ORDER BY network, station""".stripMargin
    },

    "j27_station_text" ->
      s"""WITH ch AS (${ChannelIndex.oracleCte})
         |SELECT network, station, channel,
         |  network || '|' || station || '|' || channel || '|' ||
         |  CAST(CAST(latitude * 10 AS BIGINT) AS VARCHAR) || '|' ||
         |  CAST(CAST(longitude * 10 AS BIGINT) AS VARCHAR) || '|' ||
         |  CAST(CAST(floor(epoch(epoch_start)) AS BIGINT) AS VARCHAR) || '|' ||
         |  CAST(CAST(floor(epoch(epoch_end)) AS BIGINT) AS VARCHAR) || '|' ||
         |  CAST(n_samples AS VARCHAR) AS line
         |FROM ch
         |WHERE network LIKE 'N_' AND channel LIKE '%a%'
         |  AND epoch_end > TIMESTAMP '2024-01-20'
         |ORDER BY network, station, channel""".stripMargin,

    "j19_nullness" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE (case when doc_id % 3 = 0 then NULL else lang end) IS NULL
        |ORDER BY doc_id""".stripMargin,

    "j15_upsert" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN 'reupload' ELSE source END AS source,
        |  CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "j44_store_maintenance" ->
      """WITH v AS (SELECT doc_id, doc_id // 5 AS group_id,
        |    doc_id % 5 AS version, n_chars FROM documents),
        |up AS (SELECT doc_id, group_id, version,
        |    CASE WHEN version = 2 THEN n_chars + 1000 ELSE n_chars END
        |      AS n_chars FROM v),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY group_id
        |      ORDER BY version DESC) AS rn FROM up),
        |vac AS (SELECT doc_id, group_id, version, n_chars FROM rk
        |  WHERE rn <= 2 AND group_id NOT IN (
        |    SELECT group_id FROM rk
        |    WHERE rn = 1 AND version = 4 AND group_id % 7 = 0))
        |SELECT '00_raw' AS stage, COUNT(*) AS n_rows,
        |  COUNT(DISTINCT group_id) AS n_groups,
        |  CAST(SUM((CAST(doc_id AS BIGINT) * 31 + version * 7 + n_chars)
        |    % 1000003) AS BIGINT) AS checksum FROM v
        |UNION ALL SELECT '01_upserted', COUNT(*), COUNT(DISTINCT group_id),
        |  CAST(SUM((CAST(doc_id AS BIGINT) * 31 + version * 7 + n_chars)
        |    % 1000003) AS BIGINT) FROM up
        |UNION ALL SELECT '02_vacuumed', COUNT(*), COUNT(DISTINCT group_id),
        |  CAST(SUM((CAST(doc_id AS BIGINT) * 31 + version * 7 + n_chars)
        |    % 1000003) AS BIGINT) FROM vac
        |UNION ALL SELECT '03_compacted', COUNT(*), COUNT(DISTINCT group_id),
        |  CAST(SUM((CAST(doc_id AS BIGINT) * 31 + version * 7 + n_chars)
        |    % 1000003) AS BIGINT) FROM vac
        |ORDER BY stage""".stripMargin,

    "j45_ingest_quarantine" ->
      """WITH feed AS (SELECT event_id, event_type, value,
        |    event_id % 13 = 0 AS is_corrupt FROM events)
        |SELECT event_type AS bucket, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS checksum
        |FROM feed WHERE NOT is_corrupt GROUP BY event_type
        |UNION ALL
        |SELECT '__quarantined__' AS bucket, COUNT(*) AS n_rows,
        |  CAST(SUM(event_id) AS BIGINT) AS checksum
        |FROM feed WHERE is_corrupt
        |ORDER BY bucket""".stripMargin,

    "j46_ingest_json_quarantine" ->
      """WITH feed AS (SELECT event_id, event_type, value,
        |    event_id % 17 = 0 AS is_corrupt FROM events)
        |SELECT event_type AS bucket, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS checksum
        |FROM feed WHERE NOT is_corrupt GROUP BY event_type
        |UNION ALL
        |SELECT '__quarantined__' AS bucket, COUNT(*) AS n_rows,
        |  CAST(SUM(event_id) AS BIGINT) AS checksum
        |FROM feed WHERE is_corrupt
        |ORDER BY bucket""".stripMargin,

    "j49_xml_ingest" ->
      """WITH feed AS (SELECT event_id, event_type, value,
        |    event_id % 19 = 0 AS is_corrupt FROM events)
        |SELECT event_type AS bucket, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS checksum
        |FROM feed WHERE NOT is_corrupt GROUP BY event_type
        |UNION ALL
        |SELECT '__quarantined__' AS bucket, COUNT(*) AS n_rows,
        |  CAST(SUM(event_id) AS BIGINT) AS checksum
        |FROM feed WHERE is_corrupt
        |ORDER BY bucket""".stripMargin,

    // j50: the oracle replays the index DERIVATION over parquet — it
    // never sees the XML — so the hash match proves the nested write →
    // parse → flatten loop end to end. pos replays as row_number over
    // origin_id (the writer's array_sort order): it matches only if the
    // reader preserved document order. The magnitude fold is the t04
    // convention (list_reduce over a prepended BIGINT seed; the list is
    // pre-encoded to BIGINTs because list_prepend needs a homogeneous
    // element type).
    "j50_quakeml_roundtrip" ->
      s"""WITH ev AS ($evCte),
         |evf AS (SELECT * FROM ev WHERE magnitude >= 6.0),
         |org AS (${OriginIndex.oracleCte("evf")}),
         |orgr AS (SELECT *, row_number() OVER (PARTITION BY event_id
         |    ORDER BY n_phases DESC, origin_id ASC) AS rn FROM org),
         |os AS (SELECT event_id, origin_id, otime_s, lat_e2, lon_e2,
         |    depth_m, n_phases, azimuthal_gap,
         |    CASE WHEN rn = 1 THEN CAST(1 AS BIGINT)
         |      ELSE CAST(0 AS BIGINT) END AS is_preferred,
         |    CAST(row_number() OVER (PARTITION BY event_id
         |      ORDER BY origin_id) - 1 AS BIGINT) AS pos
         |  FROM orgr),
         |mg AS (${MagnitudeIndex.oracleCte("evf")}),
         |mgr AS (SELECT *, row_number() OVER (PARTITION BY event_id
         |    ORDER BY ${FdsnQuery.magTypeRankSql}, mag_id ASC) AS mrn
         |  FROM mg),
         |ms AS (SELECT event_id,
         |    MAX(CASE WHEN mrn = 1 THEN mag_id END) AS pref_mid,
         |    CAST(COUNT(*) AS BIGINT) AS n_mags,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list(CAST(mag_id AS BIGINT) * 1009 + mag_c * 13 +
         |          ascii(substring(mtype, 2, 1)) ORDER BY mag_id)),
         |      (acc, e) -> (acc * 31 + e) % 1000000007) AS mag_fp
         |  FROM mgr GROUP BY event_id)
         |SELECT os.event_id, pos, origin_id, otime_s, lat_e2, lon_e2,
         |  depth_m, n_phases, azimuthal_gap, is_preferred, pref_mid,
         |  n_mags, mag_fp
         |FROM os JOIN ms ON os.event_id = ms.event_id
         |ORDER BY os.event_id, pos""".stripMargin,

    "j20_geo_grid" ->
      s"""WITH ev AS ($evCte)
         |SELECT CAST(floor(latitude / 10) AS BIGINT) AS cell_lat,
         |  CAST(floor(longitude / 10) AS BIGINT) AS cell_lon,
         |  COUNT(*) AS n,
         |  CAST(SUM(CAST(round(magnitude * 100) AS BIGINT)) AS BIGINT) AS mag_c,
         |  CAST(MAX(depth) AS BIGINT) AS max_depth
         |FROM ev GROUP BY cell_lat, cell_lon
         |ORDER BY cell_lat, cell_lon""".stripMargin,

    "j25_preferred_origin" ->
      s"""WITH ev AS ($evCte),
         |org AS (${OriginIndex.oracleCte("ev")}),
         |orgr AS (SELECT *, row_number() OVER (PARTITION BY event_id
         |    ORDER BY n_phases DESC, origin_id ASC) AS rn FROM org)
         |SELECT event_id, origin_id, otime_s, lat_e2, lon_e2, depth_m,
         |  n_phases, azimuthal_gap, oagency
         |FROM orgr WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "j25_all_origins" ->
      s"""WITH ev AS ($evCte),
         |org AS (${OriginIndex.oracleCte("ev")}),
         |orgr AS (SELECT *, row_number() OVER (PARTITION BY event_id
         |    ORDER BY n_phases DESC, origin_id ASC) AS rn FROM org)
         |SELECT event_id, origin_id, n_phases, oagency,
         |  CASE WHEN rn = 1 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
         |    AS is_preferred
         |FROM orgr ORDER BY event_id, origin_id""".stripMargin,

    "j24_event_json" ->
      s"""WITH ev AS ($evCte),
         |evf AS (SELECT * FROM ev WHERE magnitude >= 6.0),
         |org AS (${OriginIndex.oracleCte("evf")}),
         |orgr AS (SELECT *, row_number() OVER (PARTITION BY event_id
         |    ORDER BY n_phases DESC, origin_id ASC) AS rn FROM org),
         |os AS (SELECT event_id,
         |    MAX(CASE WHEN rn = 1 THEN origin_id END) AS preferred_origin_id,
         |    list(struct_pack(origin_id := origin_id, otime_s := otime_s,
         |        lat_e2 := lat_e2, lon_e2 := lon_e2, depth_m := depth_m,
         |        n_phases := n_phases, azimuthal_gap := azimuthal_gap)
         |      ORDER BY origin_id) AS origins
         |  FROM orgr GROUP BY event_id),
         |mg AS (${MagnitudeIndex.oracleCte("evf")}),
         |ms AS (SELECT event_id,
         |    list(struct_pack(mag_id := mag_id, mag_c := mag_c,
         |        mtype := mtype) ORDER BY mag_id) AS magnitudes
         |  FROM mg GROUP BY event_id)
         |SELECT os.event_id,
         |  CAST(to_json(struct_pack(event_id := os.event_id,
         |    preferred_origin_id := preferred_origin_id,
         |    origins := origins, magnitudes := magnitudes)) AS VARCHAR) AS doc
         |FROM os JOIN ms ON os.event_id = ms.event_id
         |ORDER BY os.event_id""".stripMargin,

    "j28_origin_arrivals" ->
      s"""WITH ev AS ($evCte),
         |org AS (${OriginIndex.oracleCte("ev")}),
         |orgr AS (SELECT *, row_number() OVER (PARTITION BY event_id
         |    ORDER BY n_phases DESC, origin_id ASC) AS rn FROM org),
         |pref AS (SELECT event_id, origin_id FROM orgr WHERE rn = 1),
         |arr AS (${ArrivalIndex.oracleCte("pref")})
         |SELECT event_id, origin_id, arrival_id, phase, dist_deg_e2,
         |  residual_e3, azimuth
         |FROM arr WHERE phase IN ('P', 'S')
         |ORDER BY event_id, arrival_id""".stripMargin,

    "j26_attachments" ->
      s"""WITH att AS (${DocumentStore.Attachments.oracleCte})
         |SELECT a.doc_id, att_id, n_bytes
         |FROM att a JOIN documents d ON a.doc_id = d.doc_id
         |WHERE d.lang = 'en' AND a.content_type = 'image/png'
         |ORDER BY a.doc_id, att_id""".stripMargin,

    "j29_preferred_magnitude" ->
      s"""WITH ev AS ($evCte),
         |mg AS (${MagnitudeIndex.oracleCte("ev")}),
         |mgr AS (SELECT *, row_number() OVER (PARTITION BY event_id
         |    ORDER BY (${FdsnQuery.magTypeRankSql}) ASC, mag_id ASC) AS rn
         |  FROM mg)
         |SELECT event_id, mag_id, mag_c, mtype
         |FROM mgr WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "j34_all_magnitudes" ->
      s"""WITH ev AS ($evCte),
         |mg AS (${MagnitudeIndex.oracleCte("ev")}),
         |mgr AS (SELECT *, row_number() OVER (PARTITION BY event_id
         |    ORDER BY (${FdsnQuery.magTypeRankSql}) ASC, mag_id ASC) AS rn
         |  FROM mg)
         |SELECT event_id, mag_id, mag_c, mtype,
         |  CASE WHEN rn = 1 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
         |    AS is_preferred
         |FROM mgr ORDER BY event_id, mag_id""".stripMargin,

    "j30_catalogs" ->
      s"""WITH ev AS ($evCte)
         |SELECT kind, name, n_events FROM (
         |  SELECT 'catalog' AS kind, agency AS name, COUNT(*) AS n_events
         |  FROM ev GROUP BY agency
         |  UNION ALL
         |  SELECT 'contributor' AS kind, contributor AS name,
         |    COUNT(*) AS n_events
         |  FROM ev GROUP BY contributor)
         |ORDER BY kind, name""".stripMargin,

    "j31_station_coverage" -> {
      val distSql = graft.functions.GeoFunctions
        .haversineKmSql("elat", "elon", "slat", "slon")
      s"""WITH ev AS ($evCte),
         |e AS (SELECT event_id, latitude AS elat, longitude AS elon
         |      FROM ev WHERE magnitude >= 5.5),
         |ch AS (${ChannelIndex.oracleCte}),
         |st AS (SELECT DISTINCT network, station, latitude AS slat,
         |         longitude AS slon FROM ch)
         |SELECT event_id, network, station,
         |  CAST(round($distSql * 100) AS BIGINT) AS dist_e2
         |FROM e, st
         |WHERE abs(slat - elat) <= 27.5 AND $distSql <= 3000.0
         |ORDER BY event_id, network, station""".stripMargin
    },

    "j38_station_knn" -> {
      val distSql = graft.functions.GeoFunctions
        .haversineKmSql("elat", "elon", "slat", "slon")
      s"""WITH ev AS ($evCte),
         |e AS (SELECT event_id, latitude AS elat, longitude AS elon
         |      FROM ev WHERE magnitude >= 5.5),
         |ch AS (${ChannelIndex.oracleCte}),
         |st AS (SELECT DISTINCT network, station, latitude AS slat,
         |         longitude AS slon FROM ch),
         |p AS (SELECT event_id, network, station,
         |    CAST(round($distSql * 100) AS BIGINT) AS dist_e2
         |  FROM e, st
         |  WHERE abs(slat - elat) <= 27.5 AND $distSql <= 3000.0),
         |r AS (SELECT *, row_number() OVER (PARTITION BY event_id
         |    ORDER BY dist_e2 ASC, network ASC, station ASC) AS rn FROM p)
         |SELECT event_id, rn, network, station, dist_e2
         |FROM r WHERE rn <= 3 ORDER BY event_id, rn""".stripMargin
    },

    "j32_event_xml" ->
      s"""WITH ev AS ($evCte),
         |evf AS (SELECT * FROM ev WHERE magnitude >= 6.0),
         |org AS (${OriginIndex.oracleCte("evf")}),
         |orgr AS (SELECT *, row_number() OVER (PARTITION BY event_id
         |    ORDER BY n_phases DESC, origin_id ASC) AS rn FROM org),
         |ofr AS (SELECT event_id, origin_id, rn,
         |    '<origin publicID="smi:graft/origin/' ||
         |    CAST(origin_id AS VARCHAR) || '"><time>' ||
         |    CAST(otime_s AS VARCHAR) || '</time><latitude>' ||
         |    CAST(lat_e2 AS VARCHAR) || '</latitude><longitude>' ||
         |    CAST(lon_e2 AS VARCHAR) || '</longitude><depth>' ||
         |    CAST(depth_m AS VARCHAR) || '</depth></origin>' AS frag
         |  FROM orgr),
         |os AS (SELECT event_id,
         |    MAX(CASE WHEN rn = 1 THEN origin_id END) AS pref_oid,
         |    string_agg(frag, '' ORDER BY origin_id) AS origins_xml
         |  FROM ofr GROUP BY event_id),
         |mg AS (${MagnitudeIndex.oracleCte("evf")}),
         |mgr AS (SELECT *, row_number() OVER (PARTITION BY event_id
         |    ORDER BY (${FdsnQuery.magTypeRankSql}) ASC, mag_id ASC) AS rn
         |  FROM mg),
         |mfr AS (SELECT event_id, mag_id, rn,
         |    '<magnitude publicID="smi:graft/magnitude/' ||
         |    CAST(mag_id AS VARCHAR) || '"><mag>' ||
         |    CAST(mag_c AS VARCHAR) || '</mag><type>' || mtype ||
         |    '</type></magnitude>' AS frag
         |  FROM mgr),
         |ms AS (SELECT event_id,
         |    MAX(CASE WHEN rn = 1 THEN mag_id END) AS pref_mid,
         |    string_agg(frag, '' ORDER BY mag_id) AS mags_xml
         |  FROM mfr GROUP BY event_id)
         |SELECT os.event_id,
         |  '<event publicID="smi:graft/event/' ||
         |  CAST(os.event_id AS VARCHAR) ||
         |  '"><preferredOriginID>smi:graft/origin/' ||
         |  CAST(pref_oid AS VARCHAR) ||
         |  '</preferredOriginID><preferredMagnitudeID>smi:graft/magnitude/' ||
         |  CAST(pref_mid AS VARCHAR) || '</preferredMagnitudeID>' ||
         |  origins_xml || mags_xml || '</event>' AS xml
         |FROM os JOIN ms ON os.event_id = ms.event_id
         |ORDER BY os.event_id""".stripMargin,

    "j33_station_json" ->
      s"""WITH ch AS (${ChannelIndex.oracleCte}),
         |st AS (SELECT network, station,
         |    MIN(CAST(round(latitude * 100) AS BIGINT)) AS lat_e2,
         |    MIN(CAST(round(longitude * 100) AS BIGINT)) AS lon_e2,
         |    CAST(floor(epoch(MIN(epoch_start))) AS BIGINT) AS start_s,
         |    CAST(floor(epoch(MAX(epoch_end))) AS BIGINT) AS end_s,
         |    COUNT(*) AS n_channels
         |  FROM ch GROUP BY network, station),
         |nw AS (SELECT network, COUNT(*) AS n_stations,
         |    list(struct_pack(station := station, lat_e2 := lat_e2,
         |        lon_e2 := lon_e2, start_s := start_s, end_s := end_s,
         |        n_channels := n_channels) ORDER BY station) AS stations
         |  FROM st GROUP BY network)
         |SELECT network, CAST(to_json(struct_pack(network := network,
         |    n_stations := n_stations, stations := stations)) AS VARCHAR) AS doc
         |FROM nw ORDER BY network""".stripMargin,

    "j11_point_lookup" ->
      s"""WITH ev AS ($evCte)
         |SELECT event_id, event_type, user_id,
         |  CAST(floor(epoch(time)) AS BIGINT) AS time_s,
         |  latitude, longitude, depth,
         |  CAST(round(value * 100) AS BIGINT) AS value_c
         |FROM ev WHERE event_id = 421""".stripMargin,

    "j40_declustering" -> {
      val distSql = graft.functions.GeoFunctions
        .haversineKmSql("m.elat", "m.elon", "a.alat", "a.alon")
      s"""WITH ev AS ($evCte),
         |e AS (SELECT event_id, CAST(round(magnitude * 100) AS BIGINT) AS mag_c,
         |    CAST(floor(epoch(time)) AS BIGINT) AS sec,
         |    latitude, longitude FROM ev),
         |m AS (SELECT event_id AS mid, mag_c AS mmag, sec AS msec,
         |    latitude AS elat, longitude AS elon,
         |    86400 * ((mag_c - 300) // 100) AS tw
         |  FROM e WHERE mag_c >= 400),
         |a AS (SELECT event_id AS aid, mag_c AS amag, sec AS asec,
         |    latitude AS alat, longitude AS alon FROM e)
         |SELECT m.mid AS event_id, m.mmag AS mag_c,
         |  COUNT(*) AS n_aftershocks, MAX(a.amag) AS max_aft_mag_c
         |FROM m JOIN a ON a.asec > m.msec AND a.asec <= m.msec + m.tw
         |  AND a.amag < m.mmag AND $distSql <= 500.0
         |GROUP BY m.mid, m.mmag
         |ORDER BY event_id""".stripMargin
    },

    "j39_gutenberg_richter" ->
      s"""WITH ev AS ($evCte),
         |m AS (SELECT agency, CAST(round(magnitude * 100) AS BIGINT) AS mag_c
         |  FROM ev),
         |bins AS (SELECT agency, mag_c // 10 AS bin, COUNT(*) AS nb
         |  FROM m GROUP BY agency, bin),
         |mc AS (SELECT agency, bin AS mc_bin,
         |    CAST(n_events AS BIGINT) AS n_events FROM (
         |    SELECT agency, bin, nb,
         |      SUM(nb) OVER (PARTITION BY agency) AS n_events,
         |      row_number() OVER (PARTITION BY agency
         |        ORDER BY nb DESC, bin ASC) AS r
         |    FROM bins) WHERE r = 1),
         |ab AS (SELECT m.agency, mc_bin, n_events, COUNT(*) AS n_above,
         |    CAST(SUM(mag_c) AS BIGINT) AS sum_above_c
         |  FROM m JOIN mc USING (agency) WHERE mag_c >= mc_bin * 10
         |  GROUP BY m.agency, mc_bin, n_events)
         |SELECT agency, n_events, mc_bin * 10 AS mc_c, n_above, sum_above_c,
         |  ${bE4Sql("n_above", "sum_above_c", "mc_bin")} AS b_e4
         |FROM ab ORDER BY agency""".stripMargin,

    "j43_availability" ->
      """WITH e AS (SELECT 'N' || CAST(user_id % 10 AS VARCHAR) AS network,
        |    'ST' || CAST(user_id AS VARCHAR) AS station, user_id,
        |    event_type AS channel,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |f AS (SELECT *, CASE WHEN lag(sec) OVER w IS NULL
        |      OR sec - lag(sec) OVER w > 86400 THEN 1 ELSE 0 END AS nf
        |  FROM e WINDOW w AS (PARTITION BY user_id, channel ORDER BY sec)),
        |si AS (SELECT *, SUM(nf) OVER (PARTITION BY user_id, channel
        |    ORDER BY sec ROWS UNBOUNDED PRECEDING) AS seg FROM f),
        |segs AS (SELECT network, station, user_id, channel, seg,
        |    MIN(sec) AS s0, MAX(sec) AS s1
        |  FROM si GROUP BY network, station, user_id, channel, seg)
        |SELECT network, station, channel, COUNT(*) AS n_segments,
        |  MIN(s0) AS first_s, MAX(s1) AS last_s,
        |  CAST(SUM(s1 - s0) AS BIGINT) AS covered_s,
        |  CAST(CASE WHEN MAX(s1) > MIN(s0)
        |    THEN CAST(SUM(s1 - s0) AS BIGINT) * 10000 // (MAX(s1) - MIN(s0))
        |    ELSE 10000 END AS BIGINT) AS coverage_e4
        |FROM segs GROUP BY network, station, user_id, channel
        |ORDER BY station, channel""".stripMargin,

    "j42_completeness_drift" ->
      s"""WITH ev AS ($evCte),
         |m AS (SELECT agency,
         |    CAST(floor(epoch(time)) AS BIGINT) // 604800 AS wk,
         |    CAST(round(magnitude * 100) AS BIGINT) AS mag_c FROM ev),
         |bins AS (SELECT agency, wk, mag_c // 10 AS bin, COUNT(*) AS nb
         |  FROM m GROUP BY agency, wk, bin),
         |mc AS (SELECT agency, wk, bin AS mc_bin,
         |    CAST(n_events AS BIGINT) AS n_events FROM (
         |    SELECT agency, wk, bin, nb,
         |      SUM(nb) OVER (PARTITION BY agency, wk) AS n_events,
         |      row_number() OVER (PARTITION BY agency, wk
         |        ORDER BY nb DESC, bin ASC) AS r
         |    FROM bins) WHERE r = 1)
         |SELECT m.agency, m.wk, n_events, mc_bin * 10 AS mc_c,
         |  COUNT(*) AS n_above,
         |  ${bE4Sql("COUNT(*)", "SUM(mag_c)", "mc_bin")} AS b_e4
         |FROM m JOIN mc USING (agency, wk) WHERE mag_c >= mc_bin * 10
         |GROUP BY m.agency, m.wk, mc_bin, n_events
         |ORDER BY agency, wk""".stripMargin,

    "j41_catalog_merge" -> {
      val distSql = graft.functions.GeoFunctions
        .haversineKmSql("elat", "elon", "alat", "alon")
      s"""WITH ev AS ($evCte),
         |a AS (SELECT event_id AS aid, agency AS aag,
         |    CAST(round(magnitude * 100) AS BIGINT) AS amag,
         |    CAST(floor(epoch(time)) AS BIGINT) AS asec,
         |    latitude AS elat, longitude AS elon FROM ev),
         |b AS (SELECT event_id AS bid, agency AS bag,
         |    CAST(round(magnitude * 100) AS BIGINT) AS bmag,
         |    CAST(floor(epoch(time)) AS BIGINT) AS bsec,
         |    latitude AS alat, longitude AS alon FROM ev)
         |SELECT aid AS event_id_a, bid AS event_id_b, aag AS agency_a,
         |  bag AS agency_b, bsec - asec AS dt_s,
         |  CAST(round(($distSql) * 100) AS BIGINT) AS dist_e2,
         |  abs(amag - bmag) AS dmag_c
         |FROM a JOIN b ON bsec BETWEEN asec - 1800 AND asec + 1800
         |  AND aid < bid AND aag <> bag
         |WHERE $distSql <= 1000.0
         |ORDER BY event_id_a, event_id_b""".stripMargin
    })
}
