package graft

import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean

import graft.operators.FdsnQuery
import graft.operators.FdsnQuery.{EventParams, StationParams}
import graft.operators.Indexers.{ChannelIndex, EventIndex}
import graft.sources.ParquetStore

/** FDSN parameter-surface behavior on the event/channel indices. */
class FdsnQuerySpec extends SparkSpec {

  private lazy val index = EventIndex.attach(Tables.events(spark, sfDir)).cache()

  test("radius params are FDSN-spec degrees of great-circle arc") {
    val ring = FdsnQuery.events(index, EventParams(
      latitude = Some(10.5), longitude = Some(45.5),
      minRadius = Some(5.0), maxRadius = Some(30.0)))
    val n = ring.count()
    assert(n > 0)
    // every hit's km distance matches the degree ring: 1 deg = R*pi/180 km
    val degKm = 6371.0 * math.Pi / 180.0
    val bad = ring.withColumn("d", graft.functions.GeoFunctions.haversineKm(
        lit(10.5), lit(45.5), col("latitude"), col("longitude")))
      .filter(col("d") < 5.0 * degKm - 1e-6 || col("d") > 30.0 * degKm + 1e-6)
      .count()
    assert(bad == 0)
  }

  test("provenance + updatedafter params filter the event index") {
    val hits = FdsnQuery.events(index, EventParams(
      agency = Some("AG3"), contributor = Some("C2"),
      magnitudeType = Some("mw"), updatedAfter = Some("2024-01-10")))
    assert(hits.count() > 0)
    assert(hits.filter(col("agency") =!= "AG3" ||
      col("contributor") =!= "C2" || col("magnitude_type") =!= "mw").count() == 0)
  }

  test("station level rollups aggregate consistently across levels") {
    val channels = ChannelIndex.build(Tables.events(spark, sfDir)).cache()
    val p = StationParams(channel = Some("*a*"))
    val chanRows = FdsnQuery.channels(channels, p).count()
    val stations = FdsnQuery.channels(channels, p.copy(level = "station"))
    val networks = FdsnQuery.channels(channels, p.copy(level = "network"))
    assert(stations.agg(sum("n_channels")).head.getLong(0) == chanRows)
    assert(networks.agg(sum("n_channels")).head.getLong(0) == chanRows)
    assert(networks.agg(sum("n_stations")).head.getLong(0) == stations.count())
    intercept[IllegalArgumentException] {
      FdsnQuery.channels(channels, p.copy(level = "response"))
    }
  }

  test("orderby + limit + offset page deterministically") {
    val p1 = FdsnQuery.events(index, EventParams(
      minMagnitude = Some(2.0), orderBy = "magnitude", limit = Some(5)))
      .select("event_id").collect().map(_.getLong(0)).toSeq
    val p2 = FdsnQuery.events(index, EventParams(
      minMagnitude = Some(2.0), orderBy = "magnitude", limit = Some(5),
      offset = Some(5)))
      .select("event_id").collect().map(_.getLong(0)).toSeq
    assert(p1.size == 5 && p2.size == 5)
    assert((p1.toSet & p2.toSet).isEmpty, "pages must not overlap")
    val all = FdsnQuery.events(index, EventParams(
      minMagnitude = Some(2.0), orderBy = "magnitude", limit = Some(10)))
      .select("event_id").collect().map(_.getLong(0)).toSeq
    assert(all == p1 ++ p2, "offset paging must tile the full ordering")
  }

  test("unknown orderby is rejected") {
    intercept[IllegalArgumentException] {
      FdsnQuery.events(index, EventParams(orderBy = "depth"))
    }
  }

  test("station epoch window params compose") {
    val channels = ChannelIndex.build(Tables.events(spark, sfDir))
    val hits = FdsnQuery.channels(channels, StationParams(
      network = Some("N?"), channel = Some("click"),
      starttime = Some("2024-01-10"), endtime = Some("2024-01-20")))
    assert(hits.count() > 0)
    assert(hits.filter(col("channel") =!= "click").count() == 0)
  }

  test("station geo params: bbox is exact, radius ring matches haversine") {
    val channels = ChannelIndex.build(Tables.events(spark, sfDir)).cache()
    val hits = FdsnQuery.channels(channels, StationParams(
      minLatitude = Some(-50), maxLatitude = Some(50),
      latitude = Some(10.5), longitude = Some(45.5), maxRadius = Some(60.0)))
    assert(hits.count() > 0)
    val degKm = 6371.0 * math.Pi / 180.0
    val bad = hits.withColumn("d", graft.functions.GeoFunctions.haversineKm(
        lit(10.5), lit(45.5), col("latitude"), col("longitude")))
      .filter(col("latitude") < -50 || col("latitude") > 50 ||
        col("d") > 60.0 * degKm + 1e-6)
      .count()
    assert(bad == 0)
    // level=station keeps the site coordinates through the rollup
    val st = FdsnQuery.channels(channels, StationParams(
      maxRadius = Some(60.0), latitude = Some(10.5), longitude = Some(45.5),
      level = "station"))
    assert(st.columns.contains("latitude") && st.count() > 0)
  }

  test("origin index: cardinality 1+id%3, preferred origin is unique argmax") {
    import graft.operators.Indexers.OriginIndex
    val origins = OriginIndex.attach(index).cache()
    // per-event origin count is 1 + event_id % 3
    val badN = origins.groupBy("event_id").count()
      .filter(col("count") =!= (col("event_id") % 3) + 1).count()
    assert(badN == 0)
    val all = FdsnQuery.eventOrigins(origins, includeAll = true).cache()
    // exactly one preferred origin per event
    val prefPerEvent = all.filter(col("is_preferred") === 1)
      .groupBy("event_id").count().filter(col("count") =!= 1).count()
    assert(prefPerEvent == 0)
    // preferred row has the max phase count of its event
    val maxPhases = all.groupBy("event_id")
      .agg(max(col("n_phases")).as("mx"))
    val badPref = all.filter(col("is_preferred") === 1)
      .join(maxPhases, "event_id")
      .filter(col("n_phases") =!= col("mx")).count()
    assert(badPref == 0)
    // includeAll=false == the flagged subset, modulo the flag column
    val only = FdsnQuery.eventOrigins(origins, includeAll = false)
    assert(only.count() == all.filter(col("is_preferred") === 1).count())
  }

  test("magnitude index: preferred magnitude is the unique type-authority argmin") {
    import graft.operators.Indexers.MagnitudeIndex
    val mags = MagnitudeIndex.attach(index).cache()
    // per-event magnitude count is 1 + event_id % 2
    val badN = mags.groupBy("event_id").count()
      .filter(col("count") =!= (col("event_id") % 2) + 1).count()
    assert(badN == 0)
    val all = FdsnQuery.eventMagnitudes(mags, includeAll = true).cache()
    // exactly one preferred magnitude per event
    val prefPerEvent = all.filter(col("is_preferred") === 1)
      .groupBy("event_id").count().filter(col("count") =!= 1).count()
    assert(prefPerEvent == 0)
    // preferred row carries its event's best (lowest) type rank
    val rank = expr(FdsnQuery.magTypeRankSql)
    val best = all.withColumn("r", rank).groupBy("event_id")
      .agg(min(col("r")).as("mn"))
    val badPref = all.withColumn("r", rank)
      .filter(col("is_preferred") === 1)
      .join(best, "event_id").filter(col("r") =!= col("mn")).count()
    assert(badPref == 0)
    // includeAll=false == the flagged subset
    val only = FdsnQuery.eventMagnitudes(mags, includeAll = false)
    assert(only.count() == all.filter(col("is_preferred") === 1).count())
  }

  test("station-coverage distance join is a cell equi-join, not a BNLJ") {
    // j31's geo distance join must plan as an EQUI-join on the grid cell
    // key (bounded per-event cell fan-out), never a BroadcastNestedLoopJoin
    // or cartesian enumerating all event×station pairs — the 100 TB
    // scale requirement (round-5 verdict item).
    val j31 = graft.queries.JaneQueries.queries("j31_station_coverage")(spark, sfDir)
    val plan = j31.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"BNLJ must not appear in:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian must not appear in:\n$plan")
    assert(j31.count() > 0)
  }

  test("station kNN join rides the cell equi-join and prunes via WindowGroupLimit") {
    // j38 shares j31's covering-cell candidate machinery (so no BNLJ /
    // cartesian can appear) and must rank with Spark 4's WindowGroupLimit
    // partial pruning: each partition keeps only its local top-3 BEFORE
    // the rank exchange — never a corpus-wide sort of all candidate pairs.
    val j38 = graft.queries.JaneQueries.queries("j38_station_knn")(spark, sfDir)
    val plan = j38.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"BNLJ must not appear in:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian must not appear in:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"rank pruning must plan as WindowGroupLimit in:\n$plan")
    // ≤3 rows per event, ranks dense from 1
    import spark.implicits._
    val byEvent = j38.groupBy("event_id")
      .agg(count(lit(1)).as("n"), max(col("rn")).as("mx"))
    assert(byEvent.filter(col("n") > 3 || col("n") =!= col("mx")).count() == 0)
    assert(j38.count() > 0)
  }

  test("station-coverage cell candidates cover the 3000 km ball exactly") {
    // The candidate-cell superset math (lat band + haversine-inequality
    // lon width) must lose no pair: the equi-join form row-equals the
    // brute-force all-pairs distance join.
    import spark.implicits._
    val cellForm = graft.queries.JaneQueries.queries("j31_station_coverage")(spark, sfDir)
      .as[(Long, String, String, Long)].collect().toSet
    val ev = graft.operators.Indexers.EventIndex.attach(Tables.events(spark, sfDir))
      .filter(col("magnitude") >= 5.5)
      .select(col("event_id"), col("latitude").as("elat"),
        col("longitude").as("elon"))
    val st = graft.operators.Indexers.ChannelIndex.build(Tables.events(spark, sfDir))
      .select(col("network"), col("station"), col("latitude").as("slat"),
        col("longitude").as("slon")).distinct()
    val distSql = graft.functions.GeoFunctions
      .haversineKmSql("elat", "elon", "slat", "slon")
    val brute = ev.crossJoin(st).filter(expr(distSql) <= 3000.0)
      .select(col("event_id"), col("network"), col("station"),
        expr(s"CAST(round($distSql * 100) AS BIGINT)").as("dist_e2"))
      .as[(Long, String, String, Long)].collect().toSet
    assert(cellForm == brute,
      s"missing=${(brute -- cellForm).take(5)} extra=${(cellForm -- brute).take(5)}")
  }

  test("a time window prunes a day store to its days and returns the unpartitioned rows") {
    // p_day written under +14:00 and read under UTC: the widest real gap
    // between the writer's day and the reader's
    val tz = "spark.sql.session.timeZone"
    val dir = java.nio.file.Files.createTempDirectory("graft_fdsn_days_").toString + "/events"
    spark.conf.set(tz, "+14:00")
    try ParquetStore.writeDayPartitioned(index.coalesce(1), "time", dir)
    finally spark.conf.set(tz, "UTC")
    val store = ParquetStore.read(spark, dir)

    // UTC windows over the data's 30 days and a little beyond; a third
    // start shortly before a midnight and end shortly after it
    val day = 86400L
    val t0 = Instant.parse("2023-12-30T00:00:00Z").getEpochSecond
    val window: Gen[(Long, Long)] = Gen.frequency(
      1 -> (for {
        d <- Gen.choose(0L, 33L); before <- Gen.choose(1L, 7200L); after <- Gen.choose(1L, 7200L)
      } yield (t0 + d * day - before, t0 + d * day + after)),
      2 -> (for {
        s <- Gen.choose(t0, t0 + 34 * day); len <- Gen.choose(0L, 5 * day)
      } yield (s, s + len)))
    def iso(s: Long) = LocalDateTime.ofEpochSecond(s, 0, ZoneOffset.UTC).toString
    var crossed = false
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(16)
        .withInitialSeed(20261019L), Prop.forAllNoShrink(window) { case (s, e) =>
      val days = e / day - s / day + 1
      crossed ||= days > 1 && e - s <= 14400
      val p = FdsnQuery.EventParams(starttime = Some(iso(s)), endtime = Some(iso(e)))
      val pruned = FdsnQuery.events(store, p).select("event_id")
      val got = pruned.collect().map(_.getLong(0)).toSeq
      val want = FdsnQuery.events(index, p).select("event_id").collect().map(_.getLong(0)).toSeq
      // the physical plan before AQE, whose scan node a stage replaced by
      // an empty relation still shows; numFiles is its selected files
      val scans = pruned.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
      val files = scans.map(_.selectedPartitions.totalNumberOfFiles).sum
      val label = s"[${iso(s)}, ${iso(e)}]: ${got.size} vs ${want.size} rows, $files files, " +
        s"partition filters ${scans.map(_.partitionFilters.mkString(", "))}"
      (got == want && scans.size == 1 && scans.head.partitionFilters.exists(_.references
        .exists(_.name == "p_day")) && files <= days + 2) :| label
    })
    assert(res.passed, res.status match {
      case Test.Failed(_, labels) => labels.mkString("; ")
      case st => st.toString
    })
    assert(crossed, "no generated window crossed a midnight")
  }
}
