package graft

/** r19 addition: j49_xml_ingest — the XML arm of the reject-but-continue
  * ingest family, on Spark 4.1's NATIVE XML source (jane's real upload
  * formats are QuakeML/StationXML documents; the DuckDB hash oracle
  * replays the corruption rule over parquet, so these pin what the
  * oracle cannot see: that the reject routes per-ELEMENT, that a bad
  * element never swallows its neighbors, and the measured PERMISSIVE
  * semantics the triage path depends on — a rejected element keeps its
  * well-typed fields, and `_corrupt_record` preserves the enclosing
  * file document).
  */
class NewQueriesR19Spec extends SparkSpec {

  test("j49 XML quarantine: per-element reject routing exact, neighbors intact") {
    import org.apache.spark.sql.functions.{col, sum}
    val card = SparkEntry.queries("j49_xml_ingest")(spark, sfDir).collect()
    val quar = card.filter(_.getString(0) == "__quarantined__")
    assert(quar.length == 1 && quar(0).getLong(1) > 0,
      "the % 19 rule must quarantine some elements at sf0.001")
    val events = Tables.events(spark, sfDir)
    // neighbor integrity: good + quarantined PARTITION the corpus — the
    // j46-style STRUCTURAL corruption rule was measured to swallow
    // every element after the broken one into a single corrupt record
    // (document-level StAX failure), which is why the feed corrupts the
    // VALUE instead; this assert is what fails if that regresses
    assert(card.map(_.getLong(1)).sum == events.count())
    assert(quar(0).getLong(1) ==
      events.filter(col("event_id") % 19 === 0).count(),
      "exactly the % 19 elements quarantine")
    // triage recovered every rejected id from the partially-parsed row
    val expect = events.filter(col("event_id") % 19 === 0)
      .agg(sum(col("event_id"))).head.getLong(0)
    assert(quar(0).getLong(2) == expect, "recovered-id checksum mismatch")
    // measured PERMISSIVE shape the triage path depends on: a rejected
    // element parses its well-typed fields (id present, bad value
    // null), and the raw corrupt record preserves the enclosing file
    // document (contains the rendered CORRUPT marker). Single-symbol
    // path with the query builder.
    val raw = graft.sources.Ingest.readXmlEvents(spark,
      graft.queries.JaneQueries.xmlFeedPath(sfDir))
      .select(col("event_id"), col("value"), col("_corrupt_record"))
      .localCheckpoint()
    val rejected = raw.filter(col("_corrupt_record").isNotNull)
    assert(rejected.filter(col("event_id").isNull).count() == 0,
      "a rejected element must keep its parsed event_id (the triage path)")
    assert(rejected.filter(col("value").isNotNull).count() == 0,
      "the corrupt VALUE must never parse")
    assert(rejected.filter(
      !col("_corrupt_record").contains("<value>CORRUPT</value>")).count() == 0,
      "the raw document containing the bad element is preserved")
    // every KEPT element parses every field
    assert(raw.filter(col("_corrupt_record").isNull &&
      (col("event_id").isNull || col("value").isNull)).count() == 0)
  }

  test("installOverwriteXml: every part file is its own rooted document") {
    // the load-bearing measured fact behind the installer (see its
    // Scaladoc): a root-less file of repeated rowTags parses ONE
    // element and swallows the rest into a single corrupt record —
    // so each part file, under ANY partition count, must be a
    // well-formed document. Pinned directly here (j49 only proves it
    // indirectly through the quarantine counts).
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(3)
    val path = "/tmp/graft_stores/xml_root_pin"
    graft.sources.ParquetStore.installOverwriteXml(df, path, "row", "root")
    val parts = new java.io.File(path).listFiles
      .filter(f => f.getName.startsWith("part") && f.length > 0)
    assert(parts.length > 1, "the pin needs a multi-file layout")
    parts.foreach { f =>
      val text = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
      assert(text.contains("<root>") && text.endsWith("</root>"),
        s"${f.getName} is not a self-contained rooted document")
    }
    // and the native reader round-trips all rows across the files
    val back = spark.read
      .schema("id LONG, v STRING")
      .option("rowTag", "row").xml(path)
    assert(back.count() == 10)
    assert(back.agg(org.apache.spark.sql.functions.sum(col("id")))
      .head.getLong(0) == 55)
  }

  test("t37 spanRemoval stays job-fused: bounded scheduler-job count end to end") {
    // r19's other deliverable (the r18 weak-flip exit): the loop was
    // restructured from ~4 actions/pass (~17 jobs/pass, 67 total at
    // sf0.1) to 2, measured 45 jobs at sf0.001 AND sf0.1 (the count is
    // SF-invariant because jobs are per-exchange, not per-row; Bench's
    // `cold_diag` reports it on every roll). Scheduler-stall
    // exposure is proportional to the job count, so a silent regression
    // back to the eager-checkpoint / separate-count / separate-merge
    // shape is a perf bug this pins:
    // 55 = measured 45 + headroom for AQE plan-choice variance, far
    // under the old 67.
    val tag = "t37 job-fusion pin"
    JobStats.tagged(spark, tag) {
      graft.queries.TextQueries.spanRemoval(Tables.documents(spark, sfDir))
        .write.format("noop").mode("overwrite").save()
    }
    JobStats.drain(spark)
    val jobs = JobStats.record(spark, tag).fold(0L)(_.jobs)
    assert(jobs >= 10, s"sanity: the pass loop must actually run ($jobs jobs)")
    assert(jobs <= 55,
      s"spanRemoval ran $jobs scheduler jobs (fused shape is ~45; the " +
        "pre-r19 shape was 67) — a de-fusion regression re-opens the " +
        "stall-exposure window that capped four consecutive driver rolls")
  }

  test("j49 feed: the XML text round trip is bit-exact on the double column") {
    import org.apache.spark.sql.functions.{col, expr, sum}
    // the cents checksum in the query only proves round(x*100) agrees;
    // this pins the stronger claim the j45 CSV twin established: the
    // rendered text parses back to the SAME DOUBLE, bit for bit
    SparkEntry.queries("j49_xml_ingest")(spark, sfDir).collect() // feed built
    val back = graft.sources.Ingest.readXmlEvents(spark,
      graft.queries.JaneQueries.xmlFeedPath(sfDir))
      .filter(col("_corrupt_record").isNull)
      .select(col("event_id"), col("value"))
      .localCheckpoint()
    val orig = Tables.events(spark, sfDir)
      .filter(col("event_id") % 19 =!= 0)
      .select(col("event_id"), col("value").as("v0"))
    val joined = back.join(orig, "event_id")
    assert(joined.count() == orig.count())
    assert(joined.filter(expr("NOT (value <=> v0)")).count() == 0,
      "a good element's double must survive the XML text round trip bit-exact")
    // and the parsed floor-second timestamps match the rendered
    // strings. NB the projection must CARRY the value column: XML
    // parsing is projection-pruned, so a projection without the
    // corrupt field never attempts its parse and quarantines NOTHING
    // (measured here — the XML cousin of the CSV corrupt-column-only
    // trap; dropping value from this select silently aggregated all
    // 1000 rows)
    val ts = graft.sources.Ingest.readXmlEvents(spark,
      graft.queries.JaneQueries.xmlFeedPath(sfDir))
      .select(col("ts"), col("value"), col("_corrupt_record"))
      .localCheckpoint()
      .filter(col("_corrupt_record").isNull)
      .agg(sum(expr("unix_timestamp(ts)"))).head.getLong(0)
    val tsExp = Tables.events(spark, sfDir)
      .filter(col("event_id") % 19 =!= 0)
      .agg(sum(expr(
        "unix_timestamp(date_format(ts, 'yyyy-MM-dd HH:mm:ss'))")))
      .head.getLong(0)
    assert(ts == tsExp, "floor-second ts must survive the XML round trip")
  }
}
