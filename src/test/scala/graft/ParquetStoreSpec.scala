package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.ParquetStore

class ParquetStoreSpec extends SparkSpec {

  test("day-partitioned store prunes partitions for time predicates") {
    val dir = Files.createTempDirectory("graft_store_").toString
    val events = Tables.events(spark, sfDir)
    ParquetStore.writeDayPartitioned(events, "ts", dir)

    // layout: one directory per day
    val days = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("p_day="))
    assert(days.length > 1, s"expected day directories, got ${days.toSeq}")

    val pruned = ParquetStore.read(spark, dir).filter(col("p_day") === "2024-01-05")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p_day"),
      s"expected partition pruning in plan:\n$plan")
    val expected = events.filter(to_date(col("ts")) === "2024-01-05").count()
    assert(pruned.count() == expected)
  }

  /** A flat and a day-partitioned store of the event index, each written
    * by ParquetStore. */
  private lazy val layouts: Seq[(String, String)] = {
    val index = graft.operators.Indexers.EventIndex.attach(Tables.events(spark, sfDir))
    val root = Files.createTempDirectory("graft_layouts_").toString
    ParquetStore.installOverwrite(index, s"$root/flat")
    ParquetStore.writeDayPartitioned(index, "time", s"$root/day")
    Seq("flat", "day").map(l => l -> s"$root/$l")
  }

  private def jobs(tag: String)(body: => Any): Long = {
    JobStats.tagged(spark, tag)(body)
    JobStats.drain(spark)
    JobStats.record(spark, tag).fold(0L)(_.jobs)
  }

  test("ParquetStore.read plans a store with no schema job") {
    for ((layout, path) <- layouts) {
      val tag = s"ParquetStoreSpec read $layout"
      val read = jobs(s"$tag store")(ParquetStore.read(spark, path).queryExecution.analyzed)
      // spark.read.parquet infers the schema in a job of its own
      val inferred = jobs(s"$tag inferred")(spark.read.parquet(path))
      assert(read == 0 && inferred == 1,
        s"$layout store: read $read, inferred $inferred jobs")
    }
  }

  test("ParquetStore.read keeps spark.read.parquet's schema on stores it writes") {
    for ((layout, path) <- layouts)
      assert(ParquetStore.read(spark, path).schema == spark.read.parquet(path).schema, layout)
  }

  test("ParquetStore.read keeps spark.read.parquet's schema on every table at three SFs") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    try for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- tables) {
      // events is read as Tables.events reads it
      spark.conf.set(key, (t == "events").toString)
      val path = s"${new java.io.File(sfDir).getParent}/$sf/$t.parquet"
      assert(ParquetStore.read(spark, path).schema == spark.read.parquet(path).schema, s"$sf $t")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("ParquetStore.read fails like spark.read.parquet on a missing path and an empty dir") {
    val root = Files.createTempDirectory("graft_read_err_").toString
    val empty = new java.io.File(s"$root/empty")
    assert(empty.mkdir() && new java.io.File(empty, "_SUCCESS").createNewFile())
    for (path <- Seq(s"$root/missing", empty.getPath)) {
      val want = intercept[Exception](spark.read.parquet(path)).getClass
      val got = intercept[Exception](ParquetStore.read(spark, path)).getClass
      assert(got == want, path)
    }
  }

  /** `df` written by [[ParquetStore.writeBucketedAt]] to a fresh temp
    * dir and attached as `table` by [[ParquetStore.registerBucketed]] —
    * the q45 serving path. */
  private def bucketedTable(df: org.apache.spark.sql.DataFrame, table: String,
      bucketCol: String, buckets: Int): org.apache.spark.sql.DataFrame = {
    val path = Files.createTempDirectory(s"graft_$table").toString + "/store"
    ParquetStore.writeBucketedAt(df, path, bucketCol, buckets)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    ParquetStore.registerBucketed(spark, table, path, df.schema.toDDL, bucketCol, buckets)
    spark.table(table)
  }

  test("co-bucketed tables join without a shuffle") {
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled", "true")
    val bjt = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      // force a sort-merge join and a stable (non-adaptive) plan to inspect
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = bucketedTable(Tables.lineitem(spark, sfDir), "lineitem_b", "l_orderkey", 8)
        .join(bucketedTable(Tables.orders(spark, sfDir), "orders_b", "o_orderkey", 8),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, sfDir).count())
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bjt)
    }
  }

  test("persisted LSH index: corpus side of the incremental band join is shuffle-free") {
    // d14's 100 TB claim, proven on the plan: write the corpus band table
    // bucketed by its bucket key and the daily new-batch join shuffles ONLY
    // the batch side — the corpus (the 100 TB side) is read pre-partitioned.
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled")
    val bjt = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val docs = Tables.documents(spark, sfDir)
      val bands = graft.operators.Dedup.bandSignatures(docs, 16, 2)
        .withColumn("key", concat_ws("-", col("band"), col("sig")))
      val corpus = bucketedTable(
        bands.filter(col("doc_id") % 10 =!= 7).select("doc_id", "key"),
        "lsh_index_b", "key", 8).withColumnRenamed("doc_id", "dup_of")
      val batch = bands.filter(col("doc_id") % 10 === 7)
        .select(col("doc_id").as("new_id"), col("key"))
      val joined = corpus.join(batch, "key")
      val plan = joined.queryExecution.executedPlan.toString
      val nExchanges = plan.linesIterator.count(_.contains("Exchange"))
      assert(nExchanges == 1,
        s"expected exactly one Exchange (the batch side), got $nExchanges:\n$plan")
      // the bucketed join finds exactly the candidate set d14 computes
      val got = joined.select(col("new_id"), col("dup_of")).distinct()
      val want = graft.operators.Dedup.minHashLshCrossPairs(
        docs, col("doc_id") % 10 === 7, 16, 2)
      assert(got.except(want).count() == 0 && want.except(got).count() == 0)
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bjt)
    }
  }

  test("compact collapses a fragmented store without changing its content") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact").toString + "/docs"
    val docs = graft.Tables.documents(spark, sfDir)
    docs.repartition(50).write.parquet(dir)
    def files = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val before = files
    assert(before >= 40, s"fixture should be fragmented, got $before files")
    val n = ParquetStore.compact(spark, dir, targetBytes = 1L << 30)
    assert(n == 1 && files == 1, s"expected 1 compacted file, got $files")
    // compaction is pure layout: content identical, scratch/aside dirs gone
    val got = spark.read.parquet(dir).orderBy("doc_id").collect().toSeq
    assert(got == docs.orderBy("doc_id").collect().toSeq)
    val siblings = new java.io.File(dir).getParentFile.list().toSeq
    assert(!siblings.exists(_.contains(".install-")), s"scratch left: $siblings")
    assert(!new java.io.File(dir + ".old").exists())
    // interrupted-swap injection (the upsertSink discipline): store moved
    // aside, install never happened — the next compact must heal first
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".old")))
    val n2 = ParquetStore.compact(spark, dir, targetBytes = 1L << 30)
    assert(n2 == 1)
    assert(spark.read.parquet(dir).orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
    assert(!new java.io.File(dir + ".old").exists())
  }

  test("publish heals an interrupted swap before its writer runs; heal is idempotent") {
    val parent = Files.createTempDirectory("graft_publish_heal").toFile
    val path = parent.getPath + "/store"
    ParquetStore.installOverwrite(spark.range(5).toDF("id"), path)
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".old")))
    ParquetStore.heal(spark, path)
    ParquetStore.heal(spark, path)
    assert(parent.list().toSet == Set("store"))
    val seen = ParquetStore.publish(spark, path) { tmp =>
      val n = spark.read.parquet(path).count()
      spark.range(7).toDF("id").write.parquet(tmp)
      n
    }
    assert(seen == 5, "the writer must see the healed store")
    assert(spark.read.parquet(path).count() == 7)
    assert(parent.list().toSet == Set("store"))
  }

  test("a failed install leaves no scratch dirs and no catalog junk (r13 ADVICE)") {
    val parent = Files.createTempDirectory("graft_failinst").toString
    val path = parent + "/store"
    // a df that throws mid-write: the install must surface the error
    // AND delete its .install-<uuid> scratch dir
    val bad = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        expr("CAST(raise_error('boom') AS STRING)").as("x"))
    intercept[Exception] { ParquetStore.installOverwrite(bad, path) }
    def leftovers = new java.io.File(parent).listFiles().toSeq.map(_.getName)
    assert(!new java.io.File(path).exists(), "failed install must not publish")
    assert(!leftovers.exists(_.contains(".install-")),
      s"scratch dir leaked: $leftovers")
    // same for the bucketed writer: scratch dir AND the throwaway
    // catalog entry must both be gone after a failed build
    intercept[Exception] {
      ParquetStore.writeBucketedAt(bad, path, "doc_id", buckets = 4)
    }
    assert(!leftovers.exists(_.contains(".install-")),
      s"bucketed scratch dir leaked: $leftovers")
    val tables = spark.sessionState.catalog.listTables("default").map(_.table)
    assert(!tables.exists(_.startsWith("graft_bucketed_build_")),
      s"throwaway catalog entry leaked: $tables")
    // and a SUCCESSFUL install still works after the failures
    ParquetStore.installOverwrite(
      Tables.documents(spark, sfDir).select("doc_id"), path)
    assert(spark.read.parquet(path).count() ==
      Tables.documents(spark, sfDir).count())
    assert(!leftovers.exists(_.contains(".install-")), s"leftovers: $leftovers")
  }

  test("a successful install sweeps a prior run's kept recovery copy (r14)") {
    // publish keeps a FULLY-WRITTEN tmp when the swap failed after
    // the live store was moved aside (the r13 ADVICE: the fresh build
    // must not be the copy that's deleted) — but once a LATER install
    // succeeds, that recovery copy is stale and must be reclaimed, or
    // a full store copy leaks under /tmp/graft_stores forever.
    val parent = Files.createTempDirectory("graft_sweepinst").toString
    val path = parent + "/store"
    val stale = new java.io.File(path + ".install-deadbeef")
    assert(stale.mkdirs())
    Files.write(stale.toPath.resolve("part-junk"), "x".getBytes("UTF-8"))
    // the sweep is AGE-GATED (1 h) so it can never race another JVM's
    // in-flight install of the same path — age the fake copy past it.
    // The gate keys off the NEWEST RECURSIVE mtime (r15 ADVICE), so
    // every entry must be aged, not just the top-level dir
    val aged = System.currentTimeMillis() - 2 * 3600L * 1000
    assert(stale.toPath.resolve("part-junk").toFile.setLastModified(aged))
    assert(stale.setLastModified(aged))
    // a FRESH sibling (another installer's live tmp) must survive
    val live = new java.io.File(path + ".install-cafebabe")
    assert(live.mkdirs())
    // ... and so must an old-looking dir whose CONTENTS are fresh — the
    // long-write shape (top-level .install- mtime is set at creation,
    // task output lands under _temporary/ later), which the r14
    // top-level-mtime gate would have deleted mid-write (r15 ADVICE)
    val slow = new java.io.File(path + ".install-0badc0de")
    assert(new java.io.File(slow, "_temporary").mkdirs())
    Files.write(slow.toPath.resolve("_temporary").resolve("task-part"),
      "y".getBytes("UTF-8")) // fresh mtime
    assert(slow.setLastModified(aged)) // top level looks age-expired
    ParquetStore.installOverwrite(
      Tables.documents(spark, sfDir).select("doc_id"), path)
    assert(spark.read.parquet(path).count() ==
      Tables.documents(spark, sfDir).count())
    assert(!stale.exists(), "stale recovery copy must be swept")
    assert(live.exists(), "a fresh sibling tmp must never be touched")
    assert(slow.exists(),
      "an in-flight write (fresh contents under an old dir) must survive")
    live.delete()
    org.apache.commons.io.FileUtils.deleteDirectory(slow)
    assert(!new java.io.File(path + ".old").exists())
  }

  test("a recorded kept recovery copy is reclaimed regardless of age (r15 ADVICE)") {
    // the r14 leak: swap fails (copy kept), the next run rebuilds WITHIN
    // the 1 h gate — the copy is younger than the gate, survives the
    // install-time sweep, and buildIfStale's now-valid marker means no
    // further install ever runs, so the full-store copy leaks forever.
    // The fix records the kept copy's name in a `.install-kept` marker;
    // a later SUCCESS proves it stale and reclaims it regardless of age.
    val parent = Files.createTempDirectory("graft_keptinst").toString
    val path = parent + "/store"
    val kept = new java.io.File(path + ".install-12ab34cd")
    assert(kept.mkdirs())
    Files.write(kept.toPath.resolve("part-junk"), "x".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(path + ".install-kept"),
      "store.install-12ab34cd".getBytes("UTF-8"))
    // fresh mtime on purpose: the age gate must NOT protect it
    ParquetStore.installOverwrite(
      Tables.documents(spark, sfDir).select("doc_id"), path)
    assert(!kept.exists(), "recorded kept copy must be reclaimed on success")
    assert(!new java.io.File(path + ".install-kept").exists(),
      "the kept-copy marker must be consumed")

    // ... and on buildIfStale's VALID-marker (no-rebuild) path too: the
    // serve-time sweep is what closes the leak once the marker validates
    val kept2 = new java.io.File(path + ".install-56ef78ab")
    assert(kept2.mkdirs())
    Files.write(kept2.toPath.resolve("part-junk"), "x".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(path + ".install-kept"),
      "store.install-56ef78ab".getBytes("UTF-8"))
    val meta = parent + "/store.meta"
    Files.write(java.nio.file.Paths.get(meta), "v1".getBytes("UTF-8"))
    var built = false
    ParquetStore.buildIfStale(meta, "v1", Seq(path)) { built = true }
    assert(!built, "valid marker + existing store must not rebuild")
    assert(!kept2.exists(),
      "valid-marker serve must reclaim the recorded kept copy")
    assert(!new java.io.File(path + ".install-kept").exists())

    // a corrupt marker naming something that is NOT this store's
    // install scratch must never delete it
    val bystander = new java.io.File(parent + "/other-dir")
    assert(bystander.mkdirs())
    Files.write(java.nio.file.Paths.get(path + ".install-kept"),
      "other-dir".getBytes("UTF-8"))
    ParquetStore.buildIfStale(meta, "v1", Seq(path)) { built = true }
    assert(!built)
    assert(bystander.exists(), "a corrupt marker must not delete bystanders")
    assert(!new java.io.File(path + ".install-kept").exists(),
      "a corrupt marker is still consumed")
  }

  test("day-old orphans of a NEVER-built store are swept; fresh + kept survive (r16)") {
    // the r15 ADVICE leak: a store whose build keeps crashing is never
    // valid and never successfully installed, so the (valid-branch-only)
    // sweep never ran and its scratch leaked under /tmp forever. The
    // sweep now runs on BOTH buildIfStale branches with a store-less
    // second-tier 24 h gate: a day-old orphan cannot be an in-flight
    // write, while the marker-recorded kept copy (possibly the freshest
    // complete data in the mid-recovery state) always survives store-less.
    val parent = Files.createTempDirectory("graft_orphan").toString
    val path = parent + "/store" // never created: the build always throws
    def scratch(suffix: String, ageMs: Long): java.io.File = {
      val d = new java.io.File(path + ".install-" + suffix)
      assert(d.mkdirs())
      Files.write(d.toPath.resolve("part-junk"), "x".getBytes("UTF-8"))
      val t = System.currentTimeMillis() - ageMs
      assert(d.toPath.resolve("part-junk").toFile.setLastModified(t))
      assert(d.setLastModified(t))
      d
    }
    val dayOld = scratch("aaaa1111", 25 * 3600L * 1000)
    val hoursOld = scratch("bbbb2222", 2 * 3600L * 1000) // inside the 24 h tier
    val keptOld = scratch("cccc3333", 25 * 3600L * 1000) // recorded → protected
    Files.write(java.nio.file.Paths.get(path + ".install-kept"),
      "store.install-cccc3333".getBytes("UTF-8"))
    val meta = parent + "/store.meta"
    intercept[RuntimeException] {
      ParquetStore.buildIfStale(meta, "v1", Seq(path)) {
        throw new RuntimeException("build crash")
      }
    }
    assert(!new java.io.File(path).exists())
    assert(!dayOld.exists(), "a day-old store-less orphan must be swept")
    assert(hoursOld.exists(),
      "a sibling inside the 24 h store-less tier must survive")
    assert(keptOld.exists(),
      "the marker-recorded kept copy must survive store-less at ANY age")
    assert(new java.io.File(path + ".install-kept").exists(),
      "the marker must survive with its kept copy (store-less)")
  }

  test("the live-tier age sweep spares a marker-recorded kept copy (r17)") {
    // the r16 ADVICE race: sweepInstallScratch's kept-copy branch runs,
    // finds no marker, then a CONCURRENT installer's swap fails — it
    // moves the live store back, writes the marker, and keeps its
    // recovery copy, whose recursive mtimes can already exceed the 1 h
    // gate (rename preserves file mtimes). The age tier (sampled
    // live=true) would then sweep the just-kept copy and leave a
    // dangling marker. The fix re-reads the marker inside the age tier:
    // the recorded name is excluded in BOTH tiers. Constructed here by
    // driving the extracted age tier directly with the post-race state.
    val parent = Files.createTempDirectory("graft_livekept").toString
    val path = parent + "/store"
    val store = new java.io.File(path)
    assert(store.mkdirs()) // live store present → the 1 h tier applies
    Files.write(store.toPath.resolve("part-0"), "d".getBytes("UTF-8"))
    val aged = System.currentTimeMillis() - 2 * 3600L * 1000
    def agedScratch(suffix: String): java.io.File = {
      val d = new java.io.File(path + ".install-" + suffix)
      assert(d.mkdirs())
      Files.write(d.toPath.resolve("part-junk"), "x".getBytes("UTF-8"))
      assert(d.toPath.resolve("part-junk").toFile.setLastModified(aged))
      assert(d.setLastModified(aged))
      d
    }
    val keptAged = agedScratch("12ab34cd") // recorded → must survive
    val orphanAged = agedScratch("ee44ff55") // unrecorded → swept
    Files.write(java.nio.file.Paths.get(path + ".install-kept"),
      "store.install-12ab34cd".getBytes("UTF-8"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    ParquetStore.sweepAgedSiblings(fs, new org.apache.hadoop.fs.Path(path))
    assert(!orphanAged.exists(), "an unrecorded aged orphan still sweeps")
    assert(keptAged.exists(),
      "the marker-recorded kept copy must survive the LIVE 1 h tier")
    assert(new java.io.File(path + ".install-kept").exists(),
      "its marker must survive with it (no dangling marker)")
    assert(store.exists(), "the live store is never touched")
  }

  test("a store-less DANGLING kept marker is consumed once day-old (r18)") {
    // the r17 ADVICE: a marker whose recorded dir no longer exists is
    // excluded from the sibling sweep by name and only the kept-copy
    // branch (live store required) ever consumes markers — so in the
    // store-less tier a stale marker file persisted indefinitely. A
    // day-old dangling marker cannot belong to an in-flight install;
    // a young one may be mid-race and must wait.
    val parent = Files.createTempDirectory("graft_dangling").toString
    val path = parent + "/store" // never created: store-less tier
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val marker = java.nio.file.Paths.get(path + ".install-kept")
    Files.write(marker, "store.install-deadbeef".getBytes("UTF-8"))
    // young dangling marker: survives (could be mid-race)
    ParquetStore.sweepAgedSiblings(fs, new org.apache.hadoop.fs.Path(path))
    assert(marker.toFile.exists(),
      "a YOUNG dangling marker must survive (possible mid-race state)")
    // day-old dangling marker: consumed
    assert(marker.toFile.setLastModified(
      System.currentTimeMillis() - 25 * 3600L * 1000))
    ParquetStore.sweepAgedSiblings(fs, new org.apache.hadoop.fs.Path(path))
    assert(!marker.toFile.exists(),
      "a day-old dangling marker must be consumed in the store-less tier")
    // a day-old marker whose recorded dir EXISTS keeps protecting it
    val keptDir = new java.io.File(path + ".install-deadbeef")
    assert(keptDir.mkdirs())
    Files.write(keptDir.toPath.resolve("part-0"), "x".getBytes("UTF-8"))
    Files.write(marker, "store.install-deadbeef".getBytes("UTF-8"))
    assert(marker.toFile.setLastModified(
      System.currentTimeMillis() - 25 * 3600L * 1000))
    ParquetStore.sweepAgedSiblings(fs, new org.apache.hadoop.fs.Path(path))
    assert(marker.toFile.exists() && keptDir.exists(),
      "a marker with a live recorded dir is NOT dangling — both survive")
  }

  test("a racy per-delete marker read skips ONE delete, not the sweep (r18)") {
    // the r17 ADVICE: recordedKept() re-reads the marker immediately
    // before each delete; a concurrent sweep consuming the marker
    // between fs.exists and the read throws, and that throw previously
    // reached the outer catch — aborting deletion of ALL remaining aged
    // orphans (the same mid-iteration failure mode the r16 per-sibling
    // mtime guard closed). Now a failed re-read is treated as "marker
    // present" for that sibling only and the loop continues.
    val parent = Files.createTempDirectory("graft_flaky").toString
    val path = parent + "/store"
    val store = new java.io.File(path)
    assert(store.mkdirs()) // live store → 1 h tier
    Files.write(store.toPath.resolve("part-0"), "d".getBytes("UTF-8"))
    val aged = System.currentTimeMillis() - 2 * 3600L * 1000
    def agedScratch(suffix: String): java.io.File = {
      val d = new java.io.File(path + ".install-" + suffix)
      assert(d.mkdirs())
      Files.write(d.toPath.resolve("part-junk"), "x".getBytes("UTF-8"))
      assert(d.toPath.resolve("part-junk").toFile.setLastModified(aged))
      assert(d.setLastModified(aged))
      d
    }
    val orphanA = agedScratch("aaaa0001")
    val orphanB = agedScratch("bbbb0002")
    Files.write(java.nio.file.Paths.get(path + ".install-kept"),
      "store.install-cccc0003".getBytes("UTF-8"))
    // wrap the local fs: the SECOND open of the marker (= the first
    // per-delete re-read; the sweep-start read is the first) throws,
    // simulating a concurrent sweep consuming the marker mid-iteration
    val base = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    var markerOpens = 0
    val flaky = new org.apache.hadoop.fs.FilterFileSystem(base) {
      override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
          : org.apache.hadoop.fs.FSDataInputStream = {
        if (f.getName.endsWith(".install-kept")) {
          markerOpens += 1
          if (markerOpens == 2)
            throw new java.io.FileNotFoundException(s"racy marker read: $f")
        }
        super.open(f, bufferSize)
      }
    }
    // the wrapping constructor does not carry the conf, and the
    // single-arg open(Path) the marker reader uses reads it
    flaky.setConf(spark.sparkContext.hadoopConfiguration)
    ParquetStore.sweepAgedSiblings(flaky, new org.apache.hadoop.fs.Path(path))
    assert(markerOpens >= 2, s"the racy read must have been exercised: $markerOpens")
    val survivors = Seq(orphanA, orphanB).count(_.exists())
    assert(survivors == 1,
      s"exactly one orphan skips (its re-read threw) and the OTHER still sweeps " +
        s"— the old behavior aborted the whole loop and left both ($survivors left)")
    assert(store.exists(), "the live store is never touched")
  }
}
