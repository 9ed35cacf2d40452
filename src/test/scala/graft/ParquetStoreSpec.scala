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

  test("a successful install sweeps aged install scratch; fresh and slow-write siblings survive") {
    // an install-<id> sibling outlives its publish only when a JVM died
    // mid-write; the next successful install reclaims it
    val parent = Files.createTempDirectory("graft_sweepinst").toString
    val path = parent + "/store"
    val aged = System.currentTimeMillis() - 2 * 3600L * 1000
    val stale = agedScratch(path, "deadbeef", aged)
    // a FRESH sibling (another installer's live tmp) must survive
    val live = new java.io.File(path + ".install-cafebabe")
    assert(live.mkdirs())
    // ... and so must an old-looking dir whose CONTENTS are fresh — the
    // long-write shape (top-level .install- mtime is set at creation,
    // task output lands under _temporary/ later): the age gate keys off
    // the newest recursive mtime
    val slow = slowWrite(path, "0badc0de", aged)
    ParquetStore.installOverwrite(
      Tables.documents(spark, sfDir).select("doc_id"), path)
    assert(spark.read.parquet(path).count() ==
      Tables.documents(spark, sfDir).count())
    assert(!stale.exists(), "aged scratch must be swept")
    assert(live.exists(), "a fresh sibling tmp must never be touched")
    assert(slow.exists(),
      "an in-flight write (fresh contents under an old dir) must survive")
    live.delete()
    org.apache.commons.io.FileUtils.deleteDirectory(slow)
    assert(!new java.io.File(path + ".old").exists())
  }

  test("aged orphans of a never-built store are swept on both buildIfStale branches; " +
      "fresh and in-flight siblings survive") {
    // a store whose build keeps failing is never installed, so only
    // buildIfStale's own sweep reclaims the orphans its crashed builds left
    val parent = Files.createTempDirectory("graft_orphan").toString
    val path = parent + "/store" // never created: the build always throws
    val aged = System.currentTimeMillis() - 2 * 3600L * 1000
    val orphan = agedScratch(path, "aaaa1111", aged)
    val fresh = agedScratch(path, "bbbb2222", System.currentTimeMillis())
    val slow = slowWrite(path, "cccc3333", aged)
    val meta = parent + "/store.meta"
    intercept[RuntimeException] {
      ParquetStore.buildIfStale(meta, "v1", Seq(path)) {
        throw new RuntimeException("build crash")
      }
    }
    assert(!new java.io.File(path).exists())
    assert(!new java.io.File(meta).exists(), "a failed build must not validate")
    assert(!orphan.exists(), "an aged store-less orphan must be swept")
    assert(fresh.exists() && slow.exists(), "fresh and in-flight siblings must survive")

    // the valid branch sweeps too: a store and marker that no publish
    // wrote (so no install-time sweep ran) and a new aged orphan
    assert(new java.io.File(path).mkdirs())
    Files.write(java.nio.file.Paths.get(meta), "v1".getBytes("UTF-8"))
    val orphan2 = agedScratch(path, "dddd4444", aged)
    var built = false
    ParquetStore.buildIfStale(meta, "v1", Seq(path)) { built = true }
    assert(!built, "valid marker + existing store must not rebuild")
    assert(!orphan2.exists(), "the valid-marker serve must sweep an aged orphan")
    assert(fresh.exists() && slow.exists(), "fresh and in-flight siblings must survive")
  }

  /** A `path.install-<suffix>` dir holding one file, every entry's mtime at `t`. */
  private def agedScratch(path: String, suffix: String, t: Long): java.io.File = {
    val d = new java.io.File(path + ".install-" + suffix)
    assert(d.mkdirs())
    Files.write(d.toPath.resolve("part-junk"), "x".getBytes("UTF-8"))
    assert(d.toPath.resolve("part-junk").toFile.setLastModified(t))
    assert(d.setLastModified(t))
    d
  }

  /** A `path.install-<suffix>` dir aged `t` whose `_temporary/` task output is fresh. */
  private def slowWrite(path: String, suffix: String, t: Long): java.io.File = {
    val d = new java.io.File(path + ".install-" + suffix)
    assert(new java.io.File(d, "_temporary").mkdirs())
    Files.write(d.toPath.resolve("_temporary").resolve("task-part"),
      "y".getBytes("UTF-8"))
    assert(d.setLastModified(t))
    d
  }
}
