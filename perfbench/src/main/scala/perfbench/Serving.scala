package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.ReentrantLock

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.{col, to_date}

import graft.operators.{DocumentStore, FdsnQuery, Indexers}
import graft.sources.ParquetStore

/** The Jane serving workloads: FDSN reads over parquet index stores built
  * from the generated events, by two closed-loop clients.
  *
  * `fdsn_serve` only reads. On `ingest_mixed` each round of a client's reads
  * also holds one upload: a seeded batch of revised and new event documents
  * that is indexed, upserted onto the current event store and installed,
  * day-partitioned like the set-up store, as the next store version
  * (compacted every [[CompactEvery]] uploads before it is published); the
  * client's next operation reads back ids it just wrote. Reads use the
  * version current when they start, so they never wait for an upload;
  * uploads wait for each other. A version is deleted once it is superseded
  * and no read uses it.
  *
  * The request mix, batch size, compaction interval and hot-pool size are
  * assumptions, not measured Jane traffic (the repository holds no access
  * log): equal shares where there is no source, see README.md.
  */
object Serving {
  val Clients = 2
  /** Each client's operations cycle through these kinds, one of each per
    * round: e = events, c = channels, p = keyset page, l = lookup,
    * u = upload, w = lookup of ids the client's upload just wrote.
    */
  val ReadCycle = "ecpl"
  val IngestCycle = "ecpluw"
  /** Warm-up operations per client: one round, so each client has made
    * every kind of request, an upload included, before the window.
    */
  val WarmupSteps = 6
  val CompactEvery = 4
  val UploadRevised = 500
  val UploadNew = 500
  /** Parameter sets per read kind in the hot pool half the reads use. */
  val HotPool = 8

  sealed trait Req { def kind: String }
  final case class Events(p: FdsnQuery.EventParams) extends Req { def kind = "read.events" }
  final case class Channels(p: FdsnQuery.StationParams) extends Req { def kind = "read.channels" }
  final case class Page(cursorSort: Long, cursorId: Long, limit: Int) extends Req {
    def kind = "read.page"
  }
  final case class Lookup(ids: Seq[Long]) extends Req { def kind = "read.lookup" }
  final case class Upload(batch: Seq[Event]) extends Req { def kind = "upload" }

  /** A response to check once the window closes, against model `version`. */
  final case class Seen(req: Req, version: Int, rows: Seq[String])

  def run(spark: SparkSession, o: Opts, res: RunResult, ingest: Boolean): Unit =
    new Serving(spark, o, res, ingest).run()

  /** Files the scans of an executed query read. */
  def filesRead(df: DataFrame): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }

  def canon(r: Row): String = r.toSeq.map {
    case t: java.sql.Timestamp => Time.micros(t).toString
    case v => String.valueOf(v)
  }.mkString("|")

  def deleteDir(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }

  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }
}

final class Serving(spark: SparkSession, o: Opts, res: RunResult, ingest: Boolean) {
  import Serving._
  import FdsnModel._

  private val tracer = new Tracer(spark.sparkContext, o.trace)
  private val dataDir = s"${o.work}/data"
  private val channelStore = s"${o.work}/stores/channels"
  private def eventStore(version: Int) = s"${o.work}/stores/events/v$version"
  private val uploadLock = new ReentrantLock(true)
  /** The published event store version and the reads using each version. */
  private var current = 0
  private val readers = scala.collection.mutable.Map(0 -> 0)
  /** Model of the store after each acknowledged upload; index = version. */
  @volatile private var versions = Vector.empty[Map[Long, Event]]
  private val indexRows = scala.collection.mutable.Map.empty[Int, Array[Ev]]
  private var channelRows = Seq.empty[Ch]
  private val seen = new ConcurrentLinkedQueue[Seen]()
  private var uploads = 0
  private var uploadedBytes = 0L
  private var storeBytesWritten = 0L
  private val scanFiles = new ConcurrentLinkedQueue[java.lang.Long]()

  private def setup(): Unit = {
    val events = spark.read.parquet(s"$dataDir/events.parquet")
    ParquetStore.writeDayPartitioned(Indexers.EventIndex.attach(events), "time", eventStore(0))
    ParquetStore.installOverwrite(Indexers.ChannelIndex.build(events), channelStore)
  }

  /** One client's seeded request stream. */
  private final class Client(c: Int) {
    private val r = DataGen.rng(o.seed, 100 + c)
    private val hot = DataGen.rng(o.seed, 99)
    private val hotEvents = IndexedSeq.fill(HotPool)(eventParams(hot))
    private val hotStations = IndexedSeq.fill(HotPool)(stationParams(hot))
    private val hotPages = IndexedSeq.fill(HotPool)(pageReq(hot))
    private val hotLookups = IndexedSeq.fill(HotPool)(lookupReq(hot))
    private var n = 0
    private val perKind = scala.collection.mutable.Map.empty[Char, Int]
    private var lastUpload = Seq.empty[Long]
    private var uploadNo = 0

    private def pageReq(x: SplittableRandom): Page = Page(
      1704067200L + (x.nextDouble() * (DataGen.SpanUs / 1000000L + 97 * 3600)).toLong,
      x.nextInt(DataGen.NEvents).toLong, 20 + x.nextInt(81))
    private def lookupReq(x: SplittableRandom): Lookup =
      Lookup(Seq.fill(1 + x.nextInt(20))(x.nextInt(DataGen.NEvents).toLong).distinct)

    private def upload(): Upload = {
      uploadNo += 1
      val base = 1000000L + c * 100000L + uploadNo * 1000L
      val revised = Seq.fill(UploadRevised)(r.nextInt(DataGen.NEvents).toLong).distinct.map { id =>
        // a revision keeps the document's station and type
        versions.head(id).copy(tsUs = DataGen.T0Us + (r.nextDouble() * DataGen.SpanUs).toLong,
          value = DataGen.eventValue(r), props = DataGen.props(r))
      }
      val fresh = (0 until UploadNew).map { j =>
        Event(base + j, DataGen.T0Us + (r.nextDouble() * DataGen.SpanUs).toLong,
          r.nextInt(DataGen.NUsers).toLong, DataGen.EventTypes(r.nextInt(DataGen.EventTypes.size)),
          DataGen.eventValue(r), DataGen.props(r))
      }
      Upload(revised ++ fresh)
    }

    def next(): Req = {
      val cycle = if (ingest) IngestCycle else ReadCycle
      val kind = cycle(n % cycle.size)
      n += 1
      kind match {
        case 'u' =>
          val u = upload()
          lastUpload = u.batch.map(_.eventId)
          u
        case 'w' => Lookup(Seq.fill(10)(lastUpload(r.nextInt(lastUpload.size))).distinct)
        case _ =>
          // within each read kind, hot and fresh parameters alternate
          perKind(kind) = perKind.getOrElse(kind, 0) + 1
          val useHot = perKind(kind) % 2 == 0
          kind match {
            case 'e' => Events(if (useHot) hotEvents(r.nextInt(HotPool)) else eventParams(r))
            case 'c' => Channels(if (useHot) hotStations(r.nextInt(HotPool)) else stationParams(r))
            case 'p' => if (useHot) hotPages(r.nextInt(HotPool)) else pageReq(r)
            case _ => if (useHot) hotLookups(r.nextInt(HotPool)) else lookupReq(r)
          }
      }
    }
  }

  private def acquire(): Int = synchronized {
    readers(current) += 1
    current
  }

  private def release(version: Int): Unit = synchronized {
    readers(version) -= 1
    dropUnused()
  }

  private def publish(version: Int): Unit = synchronized {
    current = version
    readers(version) = 0
    dropUnused()
  }

  private def dropUnused(): Unit =
    readers.filter { case (v, n) => n == 0 && v != current }.keys.foreach { v =>
      readers.remove(v)
      deleteDir(eventStore(v))
    }

  private def read(req: Req, version: Int): Seq[String] = {
    val path = if (req.isInstanceOf[Channels]) channelStore else eventStore(version)
    val idx = tracer.span("sources.read")(ParquetStore.read(spark, path))
    val (df, ordered) = tracer.span("operators.build") {
      req match {
        case Events(p) => (FdsnQuery.events(idx, p).select(EventCols.map(col): _*), true)
        case Channels(p) =>
          (FdsnQuery.channels(idx, p).select(channelCols(p.level).map(col): _*), false)
        case Page(s, id, limit) =>
          (DocumentStore.pageAfter(idx, "updated_s", "event_id", s, id, limit)
            .select(PageCols.map(col): _*), true)
        case Lookup(ids) =>
          (idx.filter(col("event_id").isin(ids: _*)).select(LookupCols.map(col): _*)
            .orderBy("event_id"), true)
        case u: Upload => throw new IllegalArgumentException(u.kind)
      }
    }
    tracer.span("plan")(df.queryExecution.executedPlan)
    val rows = tracer.span("exec")(df.collect()).toSeq.map(canon)
    if (tracer.enabled) scanFiles.add(filesRead(df))
    if (ordered) rows else rows.sorted
  }

  private def freeBlocks(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  private def write(u: Upload, version: Int): Unit = {
    val batch = spark.createDataFrame(u.batch.map(DataGen.eventRow).asJava, DataGen.EventSchema)
    val indexed = tracer.span("operators.index_extract") {
      Indexers.EventIndex.attach(batch).withColumn("p_day", to_date(col("time")))
        .localCheckpoint(eager = true)
    }
    val existing = tracer.span("sources.read")(ParquetStore.read(spark, eventStore(version - 1)))
    val merged = tracer.span("operators.upsert")(DocumentStore.upsert(existing, indexed, "event_id"))
    val path = eventStore(version)
    // one file per day, as a day-partitioned store is written
    tracer.span("sources.install")(
      ParquetStore.installOverwritePartitioned(merged.repartition(col("p_day")), path, "p_day"))
    freeBlocks()
    uploads += 1
    if (tracer.enabled) {
      uploadedBytes += u.batch.map(e => Json.obj("event_id" -> Json.num(e.eventId),
        "ts" -> Json.num(e.tsUs), "user_id" -> Json.num(e.userId),
        "event_type" -> Json.str(e.eventType), "value" -> Json.num(e.value),
        "props" -> Json.str(e.props)).length + 1L).sum
      storeBytesWritten += dirBytes(path)
    }
    if (uploads % CompactEvery == 0) {
      tracer.span("sources.compact")(ParquetStore.compact(spark, path))
      if (tracer.enabled) storeBytesWritten += dirBytes(path)
    }
  }

  /** Executes one request as one operation. */
  private def step(c: Client): Seq[OpRecord] = {
    val req = c.next()
    val ((version, rows), rec) = tracer.op(req.kind) {
      req match {
        case u: Upload =>
          uploadLock.lock()
          try {
            val v = versions.size
            write(u, v)
            versions = versions :+ (versions.last ++ u.batch.map(e => e.eventId -> e))
            publish(v)
            (v, Seq.empty[String])
          } finally uploadLock.unlock()
        case _ =>
          val v = acquire()
          try (v, read(req, v)) finally release(v)
      }
    }
    req match {
      case _: Upload => ()
      case _ => seen.add(Seen(req, version, rows))
    }
    Seq(rec.copy(rows = rows.size.toLong))
  }

  private def expected(s: Seen): Seq[String] = {
    val model = versions(s.version)
    lazy val rows = indexRows.getOrElseUpdate(s.version, model.values.map(Ev).toArray)
    s.req match {
      case Events(p) => events(rows, p)
      case Channels(p) => channels(channelRows, p)
      case Page(cs, id, limit) => page(rows, cs, id, limit)
      case Lookup(ids) => ids.sorted.flatMap(model.get).map(lookupLine)
      case u: Upload => throw new IllegalArgumentException(u.kind)
    }
  }

  def run(): Unit = {
    val events = Harness.phase("generate inputs")(DataGen.writeEvents(spark, o.seed, dataDir))
    versions = Vector(events.map(e => e.eventId -> e).toMap)
    channelRows = channelIndex(events)
    val setupS = Harness.phase("set-up")(Harness.timed(Harness.SetupReps)(setup()))

    val clients = (0 until Clients).map(new Client(_))
    val t0 = System.nanoTime()
    val warmOps = Harness.phase("warm-up")(Harness.warm(Clients, WarmupSteps)(c => step(clients(c))))
    val warmS = (System.nanoTime() - t0) / 1e9
    seen.clear()
    scanFiles.clear()
    val (uploads0, bytes0, written0) = (uploads, uploadedBytes, storeBytesWritten)
    val cg0 = (Codegen.compiles, Codegen.compileNs)
    val ops = Harness.phase("measure")(
      Harness.closedLoop(Clients, o.seconds)(c => step(clients(c))))
    val cg = Layers.CodegenWindow(Codegen.compiles - cg0._1, Codegen.compileNs - cg0._2)
    Harness.phase("check")(checkAll())

    Harness.describe(res, o, setupS, warmOps, warmS, ops)
    res.info("uploads") = Json.num(uploads - uploads0)
    if (o.trace) {
      val files = scanFiles.asScala.map(_.toDouble).toSeq
      val upBytes = uploadedBytes - bytes0
      Layers.record(res, tracer, ops, cg, Map(
        "sources.files_per_read" -> (if (files.isEmpty) 0.0 else files.sum / files.size),
        "sources.write_amp" ->
          (if (upBytes == 0) 0.0 else (storeBytesWritten - written0).toDouble / upBytes),
        "sources.store_mb" -> dirBytes(eventStore(current)) / 1048576.0), o.spans)
    } else Harness.endToEnd(res, setupS, ops, Clients)
  }

  /** Every response against the model version it was served at, then the
    * whole store against the model of all acknowledged uploads.
    */
  private def checkAll(): Unit = {
    seen.asScala.foreach { s =>
      res.check(s.rows == expected(s), s"${s.req.kind} differs from the model: ${s.req}")
    }
    val stored = spark.read.parquet(eventStore(current)).select(StoreCols.map(col): _*)
      .collect().map(canon).sorted.toSeq
    val want = versions.last.values.toSeq.map(e => storeLine(Ev(e))).sorted
    res.check(stored == want,
      s"final store holds ${stored.size} rows, the acknowledged uploads give ${want.size}")
  }
}
