package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A traced interval. Spans of one operation share `op`; `parent` is the
  * enclosing span's id (0 for an operation's root span).
  */
final case class Span(op: Long, id: Long, parent: Long, name: String, startUs: Long, endUs: Long)

/** One measured operation: a client request, an upload or a curation pass. */
final case class OpRecord(id: Long, kind: String, startUs: Long, endUs: Long,
    compiles: Long, rows: Long = 0L) {
  def wallMs: Double = (endUs - startUs) / 1000.0
}

/** Epoch microseconds from the monotonic clock, comparable with the
  * millisecond wall times Spark stamps on listener events.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Engine-side totals for one operation, summed over its Spark jobs. */
final class EngineAgg {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputRows = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Records a span around each call into a graft layer and, through a
  * SparkListener, one child span per Spark job. Spans stay in memory until
  * [[writeSpans]]. With `enabled = false` no listener is installed and
  * [[span]] is a plain call, so the untraced run measures the program alone.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  private val engine = new ConcurrentHashMap[Long, EngineAgg]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val jobOpen = new ConcurrentHashMap[Int, (Long, Long, Long)]()
  @volatile private var drained = false

  def nextId(): Long = ids.incrementAndGet()

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).map(_.toLong)
      op.foreach { o =>
        jobOpen.put(e.jobId, (o, nextId(), e.time * 1000L))
        e.stageIds.foreach(s => stageOp.put(s, o))
        agg(o).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOpen.remove(e.jobId)).foreach { case (o, id, start) =>
        if (o == MarkerOp) drained = true
        else spans.add(Span(o, id, -1L, JobSpan, start, e.time * 1000L))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageOp.get(e.stageInfo.stageId)).foreach(o => agg(o).stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { o =>
        val a = agg(o)
        a.tasks += 1
        a.taskIntervals += ((e.taskInfo.launchTime * 1000L, e.taskInfo.finishTime * 1000L))
        Option(e.taskMetrics).foreach { m =>
          a.taskMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.inputRows += m.inputMetrics.recordsRead
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.diskBytesSpilled
        }
      }
  })

  private def agg(op: Long): EngineAgg = engine.computeIfAbsent(op, _ => new EngineAgg)

  /** Runs one operation under a root span; Spark jobs the calling thread
    * submits meanwhile are tagged with the operation's id.
    */
  def op[T](kind: String)(body: => T): (T, OpRecord) = {
    val id = nextId()
    if (enabled) {
      sc.setLocalProperty(OpKey, id.toString)
      stack.set(List((id, id)))
    }
    val c0 = if (enabled) Codegen.compiles else 0L
    val start = Clock.nowUs
    try {
      val r = body
      val end = Clock.nowUs
      if (enabled) spans.add(Span(id, id, 0L, s"op.$kind", start, end))
      (r, OpRecord(id, kind, start, end, if (enabled) Codegen.compiles - c0 else -1L))
    } finally if (enabled) {
      stack.set(Nil)
      sc.setLocalProperty(OpKey, null)
    }
  }

  /** A span around one call into a layer of graft, named `layer.call`. */
  def span[T](name: String)(body: => T): T =
    if (!enabled || stack.get.isEmpty) body
    else {
      val (op, parent) = stack.get.head
      val id = nextId()
      stack.set((op, id) :: stack.get)
      val start = Clock.nowUs
      try body
      finally {
        spans.add(Span(op, id, parent, name, start, Clock.nowUs))
        stack.set(stack.get.tail)
      }
    }

  /** Blocks until the listener has seen every job submitted so far: the
    * listener bus delivers in order, so a marker job's end comes last.
    */
  def drain(): Unit = if (enabled) {
    sc.setLocalProperty(OpKey, MarkerOp.toString)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(OpKey, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!drained && System.nanoTime() < deadline) Thread.sleep(5)
    require(drained, "listener bus did not drain within 60 s")
  }

  /** All spans, with each job span parented to the innermost layer span of
    * its operation that was open when the job started.
    */
  def allSpans: Seq[Span] = {
    val (jobs, layers) = spans.asScala.toSeq.partition(_.parent == -1L)
    val byOp = layers.groupBy(_.op)
    layers ++ jobs.map { j =>
      val open = byOp.getOrElse(j.op, Nil)
        .filter(s => s.startUs <= j.startUs && j.startUs <= s.endUs)
      j.copy(parent = if (open.isEmpty) j.op else open.maxBy(_.startUs).id)
    }
  }

  def engineFor(op: Long): EngineAgg = Option(engine.get(op)).getOrElse(new EngineAgg)

  def writeSpans(path: String, all: Seq[Span]): Unit = {
    val lines = all.sortBy(s => (s.op, s.startUs, s.id)).map { s =>
      Json.obj("op" -> Json.num(s.op), "id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "start_us" -> Json.num(s.startUs), "end_us" -> Json.num(s.endUs))
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

/** Process-wide whole-stage and expression codegen counters. */
object Codegen {
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}

object Tracer {
  /** Spark local property carrying the operation id to the listener. */
  val OpKey = "perfbench.op"
  val JobSpan = "spark.job"
  private val MarkerOp = -7L

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._1 < x._2)
      .toSeq.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    total + math.max(0L, curE - curS)
  }

  /** Per operation: the self time (µs) of each span name, where a span's
    * self time is its duration minus the part its child layer spans cover.
    * Job spans are not subtracted: a layer's self time includes the Spark
    * jobs it runs, whose split is reported by the engine counters. The root
    * span's self time is the part of the operation no layer span covers; it
    * is reported under "uncovered".
    */
  def selfTimes(all: Seq[Span]): Map[Long, Map[String, Long]] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.op).map { case (op, ss) =>
      op -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).filter(c => c.op == op && c.name != JobSpan)
          .map(c => (c.startUs, c.endUs))
        val self = (s.endUs - s.startUs) - covered(ch, s.startUs, s.endUs)
        (if (s.parent == 0L) "uncovered" else s.name) -> self
      }.groupMapReduce(_._1)(_._2)(_ + _)
    }
  }
}
