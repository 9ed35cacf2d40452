package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-query engine stats: one SparkListener per SparkContext sums the
  * jobs, stages and tasks run under the tag a [[tagged]] block sets as a
  * Spark local property, and the walls of the [[step]]s inside it. Local
  * properties travel with every job the tagging thread submits, broadcast
  * and subquery jobs from Spark's own pools included, so a query's eager
  * loop jobs and its sink job land under one tag.
  */
object JobStats {

  /** One tag's totals: `taskMs` sums TaskInfo.duration, `runMs`
    * executorRunTime, `gcMs` jvmGCTime (run_ms flat under a growing wall
    * means scheduler gaps); `steps` are (label, seconds) in run order. */
  final case class Record(jobs: Long, stages: Long, tasks: Long,
      taskMs: Long, runMs: Long, gcMs: Long, steps: Seq[(String, Double)]) {
    def counts: Seq[Long] = Seq(jobs, stages, tasks, taskMs, runMs, gcMs)
  }

  private val TagKey = "graft.tag"
  private val markerIds = new AtomicLong

  /** `c` holds [[Record.counts]] in order; `steps` label -> nanos. */
  private final class Totals {
    val c = new AtomicLongArray(6)
    val steps = new java.util.LinkedHashMap[String, java.lang.Long]()
  }

  private final class Listener extends SparkListener {
    val totals = new ConcurrentHashMap[String, Totals]()
    val markers = new ConcurrentHashMap[String, CountDownLatch]()
    private val markerJobs = new ConcurrentHashMap[Integer, CountDownLatch]()
    private val stageTag = new ConcurrentHashMap[Integer, String]()
    def of(tag: String): Totals = totals.computeIfAbsent(tag, _ => new Totals)
    private def add(stage: Int, i: Int, v: Long): Unit =
      Option(stageTag.get(stage)).foreach(of(_).c.addAndGet(i, v))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).foreach { tag =>
        Option(markers.remove(tag)) match {
          case Some(done) => markerJobs.put(e.jobId, done)
          case None =>
            of(tag).c.incrementAndGet(0)
            e.stageIds.foreach(stageTag.put(_, tag))
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(markerJobs.remove(e.jobId)).foreach(_.countDown())
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(e.stageInfo.stageId, 1, 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add(e.stageId, 2, 1)
      if (e.taskInfo != null) add(e.stageId, 3, e.taskInfo.duration)
      if (e.taskMetrics != null) {
        add(e.stageId, 4, e.taskMetrics.executorRunTime)
        add(e.stageId, 5, e.taskMetrics.jvmGCTime)
      }
    }
  }

  // install-once guard: one listener for the live SparkContext
  private var installed: (SparkContext, Listener) = _
  private def listener(sc: SparkContext, install: Boolean): Option[Listener] = synchronized {
    if (install && (installed == null || (installed._1 ne sc))) {
      installed = (sc, new Listener)
      sc.addSparkListener(installed._2)
    }
    Option(installed).collect { case (s, l) if s eq sc => l }
  }

  /** Runs `body` with the jobs it submits counted under `tag`, then
    * restores the previous tag (or none). */
  def tagged[A](spark: SparkSession, tag: String)(body: => A): A = {
    val sc = spark.sparkContext
    listener(sc, install = true)
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }

  /** Runs `body`, adding its wall to the current tag's `label` step; the
    * plain by-name call outside a tag. Never installs the listener. */
  def step[A](spark: SparkSession, label: String)(body: => A): A = {
    val tag = spark.sparkContext.getLocalProperty(TagKey)
    val l = if (tag == null) None else listener(spark.sparkContext, install = false)
    l.fold(body) { on =>
      val t0 = System.nanoTime()
      try body
      finally {
        val ns = java.lang.Long.valueOf(System.nanoTime() - t0)
        val steps = on.of(tag).steps
        steps.synchronized(steps.merge(label, ns, (a, b) => a + b))
      }
    }
  }

  /** Blocks until the listener has seen every job submitted so far: the
    * bus delivers in order, so an uncounted marker job ends after them.
    * A no-op before the first [[tagged]]. */
  def drain(spark: SparkSession): Unit = {
    listener(spark.sparkContext, install = false).foreach { l =>
      val tag = s"graft.drain.${markerIds.incrementAndGet()}"
      val done = new CountDownLatch(1)
      l.markers.put(tag, done)
      tagged(spark, tag)(spark.sparkContext.parallelize(Seq(1), 1).count())
      require(done.await(60, TimeUnit.SECONDS), "JobStats: listener bus did not drain within 60 s")
    }
  }

  /** `tag`'s totals so far; exact after [[drain]]. */
  def record(spark: SparkSession, tag: String): Option[Record] =
    listener(spark.sparkContext, install = false).flatMap(l => Option(l.totals.get(tag))).map { t =>
      import scala.jdk.CollectionConverters._
      val steps = t.steps.synchronized(t.steps.asScala.toSeq).map { case (k, ns) => (k, ns / 1e9) }
      Record(t.c.get(0), t.c.get(1), t.c.get(2), t.c.get(3), t.c.get(4), t.c.get(5), steps)
    }
}
