package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** Timing scaffolding shared by the workloads. */
object Harness {
  /** Number of set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  /** Runs `f`, logging its wall time to stderr as a progress line. */
  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally System.err.println(f"[perfbench] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Wall seconds of each of `n` runs of `f`. */
  def timed(n: Int)(f: => Unit): Seq[Double] = (1 to n).map { _ =>
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs `body(client)` on one thread per client and waits for all;
    * the first failure is rethrown.
    */
  private def onClients(clients: Int)(body: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => try body(c) catch { case e: Throwable => errors.add(e) },
        s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    errors.asScala.headOption.foreach(e => throw e)
  }

  /** Warm-up: each client makes `steps` calls, so every run warms on the
    * same amount of work. Returns the number of operations.
    */
  def warm(clients: Int, steps: Int)(step: Int => Seq[OpRecord]): Int = {
    val done = new java.util.concurrent.atomic.AtomicInteger()
    onClients(clients)(c => (1 to steps).foreach(_ => done.addAndGet(step(c).size)))
    done.get
  }

  /** Closed loop: each client calls `step(client)` back to back for
    * `seconds`. A client makes at least one call and starts another only
    * while the previous call's duration still fits before the deadline, so
    * a run's length stays near `seconds` even when one call takes most of
    * it. Returns the records of every completed step.
    */
  def closedLoop(clients: Int, seconds: Double)(step: Int => Seq[OpRecord]): Seq[OpRecord] = {
    val deadline = Clock.nowUs + (seconds * 1e6).toLong
    val done = new ConcurrentLinkedQueue[OpRecord]()
    onClients(clients) { c =>
      var last = 0L
      while (Clock.nowUs + last < deadline) {
        val s0 = Clock.nowUs
        step(c).foreach(done.add)
        last = Clock.nowUs - s0
      }
    }
    done.asScala.toSeq
  }

  /** The end-to-end metrics every workload reports. Throughput follows
    * from the closed loop (Little's law: clients / mean latency), so where
    * the window cuts the last operations does not quantize it.
    */
  def endToEnd(res: RunResult, setupS: Seq[Double], ops: Seq[OpRecord], clients: Int): Unit = {
    val walls = ops.map(_.wallMs)
    res.metric("setup_s", Stats.median(setupS), "s")
    res.metric("p50_ms", Stats.percentile(walls, 0.5), "ms")
    res.metric("ops_per_s", clients * 1000.0 * walls.size / walls.sum, "1/s")
    // printed, not gated: too few samples for a p90 with ten beyond it
    res.info("p90_ms") = Json.num(Stats.percentile(walls, 0.9))
  }

  /** Sample counts and timings every result line carries. */
  def describe(res: RunResult, o: Opts, setupS: Seq[Double], warmOps: Int, warmS: Double,
      ops: Seq[OpRecord]): Unit = {
    res.info("setup_runs_s") = Json.arr(setupS.map(Json.num))
    res.info("warmup_ops") = Json.num(warmOps)
    res.info("warmup_s") = Json.num(warmS)
    res.info("samples") = Json.obj(ops.groupBy(_.kind).toSeq.sortBy(_._1)
      .map { case (k, v) => k -> Json.num(v.size) }: _*)
  }
}
