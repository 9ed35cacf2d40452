package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark main. Isolation mode (round 5): each query gets a
  * warmup run (codegen/broadcast/scan-listing costs land there), a GC
  * fence, then `SPARK_GRAFT_BENCH_REPS` timed runs; the reported time is
  * the MIN (the standard noise-robust estimator) and the per-query
  * `spread` = (max-min)/min over the timed runs estimates the noise
  * floor, so a 2x move between rounds is adjudicable as signal vs
  * interleaving noise (round 4 could not tell — e.g. its d12 1.35→2.62).
  * Key order in the JSON puts `queries`/`spread`/`cold` LAST: the driver
  * stores a front-truncated tail, so the per-query data is what survives.
  * `cold` (r11) is each query's warmup-min — the in-run first-execution
  * time that the long-tail cap adjudicates against — recorded so a cap
  * event is diagnosable from the artifact (the r10 t37 lesson).
  */
object Bench {

  /** The vs_prev regression-flag rule, factored out of main so
    * BenchGuardSpec can pin it (r11 — this logic has had two blind-spot
    * bugs across rounds: capped entries silently dropped, then
    * consecutively-capped entries silently dropped).
    *
    * `results` rows are (warm-min, spread, capped, cold); prev maps come
    * from the committed BENCH_full.json. Returns (name, ratio, capped)
    * sorted worst-first. Rules: an errored query (warm < 0) never
    * flags; a currently-CAPPED query flags unconditionally against its
    * prior committed time (warm-min, or cold if the prior roll also
    * capped it — prev `queries` stores cold for capped entries);
    * a now-uncapped query with a prev-capped prior is excluded
    * (warm-vs-prior-cold reads as a bogus improvement, never a
    * regression); everything else flags above 1.5x prior warm-min (the
    * r9-calibrated noise threshold).
    */
  private[graft] def vsPrevFlags(
      results: Map[String, (Double, Double, Boolean, Double)],
      prevQueries: Map[String, Double],
      prevCapped: Set[String]): Seq[(String, Double, Boolean)] =
    results.toSeq.collect {
      case (k, (cur, _, isCapped, _))
        if cur >= 0 && prevQueries.get(k).exists(_ > 0) &&
          (isCapped || !prevCapped.contains(k)) &&
          (isCapped || cur > 1.5 * prevQueries(k)) =>
        (k, math.round(cur / prevQueries(k) * 100) / 100.0, isCapped)
    }.sortBy(-_._2)

  /** Routes [[vsPrevFlags]] output for presentation (r12, the r11
    * ADVICE): a capped query whose cold IMPROVED (or held) versus the
    * prior roll must not print as `BENCH REGRESSION FLAG 0.5x` nor land
    * in the artifact's `flagged` map with a sub-1 "regression" ratio —
    * it routes to a separate `still_capped` map that keeps the capped
    * tag in the SURVIVING artifact (stderr is driver-truncated).
    * Only a CONSECUTIVELY-capped entry may take that route (r13, the
    * r12 ADVICE): a NEWLY capped query with ratio <= 1 — possible when
    * SPARK_GRAFT_BENCH_CAP_S is lowered between rolls — is a fresh cap
    * event and must stay in the regressions map, not print "STILL
    * CAPPED ... not a regression". Returns (regressions,
    * consecutively-capped-but-not-worse). */
  private[graft] def splitFlags(flags: Seq[(String, Double, Boolean)],
      prevCapped: Set[String])
      : (Seq[(String, Double, Boolean)], Seq[(String, Double, Boolean)]) =
    flags.partition { case (k, ratio, capped) =>
      !capped || ratio > 1.0 || !prevCapped.contains(k) }

  /** Cap-retry artifact fragment (r18, the r17 verdict item 1): three
    * consecutive driver rolls landed in degraded host windows, and each
    * capped slot's transience could only be proven OFF-artifact (§6b
    * band essays, builder re-rolls). Every capped query now re-runs
    * ONCE at roll end, after the final box probe — by then the window
    * has typically recovered (every adjudicated r16/r17 degraded start
    * recovered by roll end) — and the artifact records both values:
    *  - `recovered: true` (retry ran and landed back under the cap) is
    *    box-proven-transient IN the artifact — the cold cap was the
    *    window, not the query;
    *  - `recovered: false` with the probes in band in BOTH windows and
    *    flat t37_sched run_ms names a REAL mechanism the same day
    *    (the r16/r17 weak-flip conditional, now self-serving);
    *  - an errored retry records `retry: -1, recovered: false` — the
    *    cap stays adjudicated by the probe fields alone;
    *  - a retry SKIPPED by the blow-up guard records `retry: null,
    *    recovered: false` (r18 review): the retry exists for the
    *    host-stall cap class, which historically lands within ~1.6x
    *    the cap — a cold beyond [[CapRetryMaxColdFactor]]x the cap is
    *    a mechanism-scale event already named by cold_diag/run_ms,
    *    and re-paying a multi-minute run at roll end would re-expose
    *    the driver's wall to exactly the pathological class the cap
    *    bounds (the retry is otherwise un-cancellable mid-job).
    * r19 (the r18 verdict item 2 — the first live `recovered: false`
    * was unadjudicable because the END probe ran minutes before the
    * retry, so "bursty mid-roll stall between endpoints" could excuse
    * every future cap): each retry is BRACKETED by its own CPU
    * micro-probes. `probe_pre`/`probe_post` carry the st/mt anchors
    * (same workload and iteration count as the main probe's CPU arms,
    * so the §6b bands apply directly) measured immediately before and
    * after the retry run, each labeled `in_band` against
    * [[ProbeBands]]. `recovered: false` with BOTH brackets in-band now
    * names a real mechanism in-artifact — the weak-flip conditional is
    * falsifiable again; brackets out-of-band name the box with zero
    * essay. A guard-skipped retry carries null brackets (nothing ran
    * between them).
    *
    * Input rows are (name, cold-capped-time, retry-time: None =
    * guard-skipped, probe_pre, probe_post). Keys sort so the fragment
    * is diffable across rolls.
    */
  private[graft] def capRetryJson(
      retries: Seq[(String, Double, Option[Double],
        Option[(Long, Long)], Option[(Long, Long)])],
      capSec: Double): String =
    retries.sortBy(_._1).map { case (k, cold, retry, pre, post) =>
      val rec = retry.exists(r => r >= 0 && r <= capSec)
      val rv = retry.map(_.toString).getOrElse("null")
      def pj(p: Option[(Long, Long)]): String = p.map { case (st, mt) =>
        val (inBand, _) = bandCheck(Map("st_ms" -> st, "mt_ms" -> mt) ++
          CpuOnlyPad)
        s"""{"st_ms":$st,"mt_ms":$mt,"in_band":$inBand}"""
      }.getOrElse("null")
      s"\"" + k + s"""\":{"cold":$cold,"retry":$rv,"recovered":$rec,""" +
        s""""probe_pre":${pj(pre)},"probe_post":${pj(post)}}"""
    }.mkString("{", ",", "}")

  /** Pads a CPU-only micro-probe window so [[bandCheck]]'s missing-arm
    * rule doesn't read the deliberately-unmeasured disk/scheduler arms
    * as out-of-band: each padded arm sits at its own band floor. The
    * retry bracket measures the CPU axis only (a full probe costs ~4 s
    * and reads the disk axes a 1-2 s bracket can't isolate anyway);
    * its `in_band` therefore certifies st/mt alone — exactly the
    * anchors the weak-flip conditional reads. */
  // lazy: ProbeBands is declared further down the object and Scala
  // initializes object vals in declaration order (a strict val here
  // NPE'd Bench's clinit — caught live on the first r19 probe run)
  private[graft] lazy val CpuOnlyPad: Map[String, Long] =
    ProbeBands.collect { case (k, lo, _)
      if k != "st_ms" && k != "mt_ms" => k -> lo }.toMap

  /** Capture-proof sidecar path (r21, the r20 verdict item 3): the
    * driver's stdout capture has tail-truncated the 202-key JSON line
    * into `parsed: null` for four straight rounds — the per-query ground
    * truth of an optimization round, unreadable by the tool grading it.
    * Every bench invocation (full OR selective) now also writes the
    * identical line here, so a tail-limited capture still has a complete
    * parseable artifact; Verify prints the path so the recipe is
    * discoverable from the other main's output too. */
  private[graft] val SidecarPath = "/tmp/graft_bench_last.json"

  /** Writes the roll's one-line JSON artifacts: the sidecar at `sidecar`
    * ALWAYS (main passes [[SidecarPath]]), and the committed round record
    * `BENCH_full.json` only for full runs — a selective iteration run must
    * not clobber the round record (the r6 convention, unchanged). The
    * sidecar line carries a fresh `run_id` (printed to stderr too), so a
    * stale file cannot pass for the current roll, and is written through
    * a sibling temp file moved into place with ATOMIC_MOVE — a symlink at
    * `sidecar` is replaced, never followed. Returns the run id. Factored
    * out of main so BenchGuardSpec can pin the sidecar contract against a
    * temp file, never the real sidecar. */
  private[graft] def persistArtifacts(line: String, fullRun: Boolean,
      sidecar: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val runId = s"${System.currentTimeMillis()}-${java.util.UUID.randomUUID().toString.take(8)}"
    try {
      val target = Paths.get(sidecar).toAbsolutePath
      val tmp = Files.createTempFile(target.getParent, s".${target.getFileName}", ".tmp")
      try {
        Files.write(tmp, (s"""{"run_id":"$runId",""" + line.drop(1) + "\n").getBytes("UTF-8"))
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      } finally Files.deleteIfExists(tmp)
      System.err.println(s"BENCH SIDECAR $sidecar run_id=$runId")
    } catch { case e: Throwable => System.err.println(s"BENCH SIDECAR: $e") }
    if (fullRun)
      try Files.write(Paths.get("BENCH_full.json"), (line + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"BENCH WRITE: $e") }
    runId
  }

  /** Cap-retry blow-up guard (r18 review, see [[capRetryJson]]): a
    * capped query whose cold already exceeded this multiple of the cap
    * is not re-run at roll end — and the wall budget at which a running
    * retry is cancelled via its job group (r19, the r18 ADVICE: the
    * retry itself was unbounded, so a ~4x-cap cold could re-run even
    * longer at roll end and extend exactly the wall the cap bounds). */
  private[graft] val CapRetryMaxColdFactor = 4.0

  /** §6b healthy-window reference bands for the probe arms (r19, the
    * r18 verdict item 3): builder-box local[32] ranges measured across
    * the r14–r18 roll history (SURVEY §6b is canonical; these constants
    * exist so every probe window self-labels in the artifact instead of
    * requiring a human with §6b open). (arm, lo, hi); lo is
    * documentation — degradation is always upward, so the in-band
    * predicate reads only the ceiling. st/mt are the CPU anchors,
    * shuf/scan1 the disk + page-cache axes, jobs the scheduler axis.
    * spark_ms/scan_ms stay unbanded: spark_ms swings 53–254 healthy
    * (JIT ramp) and scan_ms is scan1's steady-state floor — neither has
    * ever been the adjudicating arm. */
  private[graft] val ProbeBands: Seq[(String, Long, Long)] = Seq(
    ("st_ms", 298L, 415L), ("mt_ms", 378L, 579L),
    ("shuf_ms", 527L, 1025L), ("scan1_ms", 154L, 539L),
    ("jobs_ms", 1401L, 2472L))

  /** A probe window is in-band when every banded arm is present,
    * positive, and at or under its band ceiling (below-lo reads as a
    * faster-than-band box — healthy). Returns (in_band, out-of-band arm
    * names). A missing or errored (-1) arm is out-of-band BY NAME: a
    * window that cannot prove its health must not read as clean. */
  private[graft] def bandCheck(arms: Map[String, Long]): (Boolean, Seq[String]) = {
    val oob = ProbeBands.collect { case (k, _, hi)
      if !arms.get(k).exists(v => v > 0 && v <= hi) => k }
    (oob.isEmpty, oob)
  }

  /** Box fingerprint (r16, the r15 verdict item 2): the in-repo
    * `BENCH_full.json` baseline is whatever roll was committed last —
    * driver rolls and builder rolls alternate, so every round the
    * vs_prev flags' meaning silently flipped between same-box and
    * cross-box ratios and §6b had to re-explain it in prose. Each roll
    * now stamps a short identity digest (`box_fp`) into its artifact;
    * the next roll compares fingerprints and self-labels its flags
    * (`cross_box`). A DIGEST, not the raw identity: the artifact is
    * committed, and the fingerprint only needs equality, not identity.
    *
    * The identity input is hostname + machine-id + boot_id (see
    * [[boxIdentity]]): in this fleet every VM's hostname is the
    * generic "vm" and machine-id can be baked into the shared image,
    * so hostname alone would COLLIDE across the driver and builder
    * boxes — labeling exactly the cross-box case this exists for as
    * same-box. boot_id keys the VM INSTANCE, which is the right
    * granularity for performance identity (even an identical image
    * performs differently per placement): `cross_box: true` reads
    * "baseline not from this same VM boot", and the `box_ratio` pair
    * alongside carries the actual speed comparison. Rolls within one
    * session (same boot) compare as same-box — the case where a flag
    * is a true like-for-like regression signal.
    */
  private[graft] def boxFingerprint(identity: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(identity.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
  }

  /** The fingerprint's identity input — every component degrades to ""
    * independently so a missing /etc file can never fail the roll. */
  private[graft] def boxIdentity(): String = {
    def read(p: String): String =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8").trim
      catch { case _: Throwable => "" }
    val host = scala.util.Try(java.net.InetAddress.getLocalHost.getHostName)
      .getOrElse(sys.env.getOrElse("HOSTNAME", ""))
    s"$host|${read("/etc/machine-id")}|${read("/proc/sys/kernel/random/boot_id")}"
  }

  /** The vs_prev baseline label (r16, verdict item 2): given this
    * roll's box fingerprint + START-probe CPU anchors and the committed
    * baseline roll's, returns
    *  - `cross_box`: Some(true/false) when the baseline carries a
    *    fingerprint (rolls before r16 do not → None = unknown);
    *  - `box_ratio`: (st, mt) = current/baseline start-probe ratios,
    *    2 dp — the box-STATE axis, meaningful even same-box (a degraded
    *    start window shows as st/mt ratios off 1.0; the r15 driver
    *    roll's shuf-only degradation is why the probe keeps st_ms as
    *    the stability anchor). None when either side lacks a probe.
    *
    * Called twice per roll (r17, the r16 verdict item 2): once with the
    * START-window anchors on both sides (`box_ratio`) and once with the
    * END-window anchors (`box_ratio_end`) — a box that degrades
    * MID-roll (r16's roll-1 pattern) reads start ~1.0 / end >>1, where
    * the start-only ratio alone was a blind spot no one should treat as
    * a clean-box certificate.
    */
  private[graft] def baselineLabel(curFp: String, prevFp: Option[String],
      curSt: Long, curMt: Long, prevSt: Option[Long], prevMt: Option[Long])
      : (Option[Boolean], Option[(Double, Double)]) = {
    val cross = prevFp.map(_ != curFp)
    def ratio(cur: Long, prev: Option[Long]): Option[Double] =
      prev.filter(_ > 0).filter(_ => cur > 0)
        .map(p => math.round(cur.toDouble / p * 100) / 100.0)
    val ratios = for { st <- ratio(curSt, prevSt); mt <- ratio(curMt, prevMt) }
      yield (st, mt)
    (cross, ratios)
  }

  /** JSON string escaping for free-form telemetry values (JVM pool
    * names vary across JDKs). Control chars < 0x20 are escaped too
    * (r13 ADVICE): a newline/tab would otherwise corrupt exactly the
    * artifact a cap event exists to diagnose, then break the NEXT
    * roll's vs_prev parse. BenchGuardSpec pins the behavior. */
  private[graft] def jsonEsc(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Scheduler/task telemetry for t37's cold slot (r15, the r14 verdict
    * item 1's last unprobed axis): accumulates job/stage/task counts and
    * the tasks' wall (`task_ms` = sum of TaskInfo.duration), executor
    * run (`run_ms` = executorRunTime), and GC (`gc_ms`) time over the
    * window it is registered for. The decisive split for a driver-box
    * premium: cold wall 2x with run_ms FLAT = the time went to GAPS
    * (job submission, task launch, inter-stage idle — scheduler axis,
    * read with the probe's jobs_ms arm); run_ms itself 2x = the tasks
    * computed slower (CPU/IO axis, read with st/shuf/scan). Events post
    * async on the listener bus, so the reader polls until counts
    * stabilize before snapshotting — telemetry-grade, not a barrier.
    */
  private[graft] final class SchedStats extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskInfo != null) { taskMs.addAndGet(t.taskInfo.duration); () }
      if (t.taskMetrics != null) {
        runMs.addAndGet(t.taskMetrics.executorRunTime)
        gcMs.addAndGet(t.taskMetrics.jvmGCTime); ()
      }
    }
    /** Wait (bounded) for the async bus to drain: two consecutive
      * identical event counts 50 ms apart, up to ~2 s. Watches the
      * COMBINED jobs+stages+tasks counter (r16, the r15 ADVICE): job/
      * stage-completed events post on the same async bus but can arrive
      * AFTER the final onTaskEnd, so a tasks-only watch could snapshot
      * with the job/stage counts still draining. */
    def settle(): Unit = {
      var prev = -1L; var spins = 0
      def combined = jobs.get() + stages.get() + tasks.get()
      while (combined != prev && spins < 40) {
        prev = combined; Thread.sleep(50); spins += 1
      }
    }
    def json: String =
      s"""{"jobs":${jobs.get()},"stages":${stages.get()},""" +
        s""""tasks":${tasks.get()},"task_ms":${taskMs.get()},""" +
        s""""run_ms":${runMs.get()},"gc_ms":${gcMs.get()}}"""
  }

  /** Fixed-seed xorshift64* mix — the box probe's unit of CPU work.
    * Pure integer ALU, no allocation, no memory traffic beyond the two
    * locals: measures clock/turbo state, not cache or GC. The returned
    * accumulator is consumed by the caller so the loop can't be DCE'd.
    */
  private def cpuWork(iters: Long, seed: Long): Long = {
    var x = seed | 1L; var acc = 0L; var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x * 0x2545F4914F6CDD1DL
      i += 1
    }
    acc
  }

  /** Box-speed probe (r14, the r13 verdict item 1): the driver box has
    * run t37 at up to 2.7x the builder's committed number with
    * compilation ruled out (zero residual compiles), and nothing in the
    * artifact could adjudicate "slow box" vs "new mechanism". This
    * fixed, deterministic workload measures the BOX, in-roll, and rides
    * the JSON tail at roll start and end:
    *  - st_ms: single-thread integer mix (2^27 xorshift64* steps) —
    *    CPU clock/turbo state;
    *  - mt_ms: the same per-thread workload on `nThreads` concurrent
    *    threads — effective parallel capacity (a cgroup CPU quota or
    *    noisy neighbor shows here even when st_ms looks healthy);
    *  - spark_ms: a fixed spark.range fold through codegen'd xxhash64
    *    (second run of two, so plan compilation is excluded) — the
    *    Spark executor path itself.
    * r15 (the r14 verdict item 1 — the three CPU arms came back HEALTHY
    * on a driver roll whose t37 still ran 2.0x, so the probe must also
    * see the axes t37 uniquely stresses: shuffle disk, page-cache state
    * on the corpus input, and multi-stage job-submission latency):
    *  - shuf_ms: a fixed two-stage shuffle job — 2^22 rows hashed into
    *    a 64-partition repartition Exchange (~64 MB shuffle write+read
    *    through local disk) then a 997-key aggregate — min of 2 after a
    *    compile-discard run; slow shuffle spill devices and scheduler
    *    latency show here while the pure-compute arms stay green;
    *  - scan1_ms / scan_ms: a full scan of the roll's REAL
    *    documents.parquet text column (sum of lengths — forces column
    *    read + decompression). scan1 is the FIRST read (page-cache
    *    state: by probe time the session warmup + t37 pre-warm have
    *    read the corpus, so a big scan1 means the cache was evicted —
    *    memory pressure); scan_ms is the min of the next two (steady
    *    scan throughput).
    * Builder-box reference values live in SURVEY §6b next to the roll;
    * a driver roll's t37 (or total) premium is adjudicated by the
    * probe ratio: probe slow too => box (now with the failing axis
    * named); probe healthy => mechanism. Costs ~3-4 s per invocation —
    * outside every timed window.
    */
  /** The probe's CPU anchors alone — st (single-thread) and mt
    * (`nThreads` concurrent) xorshift walls, same workload and
    * iteration count as the full probe's arms so the §6b bands apply
    * directly. Factored out in r19 for the cap-retry bracket (see
    * [[capRetryJson]]): costs ~0.7-1 s healthy, cheap enough to run
    * twice around each retry. */
  private def cpuAnchors(nThreads: Int): (Long, Long) = {
    val iters = 1L << 27
    var sink = cpuWork(1L << 20, 7) // JIT-warm the loop before timing
    val t0 = System.nanoTime()
    sink += cpuWork(iters, 7)
    val stMs = (System.nanoTime() - t0) / 1e6
    val acc = new java.util.concurrent.atomic.AtomicLong(sink)
    val ths = (1 to nThreads).map { k =>
      new Thread(() => { acc.addAndGet(cpuWork(iters, k.toLong + 1)): Unit })
    }
    val t1 = System.nanoTime()
    ths.foreach(_.start()); ths.foreach(_.join())
    val mtMs = (System.nanoTime() - t1) / 1e6
    if (acc.get() == 42) System.err.println("probe sink") // defeat DCE
    (math.round(stMs), math.round(mtMs))
  }

  private def boxProbe(spark: SparkSession, nThreads: Int,
      sfDir: String): (String, Long, Long) = {
    val (stArm, mtArm) = cpuAnchors(nThreads)
    val stMs = stArm.toDouble
    val mtMs = mtArm.toDouble
    import org.apache.spark.sql.functions.{col, lit, shiftright, sum, xxhash64}
    // each Spark arm degrades independently to -1 (r15 review): the
    // scan arm reads $sfDir data and the shuffle arm touches local
    // disk, and one failing arm (e.g. a mid-regen testdata dir) must
    // not null the whole probe — the pure-compute anchors are exactly
    // what a slow-roll adjudication needs most
    def arm(f: => Double): Long =
      try math.round(f)
      catch { case e: Throwable =>
        System.err.println(s"BENCH PROBE ARM: $e"); -1L }
    def sparkOnce(): Double = {
      val t = System.nanoTime()
      // shiftright keeps the 2^23-row sum inside a long under ANSI mode
      spark.range(1L << 23)
        .select(sum(shiftright(xxhash64(col("id"), lit(42)), 32))).head()
      (System.nanoTime() - t) / 1e6
    }
    val spMs = arm {
      sparkOnce() // first run carries codegen compile; discard
      math.min(sparkOnce(), sparkOnce()) // min sheds JIT ramp
    }
    import org.apache.spark.sql.functions.{length, pmod}
    def shufOnce(): Double = {
      val t = System.nanoTime()
      spark.range(1L << 22)
        .select(pmod(col("id"), lit(997L)).as("k"), col("id"))
        .repartition(64, col("k"))
        .groupBy("k").agg(sum(col("id")).as("s"))
        .select(sum(col("s"))).head()
      (System.nanoTime() - t) / 1e6
    }
    val shufMs = arm {
      shufOnce() // compile discard
      math.min(shufOnce(), shufOnce())
    }
    def scanOnce(): Double = {
      val t = System.nanoTime()
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(sum(length(col("text")))).head()
      (System.nanoTime() - t) / 1e6
    }
    // page-cache state (see Scaladoc). NB the START probe's scan1 also
    // carries the scan plan's one-time codegen compile (~0.1 s healthy)
    // — the END probe's scan1 reuses the cached generated class, so the
    // clean page-cache read is END scan1 vs scan_ms; a START-only scan1
    // premium of ~compile size is the compiler, not the cache.
    val scan1Ms = arm(scanOnce())
    val scanMs = arm(math.min(scanOnce(), scanOnce()))
    // jobs_ms (r15): 20 consecutive trivial actions on one cached plan —
    // pure per-job fixed cost (DAG submit, task scheduling/launch IPC,
    // result fetch), no codegen (same generated class every iteration)
    // and ~zero compute. t37 is the roll's most job-intensive query
    // (~20 jobs/pass x 4 passes), so a driver box whose premium lives in
    // job-submission latency shows here at 80x the per-job delta while
    // every other arm stays green.
    def jobsOnce(): Double = {
      val t = System.nanoTime()
      var i = 0
      while (i < 20) { spark.range(1024).selectExpr("sum(id)").head(); i += 1 }
      (System.nanoTime() - t) / 1e6
    }
    val jobsMs = arm {
      jobsOnce() // compile discard
      math.min(jobsOnce(), jobsOnce())
    }
    // the CPU anchors ride back as numerics too (r16): the vs_prev
    // baseline label computes current/baseline start-probe ratios.
    // Each window self-labels against [[ProbeBands]] (r19, the r18
    // verdict item 3): `in_band` plus the out-of-band arm NAMES, so
    // band placement is a field read, not a §6b essay.
    val arms = Map("st_ms" -> math.round(stMs), "mt_ms" -> math.round(mtMs),
      "shuf_ms" -> shufMs, "scan1_ms" -> scan1Ms, "jobs_ms" -> jobsMs)
    val (inBand, oob) = bandCheck(arms)
    val oobJson = oob.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"st_ms":${math.round(stMs)},"mt_ms":${math.round(mtMs)},""" +
      s""""spark_ms":$spMs,"shuf_ms":$shufMs,""" +
      s""""scan1_ms":$scan1Ms,"scan_ms":$scanMs,""" +
      s""""jobs_ms":$jobsMs,"in_band":$inBand,"oob":$oobJson}"""
    (json, math.round(stMs), math.round(mtMs))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val warmups = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt.max(0)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Codegen-class cache sized for a 194-query roll (r12): the
      // default 100 entries hold ~2 queries' worth of generated
      // classes, so every query late in the run recompiles (janino)
      // and re-JITs classes an earlier run already produced — and a
      // codegen-heavy query (t37: ~20 jobs/pass loop) can evict its
      // own pass-0 classes before its timed rep. Static conf, must be
      // set before the session exists. Memory cost is generated-class
      // metadata only (metaspace), well inside the 24g/1g-codecache
      // JVM this main documents in build.sbt.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // freeBlocks() below makes Spark WARN once per removed
    // localCheckpoint RDD ("lineage has been truncated...") — expected
    // and intended (the blocks are dead), but hundreds of lines per
    // run; keep the rdd package at ERROR so real failures still print.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    // Block hygiene (r11, the driver-roll t37 cap postmortem): every
    // execution's localCheckpoint blocks otherwise leak until the
    // DRIVER JVM happens to GC (ContextCleaner is weak-reference
    // driven, and the 24g heap makes full GCs rare) — late in a
    // 194-query run hundreds of dead checkpoint RDDs occupy storage
    // memory and a big cold allocator pays their eviction/GC bill,
    // which is exactly where r10's driver roll 7x'd t37's cold pass
    // (7.9 s builder / 54.9 s driver). Explicit unpersist after each
    // execution removes the GC-timing dependence; nothing in a query
    // reuses blocks across executions (each call builds fresh frames;
    // cross-run reuse goes through /tmp/graft_stores parquet, not
    // block storage), so this is timing-neutral on the measured work.
    // BLOCKING since r12 (ADVICE): elapsed is captured before the
    // call, so blocking cannot pollute the finished measurement — but
    // a non-blocking removal could still be running during the NEXT
    // rep's timed window.
    def freeBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    // Session warm-up: JVM/codegen/session init + file listing, so
    // per-query times measure the queries rather than first-action setup.
    try {
      Tables.lineitem(spark, sfDir).count()
      Tables.events(spark, sfDir).count()
      Tables.documents(spark, sfDir).count()
      Tables.embeddings(spark, sfDir).count()
    } catch { case e: Throwable => System.err.println(s"BENCH WARMUP: $e") }
    // t37 pre-warm (r12, root-fixed r13): spanRemoval's first execution
    // carries a ~10 s fixed codegen/JIT bill — first-ever compilation
    // of each stage, spread uniformly (~2.2x) across the ~20-step pass
    // loop (r12 step timing). Since the 30 s long-tail cap adjudicates
    // the WARMUP run, that fixed bill is exactly the margin that
    // pushed three consecutive driver rolls past the cap. r12's 64-doc
    // pre-warm compiled only 90 of ~139 classes: r13 measured 49
    // first-ever compiles STILL landing in the full-scale cold run
    // (~33 s of concurrent JIT) because (a) the tiny corpus converges
    // after pass 1, so the later passes' delta-composition plan shapes
    // are never codegen'd, and (b) a slice's plan NEVER matches the
    // real pass 0 — the df-cap literal (max(20, n/100)) is inlined
    // into the generated filter code and AQE re-plans at slice sizes
    // (a 4096-doc slice + forced-cap variant still left all 20 of
    // pass 0's full-scale classes uncompiled). The only
    // input whose pass-0 plan equals the real pass-0 plan is the real
    // input, so the r13 form runs the FULL bench corpus with
    // maxPasses = SpanPasses - 1: passes 0..2 compile against the
    // exact real plans (identical literals, identical AQE choices) and
    // the final pass's empty-keys projection variant compiles as the
    // prewarm's own last pass — ZERO residual compiles in the measured
    // cold run (`git show 4a72e29:src/test/scala/graft/ProfileT37m.scala`;
    // the tail's `cold_diag` reports the count on every roll). The
    // measured run still executes all SpanPasses passes of real work;
    // only compilation, JIT profiles, and page cache are warm — the
    // same contract every other query's warmup rep provides. Runs only
    // when t37 is benched; skipped cleanly if it ever breaks.
    if (args.isEmpty || args.contains("t37_span_removal")) {
      try {
        graft.queries.TextQueries.spanRemoval(
          Tables.documents(spark, sfDir),
          maxPasses = graft.queries.TextQueries.SpanPasses - 1)
          .write.format("noop").mode("overwrite").save()
        freeBlocks()
      } catch { case e: Throwable => System.err.println(s"BENCH WARMUP T37: $e") }
    }
    // d35 store pre-build (r13, verdict item 3): the driver box starts
    // every round with a fresh /tmp, so d35's first-run IVF store build
    // (train + assign + two installs) landed in its measured cold slot
    // — 23.7 s on the r12 driver roll, 1.27x under the cap. Building
    // here (unmeasured session warmup) is hygiene, not gaming: the
    // build is buildIfStale-guarded and RNG-free, so the serving query
    // still verifies the marker and serves identical rows; its cold
    // slot now measures the serve, matching every other store-backed
    // query whose build ran in a prior session.
    if (args.isEmpty || args.contains("d35_hybrid_rrf_served")) {
      try {
        graft.queries.SimilarityQueries.ensureRrfIvfStores(spark, sfDir)
        freeBlocks()
      } catch { case e: Throwable => System.err.println(s"BENCH WARMUP D35: $e") }
    }
    // optional args: bench only the named queries (iteration aid)
    val unknown = args.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty)
      System.err.println(s"BENCH UNKNOWN QUERIES: ${unknown.mkString(", ")}")
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => args.contains(n) }

    // noop sink: materializes every output row and expression (count()
    // would let Catalyst prune unreferenced projections and understate
    // expression-heavy queries).
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val el = (System.nanoTime() - t0) / 1e9
      freeBlocks()
      el
    }
    // Long-tail cap (r7 verdict item): a query whose WARMUP run already
    // exceeds capSec reports that single (cold) time with capped=true and
    // skips the timed reps — one pathological query must not triple the
    // wall clock and starve the driver's window. Everything under the cap
    // keeps the warm-min protocol unchanged.
    val capSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_CAP_S", "30").toDouble
    // JVM telemetry quoted on cap events (r12): a cap on the driver's
    // box is only diagnosable from the surviving stderr, so name the
    // usual suspects with numbers — a full JIT code cache silently
    // disables compilation (the r10 240 MB lesson), and metaspace /
    // loaded-class growth tracks generated classes a long run never
    // unloads. One line, cap events only.
    def jvmTelemetry: String = {
      import scala.jdk.CollectionConverters._
      val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .asScala
        .filter(p => p.getName.contains("CodeHeap") ||
          p.getName.contains("Metaspace"))
        .map(p => s"${p.getName.replace(' ', '_')}=" +
          s"${p.getUsage.getUsed / (1L << 20)}MB")
      val cls = java.lang.management.ManagementFactory
        .getClassLoadingMXBean.getLoadedClassCount
      (pools :+ s"loadedClasses=$cls").mkString(" ")
    }
    // per query: (warm-min, spread, capped, cold) — cold is the warmup
    // min (the in-run first-execution time; -1 when warmups=0 or the
    // query errored). Recorded since r11: the r10 verdict's t37 lesson
    // is that a committed warm-min alone cannot adjudicate a cap event.
    // Cap telemetry carried in the ARTIFACT (r13, verdict item 2): the
    // r12 cap produced zero surviving diagnostics because the stderr
    // line is driver-truncated — a cap event must arrive self-described
    // in the JSON the driver keeps.
    val capJvm = scala.collection.mutable.Map.empty[String, String]
    // Per-query COLD-run attribution (r14, verdict item 1): how many
    // first-ever generated-class compiles and how much accumulated JIT
    // time landed inside each query's warmup (cold) slot. On a healthy
    // pre-warmed roll t37's compile delta is ~0 (measured r13) — so a
    // driver-box cold premium with compiles≈0 is BOX, and one with a
    // large compile delta is the compilation mechanism resurfacing.
    // Cheap (two counter reads per query), carried in the artifact.
    val coldDiag = scala.collection.mutable.Map.empty[String, (Long, Long)]
    // registered around t37's cold slot only (see the warmup loop)
    val t37Sched = new SchedStats
    def cgCount: Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    // the bean is null on JVMs without a compilation system (-Xint) and
    // getTotalCompilationTime throws when monitoring is unsupported —
    // resolved ONCE with a 0 fallback so a diagnostics-only counter can
    // never error 200 queries into -1 and clobber BENCH_full.json
    val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
    def jitMs: Long =
      try {
        if (jitBean != null && jitBean.isCompilationTimeMonitoringSupported)
          jitBean.getTotalCompilationTime
        else 0L
      } catch { case _: Throwable => 0L }
    // roll-start box state, measured after session warmup so JVM
    // startup/classloading noise stays out of the probe
    val (probeStart, curSt, curMt) = try boxProbe(spark, cpus.toInt, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"BENCH PROBE: $e"); ("null", -1L, -1L) }
    // this roll's box identity, stamped into the artifact so the NEXT
    // roll's vs_prev can self-label cross-box baselines (r16, verdict
    // item 2)
    val boxFp = boxFingerprint(boxIdentity())
    val results: Map[String, (Double, Double, Boolean, Double)] =
      selected.map { case (name, fn) =>
        // cold survives a later-rep crash: "ran cold fine, crashed
        // warm" and "crashed before ever running" must stay
        // distinguishable in the artifact
        var cold = -1.0
        try {
          // delta captured around warmup rep 0 ONLY: `cold` is the
          // warmup MIN, and with WARMUP>=2 attributing later reps'
          // (compile-free) time against rep 0's compile bill would
          // pair the wrong numbers in the artifact
          val (cg0, jit0) = (cgCount, jitMs)
          val warmTimes = (0 until warmups).map { i =>
            // t37's cold slot additionally collects per-pass wall times
            // (r15, verdict item 1): the tail's `t37_passes` localizes
            // a driver-box cold premium along the pass axis. Armed for
            // rep 0 only — the timed reps run the plain untimed path.
            val collectPasses = name == "t37_span_removal" && i == 0
            if (collectPasses) {
              graft.queries.TextQueries.PassWall.reset()
              graft.queries.TextQueries.PassWall.armed = true
              spark.sparkContext.addSparkListener(t37Sched)
            }
            val t =
              try {
                val el = once(fn)
                // delta read BEFORE the finally's settle() below: the
                // 0.1-2 s bus-drain sleep would otherwise add post-run
                // background JIT to exactly the artifact field the
                // cold-premium adjudication reads, and only for t37
                if (i == 0) coldDiag(name) = (cgCount - cg0, jitMs - jit0)
                el
              } finally if (collectPasses) {
                graft.queries.TextQueries.PassWall.armed = false
                t37Sched.settle()
                spark.sparkContext.removeSparkListener(t37Sched)
              }
            t
          }
          if (warmTimes.nonEmpty) cold = warmTimes.min
          if (warmTimes.nonEmpty && warmTimes.min > capSec) {
            System.err.println(
              f"BENCH CAPPED $name: warmup ${warmTimes.min}%.2fs > cap ${capSec}%.1fs, skipping timed reps")
            val tele = jvmTelemetry
            System.err.println(s"BENCH CAPPED JVM $name: $tele")
            capJvm(name) = tele
            name -> (warmTimes.min, 0.0, true, cold)
          } else {
            System.gc()
            val times = (0 until reps).map(_ => once(fn))
            val spread =
              if (times.min > 0) (times.max - times.min) / times.min else 0.0
            name -> (times.min, spread, false, cold)
          }
        } catch {
          // sentinel: a crashed query must not read as a fast query
          case e: Throwable =>
            System.err.println(
              s"BENCH ERROR $name: ${e.getClass.getName}: ${e.getMessage}")
            name -> (-1.0, 0.0, false, cold)
        }
      }
    def fmtMap(sel: ((String, (Double, Double, Boolean, Double))) => Double): String =
      results.map { case (k, v) => s"\"" + k + "\":" + sel((k, v)) }
        .mkString("{", ",", "}")
    val errs = results.collect { case (k, (v, _, _, _)) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val capped = results.collect { case (k, (_, _, true, _)) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val ok = results.values.filter(_._1 >= 0)
    val total = ok.map(_._1).sum
    // capped queries ran once cold and carry a fabricated 0.0 spread —
    // including them would bias the noise-floor median toward 0
    val spreads = results.values
      .collect { case (t, sp, capped, _) if t >= 0 && !capped => sp }
      .toSeq.sorted
    val noiseMed = if (spreads.isEmpty) 0.0 else spreads(spreads.size / 2)
    // Regression guard (r9 verdict item 4): compare each warm-min against
    // the previous committed BENCH_full.json and flag > 1.5x moves. The
    // threshold is calibrated on r9's zero-code-change round, where pure
    // reps=2 interleave noise reached ~1.43x on sub-second queries — so a
    // flag is "look at this", adjudicated against `spread`, not a gate.
    // PREVIOUSLY-capped entries are excluded (no prior warm-min to
    // compare against); CURRENTLY-capped entries flag UNCONDITIONALLY
    // with their cold-vs-prior-warm ratio (r10 verdict item 2 / ADVICE:
    // the old exclusion dropped exactly the query regressing past the
    // cap — the largest regressions were the ones the guard couldn't
    // report).
    // roll-end box state, measured BEFORE the vs_prev assembly so the
    // label can carry both windows: a box that degraded MID-roll (the
    // r11 observed pattern, and r16's roll 1) shows as start healthy /
    // end slow — box_ratio (start window) alone reads clean for exactly
    // that roll, which is the blind spot box_ratio_end closes (r16
    // verdict item 2). The probe itself still runs after every query.
    val (probeEnd, endSt, endMt) = try boxProbe(spark, cpus.toInt, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"BENCH PROBE: $e"); ("null", -1L, -1L) }
    // Cap retry (r18, the r17 verdict item 1): each capped query re-runs
    // ONCE here — after the END probe, the latest point in the roll, where
    // the degraded windows that produced every historical cap had
    // recovered. The retry is diagnosis only: it never touches `queries`,
    // total, or the vs_prev flags, and a clean roll (zero capped) pays
    // nothing. See [[capRetryJson]] for how the artifact reads.
    val capRetries: Seq[(String, Double, Option[Double],
        Option[(Long, Long)], Option[(Long, Long)])] =
      results.toSeq.collect { case (name, (_, _, true, cold)) =>
        if (cold > CapRetryMaxColdFactor * capSec) {
          // blow-up guard (r18 review): see capRetryJson's Scaladoc
          System.err.println(
            f"BENCH CAP RETRY SKIPPED $name: cold $cold%.2fs > " +
              f"${CapRetryMaxColdFactor}%.0fx cap (mechanism-scale; read cold_diag/run_ms)")
          (name, cold, None, None, None)
        } else {
          // the retry bracketed by its own CPU anchors (r19, the r18
          // verdict item 2): the END probe can run minutes before the
          // retry and cannot certify its window — these two can.
          val pre = cpuAnchors(cpus.toInt)
          // wall-budgeted in its own job group (r19, the r18 ADVICE):
          // the retry was the one unbounded run in the roll — a query
          // capped near the guard threshold could re-run even longer at
          // roll end. Cancelling the group makes once() throw, which
          // records the errored-retry -1; the budget reuses the guard's
          // factor so "too slow to retry" and "retry cut off" agree on
          // scale.
          val grp = s"cap-retry-$name"
          @volatile var res = -1.0
          val th = new Thread(() => {
            spark.sparkContext.setJobGroup(grp,
              s"cap retry $name", interruptOnCancel = true)
            res =
              try once(selected(name))
              catch { case e: Throwable =>
                System.err.println(s"BENCH CAP RETRY ERROR $name: $e"); -1.0 }
          })
          // daemon (r19 review): if the cancel fails to unwind a stuck
          // task within the grace join below, a user thread would block
          // JVM exit and hang the roll at its very last step — the
          // exact wall-clock exposure the budget exists to bound
          th.setDaemon(true)
          th.start()
          th.join(math.max(1L,
            (CapRetryMaxColdFactor * capSec * 1000).toLong))
          if (th.isAlive) {
            System.err.println(
              f"BENCH CAP RETRY CANCELLED $name: over " +
                f"${CapRetryMaxColdFactor * capSec}%.0fs wall budget")
            try spark.sparkContext.cancelJobGroup(grp)
            catch { case e: Throwable =>
              System.err.println(s"BENCH CAP RETRY CANCEL: $e") }
            th.join(30000) // let once()'s catch record -1 and unwind
          }
          val retry = res
          val post = cpuAnchors(cpus.toInt)
          // ASCII only: the line goes to stderr, and sbt's console
          // charset mangles non-ASCII into '?' in the driver-kept log
          val verdict =
            if (retry >= 0 && retry <= capSec)
              "recovered under cap at roll end: transient, box-proven in-artifact"
            else "STILL capped: adjudicate against bracket probes/run_ms"
          System.err.println(
            f"BENCH CAP RETRY $name: cold $cold%.2fs -> retry $retry%.2fs " +
              f"(pre st ${pre._1} mt ${pre._2} / post st ${post._1} mt " +
              f"${post._2}) ($verdict)")
          (name, cold, Some(retry), Some(pre), Some(post))
        }
      }
    // the no-baseline / parse-error shape, defined ONCE (r17 review):
    // the next vs_prev field addition must not be able to miss one of
    // the fallback sites and ship a short artifact
    val emptyVsPrev = """{"prev_total":null,"prev_box_fp":null,"cross_box":null,"box_ratio":null,"box_ratio_end":null,"baseline_end_in_band":null,"flagged":{},"still_capped":{}}"""
    val vsPrev: String = try {
      val f = java.nio.file.Paths.get("BENCH_full.json")
      if (!java.nio.file.Files.exists(f)) emptyVsPrev
      else {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(java.nio.file.Files.readAllBytes(f))
        val prevQ = root.path("queries")
        val prevCapped: Set[String] = {
          val it = root.path("capped").elements()
          val b = Set.newBuilder[String]
          while (it.hasNext) b += it.next().asText()
          b.result()
        }
        val prevQMap: Map[String, Double] = {
          val it = prevQ.fieldNames()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) { val k = it.next(); b += k -> prevQ.get(k).asDouble }
          b.result()
        }
        // baseline box identity + state (r16, verdict item 2): flags
        // against another machine's roll are cross-box ratios and must
        // say so in the artifact, not in next round's §6b prose
        val prevFp = Option(root.path("box_fp").asText(null)).filter(_.nonEmpty)
        def prevArm(window: String, k: String): Option[Long] = {
          val n = root.path("tail").path("box").path(window).path(k)
          if (n.isNumber && n.asLong > 0) Some(n.asLong) else None
        }
        val (crossBox, boxRatio) = baselineLabel(boxFp, prevFp,
          curSt, curMt, prevArm("start", "st_ms"), prevArm("start", "mt_ms"))
        // END-window pair (r16 verdict item 2): like-window vs
        // like-window, so a roll whose box degraded mid-run self-labels
        // (start ratio ~1.0, end ratio >>1) instead of hiding behind the
        // start-only ratio. Fingerprint verdict is shared; only the
        // ratio pair differs.
        val boxRatioEnd = baselineLabel(boxFp, prevFp,
          endSt, endMt, prevArm("end", "st_ms"), prevArm("end", "mt_ms"))._2
        // the baseline-commit rule, mechanically checkable (r19, the
        // r18 verdict item 3): box_ratio_end divides by the BASELINE's
        // end anchors, so a degraded-end baseline silently inverts the
        // mid-roll signal — this field says in the artifact whether the
        // denominator roll's own END window was in the §6b bands. null
        // = the baseline predates the probe's end window entirely.
        val baselineEndInBand: Option[Boolean] =
          if (root.path("tail").path("box").path("end").isObject) {
            val prevEndArms = ProbeBands.map(_._1)
              .flatMap(k => prevArm("end", k).map(k -> _)).toMap
            Some(bandCheck(prevEndArms)._1)
          } else None
        if (baselineEndInBand.contains(false))
          System.err.println(
            "BENCH BASELINE END OUT OF BAND: the committed BENCH_full's " +
              "own END probe arms are outside the reference bands — " +
              "box_ratio_end reads inverted; replace the baseline " +
              "(CLAUDE.md baseline-commit rule)")
        val beibStr = baselineEndInBand.map(_.toString).getOrElse("null")
        val cbStr = crossBox.map(_.toString).getOrElse("null")
        val crossTag = if (crossBox.contains(true)) " [CROSS-BOX baseline]" else ""
        System.err.println(
          s"BENCH VS_PREV BASELINE: box_fp $boxFp vs prev " +
            s"${prevFp.getOrElse("<none>")} (cross_box=$cbStr)" +
            boxRatio.map { case (st, mt) =>
              s" start-probe ratio st=${st}x mt=${mt}x" }.getOrElse("") +
            boxRatioEnd.map { case (st, mt) =>
              s" end-probe ratio st=${st}x mt=${mt}x" }.getOrElse(""))
        val (regressed, cappedNotWorse) =
          splitFlags(vsPrevFlags(results, prevQMap, prevCapped), prevCapped)
        regressed.foreach { case (k, r, isCapped) =>
          val tag =
            if (isCapped && prevCapped.contains(k))
              " (STILL CAPPED, ratio is cold-vs-prev-cold)"
            else if (isCapped) " (NEWLY CAPPED, ratio is cold-vs-prev-warm)"
            else ""
          System.err.println(s"BENCH REGRESSION FLAG $k: ${r}x vs prev warm-min$tag$crossTag") }
        cappedNotWorse.foreach { case (k, r, _) =>
          System.err.println(
            s"BENCH STILL CAPPED $k: ${r}x vs prev (cold not worse — not a regression)") }
        def m(xs: Seq[(String, Double, Boolean)]): String =
          xs.map { case (k, r, _) => s"\"" + k + "\":" + r }
            .mkString("{", ",", "}")
        val pfStr = prevFp.map("\"" + _ + "\"").getOrElse("null")
        def brJson(r: Option[(Double, Double)]): String =
          r.map { case (st, mt) => s"""{"st":$st,"mt":$mt}""" }.getOrElse("null")
        s"""{"prev_total":${root.path("value").asDouble},""" +
          s""""prev_box_fp":$pfStr,"cross_box":$cbStr,""" +
          s""""box_ratio":${brJson(boxRatio)},""" +
          s""""box_ratio_end":${brJson(boxRatioEnd)},""" +
          s""""baseline_end_in_band":$beibStr,""" +
          s""""flagged":${m(regressed)},"still_capped":${m(cappedNotWorse)}}"""
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"BENCH VS_PREV: $e"); emptyVsPrev
    }
    // Headline summary as the very LAST field: the driver stores a
    // front-truncated tail of this line, so totals + the slowest-10 must
    // sit at the end to survive truncation for cross-round comparison.
    val slowest10 = results.toSeq.filter(_._2._1 >= 0).sortBy(-_._2._1).take(10)
      .map { case (k, (v, _, _, _)) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // cap_jvm rides the tail (the most truncation-survivable spot):
    // empty on a clean roll, one short string per capped query
    // otherwise. Values are JSON-escaped — the telemetry string is
    // free-form (JVM pool names vary across JDKs), and a stray quote
    // would corrupt exactly the artifact a cap event exists to
    // diagnose, then break the NEXT roll's vs_prev parse.
    val capJvmJson = capJvm
      .map { case (k, v) => s"\"" + k + "\":\"" + jsonEsc(v) + "\"" }
      .mkString("{", ",", "}")
    // t37 per-pass wall times from its COLD slot (r15, verdict item 1):
    // "setup" = the pre-loop winnow/checkpoint steps, "pN" = pass N's
    // probed materializations; the cold total minus the sum is the
    // post-loop assembly join + noop write (unprobed by construction —
    // it is the returned lazy frame). A driver-box premium now
    // localizes: uniform across passes = box/JIT-wide, concentrated in
    // p0 = the full-scale join stage, concentrated in setup = corpus
    // scan/winnow (page cache — read against the probe's scan arms).
    val t37Passes = graft.queries.TextQueries.PassWall.snapshot
      .map { case (k, v) => s"\"" + k + "\":" + math.round(v * 1000) / 1000.0 }
      .mkString("{", ",", "}")
    // cold_diag in the TAIL for the queries a cap/cold debate is ever
    // about (t37 + anything capped); the full per-query maps ride as
    // normal fields below. Format: name -> [cold_compiles, cold_jit_ms].
    val diagKeys = (capJvm.keys.toSet + "t37_span_removal")
      .filter(coldDiag.contains).toSeq.sorted
    val coldDiagJson = diagKeys
      .map(k => s"\"" + k + s"""\":[${coldDiag(k)._1},${coldDiag(k)._2}]""")
      .mkString("{", ",", "}")
    def fmtLongMap(sel: ((Long, Long)) => Long): String =
      coldDiag.map { case (k, v) => s"\"" + k + "\":" + sel(v) }
        .mkString("{", ",", "}")
    val tail = s"""{"total_s":$total,"n_queries":${ok.size},""" +
      s""""n_errors":${results.size - ok.size},"cap_jvm":$capJvmJson,""" +
      s""""cap_retry":${capRetryJson(capRetries, capSec)},""" +
      s""""box":{"fp":"$boxFp","start":$probeStart,"end":$probeEnd},""" +
      s""""cold_diag":$coldDiagJson,"t37_passes":$t37Passes,""" +
      s""""t37_sched":${t37Sched.json},"slowest10":$slowest10}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
      s""""box_fp":"$boxFp",""" +
      s""""reps":$reps,"warmups":$warmups,"noise_floor_med_spread":$noiseMed,""" +
      s""""errors":$errs,"capped":$capped,"vs_prev":$vsPrev,""" +
      s""""cold_compiles":${fmtLongMap(_._1)},""" +
      s""""cold_jit_ms":${fmtLongMap(_._2)},""" +
      s""""spread":${fmtMap(_._2._2)},"cold":${fmtMap(_._2._4)},""" +
      s""""queries":${fmtMap(_._2._1)},"tail":$tail}"""
    println(line)
    persistArtifacts(line, fullRun = args.isEmpty, SidecarPath)
    spark.stop()
  }
}
