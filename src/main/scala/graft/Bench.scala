package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark main. Isolation mode (round 5): each query gets a
  * warmup run (codegen/broadcast/scan-listing costs land there), a GC
  * fence, then `SPARK_GRAFT_BENCH_REPS` timed runs; the reported time is
  * the MIN (the standard noise-robust estimator) and the per-query
  * `spread` = (max-min)/min over the timed runs estimates the noise
  * floor, so a 2x move between rounds is adjudicable as signal vs
  * interleaving noise (round 4 could not tell — e.g. its d12 1.35→2.62).
  * Key order in the JSON puts the per-query maps (`cold_diag`, `spread`,
  * `cold`, `queries`) LAST, so a capture that keeps only the line's end
  * still holds the per-query data.
  * `cold` (r11) is each query's warmup time — the in-run first-execution
  * time the long-tail cap reads — recorded so a cap event is diagnosable
  * from the artifact (the r10 t37 lesson). The roll ends with a second,
  * compact stdout line ([[summaryLine]]).
  *
  * A speed claim is a same-session A/B plus counters (`perfbench/run.py`);
  * a roll records walls and flags moves, it does not adjudicate the box.
  */
object Bench {

  /** Per query: (warm-min, spread, capped, cold). An errored query
    * carries warm-min -1; a capped one carries its cold time as warm-min. */
  private[graft] type Timing = (Double, Double, Boolean, Double)

  /** The vs_prev regression-flag rule, factored out of main so
    * BenchGuardSpec can pin it (r11 — this logic has had two blind-spot
    * bugs across rounds: capped entries silently dropped, then
    * consecutively-capped entries silently dropped).
    *
    * `results` rows are [[Timing]]s; prev maps come from the committed
    * BENCH_full.json. Returns (name, ratio, capped)
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
      results: Map[String, Timing],
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

  /** Box fingerprint (r16, the r15 verdict item 2): the in-repo
    * `BENCH_full.json` baseline is whatever roll was committed last, and
    * driver and builder rolls alternate, so a vs_prev flag may compare
    * two machines. Each roll stamps a short identity digest (`box_fp`)
    * into its artifact; the next roll compares fingerprints and labels
    * its flags (`cross_box`). A DIGEST, not the raw identity: the
    * artifact is committed, and the fingerprint only needs equality.
    *
    * The identity input is hostname + machine-id + boot_id (see
    * [[boxIdentity]]): every VM's hostname can be the generic "vm" and
    * machine-id can be baked into a shared image, so boot_id is what
    * keeps two boxes apart. `cross_box: true` reads "baseline not from
    * this same VM boot"; rolls within one boot compare as same-box, the
    * case where a flag is a like-for-like regression signal.
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

  /** The roll's `vs_prev` object against `prev`, the parsed committed
    * `BENCH_full.json` (None = no baseline). Regression guard (r9): each
    * warm-min is compared with the baseline's by [[vsPrevFlags]] and
    * routed by [[splitFlags]]; a flag is "look at this", read against
    * `spread`, not a gate. `cross_box` is null for a baseline without a
    * `box_fp` (rolls before r16), else whether it came from another box;
    * without a baseline every field is null or empty. Each flag also
    * prints a `BENCH REGRESSION FLAG` / `BENCH STILL CAPPED` stderr line;
    * the returned JSON depends on the inputs alone. */
  private[graft] def vsPrev(prev: Option[com.fasterxml.jackson.databind.JsonNode],
      results: Map[String, Timing], boxFp: String): String =
    prev.fold(
      """{"prev_total":null,"prev_box_fp":null,"cross_box":null,"flagged":{},"still_capped":{}}"""
    ) { root =>
      import scala.jdk.CollectionConverters._
      val prevQ = root.path("queries")
      val prevQMap = prevQ.fieldNames().asScala.map(k => k -> prevQ.get(k).asDouble).toMap
      val prevCapped = root.path("capped").elements().asScala.map(_.asText()).toSet
      val prevFp = Option(root.path("box_fp").asText(null)).filter(_.nonEmpty)
      val crossBox = prevFp.map(_ != boxFp)
      val crossTag = if (crossBox.contains(true)) " [CROSS-BOX baseline]" else ""
      val (regressed, cappedNotWorse) =
        splitFlags(vsPrevFlags(results, prevQMap, prevCapped), prevCapped)
      regressed.foreach { case (k, r, isCapped) =>
        val tag =
          if (isCapped && prevCapped.contains(k))
            " (STILL CAPPED, ratio is cold-vs-prev-cold)"
          else if (isCapped) " (NEWLY CAPPED, ratio is cold-vs-prev-warm)"
          else ""
        System.err.println(s"BENCH REGRESSION FLAG $k: ${r}x vs prev warm-min$tag$crossTag")
      }
      cappedNotWorse.foreach { case (k, r, _) =>
        System.err.println(
          s"BENCH STILL CAPPED $k: ${r}x vs prev (cold not worse — not a regression)")
      }
      def m(xs: Seq[(String, Double, Boolean)]): String =
        xs.map { case (k, r, _) => s"\"" + k + "\":" + r }.mkString("{", ",", "}")
      s"""{"prev_total":${root.path("value").asDouble},""" +
        s""""prev_box_fp":${prevFp.map("\"" + _ + "\"").getOrElse("null")},""" +
        s""""cross_box":${crossBox.map(_.toString).getOrElse("null")},""" +
        s""""flagged":${m(regressed)},"still_capped":${m(cappedNotWorse)}}"""
    }

  /** The ten slowest non-errored queries as a JSON object, slowest first. */
  private def slowest10(results: Map[String, Timing]): String =
    results.toSeq.filter(_._2._1 >= 0).sortBy(-_._2._1).take(10)
      .map { case (k, (v, _, _, _)) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** The roll's compact summary, printed as the LAST stdout line: the
    * full line grows with the registry (31 KB at 202 keys) and falls
    * outside a 2000-char tail capture; this one stays under 1500 chars
    * whatever the registry size. `run_id` ties it to the sidecar;
    * `vs_prev_total` is total / the baseline's total (null without one). */
  private[graft] def summaryLine(results: Map[String, Timing], cpus: Int,
      sf: String, boxFp: String, runId: String, prevTotal: Option[Double]): String = {
    val ok = results.values.filter(_._1 >= 0)
    val total = ok.map(_._1).sum
    val ratio = prevTotal.filter(_ > 0).map(p => math.round(total / p * 1000) / 1000.0)
    s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${ok.size},""" +
      s""""n_errors":${results.size - ok.size},"n_capped":${results.values.count(_._3)},""" +
      s""""cpus":$cpus,"sf":"${jsonEsc(sf)}","box_fp":"$boxFp","run_id":"$runId",""" +
      s""""vs_prev_total":${ratio.map(_.toString).getOrElse("null")},""" +
      s""""slowest10":${slowest10(results)}}"""
  }

  /** The positions of each `cold_diag` entry. */
  private[graft] val ColdDiagFields =
    Seq("compiles", "jit_ms", "jobs", "stages", "tasks", "task_ms", "run_ms", "gc_ms")

  /** The roll's full JSON line. `cold_diag` has one entry per benched key
    * ([[ColdDiagFields]]): the first-ever codegen compiles and JIT ms
    * inside its cold slot (`coldDiag`, r14), then its cold slot's
    * [[JobStats.Record]] counts (zeros without a record). The tail's
    * `cold_steps` holds the [[JobStats.step]] walls of the keys that
    * recorded any (t37: setup/p0..p3); cold minus their sum is the
    * unstepped rest (t37's post-loop assembly and sink write). Depends on
    * its inputs alone; [[vsPrev]] prints its flags to stderr. */
  private[graft] def rollLine(results: Map[String, Timing], reps: Int, sf: String,
      boxFp: String, prev: Option[com.fasterxml.jackson.databind.JsonNode],
      capJvm: Map[String, String], coldDiag: Map[String, (Long, Long)],
      stats: Map[String, JobStats.Record]): String = {
    def str(x: String): String = "\"" + jsonEsc(x) + "\""
    def obj[V](m: Iterable[(String, V)])(v: V => String): String =
      m.map { case (k, x) => str(k) + ":" + v(x) }.mkString("{", ",", "}")
    def arr(xs: Iterable[String]): String = xs.map(str).mkString("[", ",", "]")
    val ok = results.values.filter(_._1 >= 0)
    val total = ok.map(_._1).sum
    // capped queries ran once cold and carry a fabricated 0.0 spread —
    // including them would bias the noise-floor median toward 0
    val spreads = results.values
      .collect { case (t, sp, capped, _) if t >= 0 && !capped => sp }
      .toSeq.sorted
    val noiseMed = if (spreads.isEmpty) 0.0 else spreads(spreads.size / 2)
    val diag = coldDiag.toSeq.sortBy(_._1).map { case (k, (cg, jit)) =>
      k -> (Seq(cg, jit) ++ stats.get(k).fold(Seq.fill(6)(0L))(_.counts)) }
    val steps = stats.toSeq.filter(_._2.steps.nonEmpty).sortBy(_._1)
      .map { case (k, r) => k -> obj(r.steps)(t => (math.round(t * 1000) / 1000.0).toString) }
    // Headline summary as the very LAST field, so a capture that keeps
    // only the line's end still holds the totals + the slowest-10 for
    // cross-round comparison; cap_jvm (r13) rides there too, one
    // JSON-escaped string per capped key.
    val tail = s"""{"total_s":$total,"n_queries":${ok.size},""" +
      s""""n_errors":${results.size - ok.size},""" +
      s""""cap_jvm":${obj(capJvm)(str)},""" +
      s""""cold_steps":${obj(steps)(identity)},""" +
      s""""slowest10":${slowest10(results)}}"""
    s"""{"metric":"total","value":$total,"unit":"sec","sf":${str(sf)},""" +
      s""""box_fp":"$boxFp","reps":$reps,"warmups":1,"noise_floor_med_spread":$noiseMed,""" +
      s""""errors":${arr(results.collect { case (k, v) if v._1 < 0 => k })},""" +
      s""""capped":${arr(results.collect { case (k, v) if v._3 => k })},""" +
      s""""vs_prev":${vsPrev(prev, results, boxFp)},""" +
      s""""cold_diag_fields":${arr(ColdDiagFields)},""" +
      s""""cold_diag":${obj(diag)(_.mkString("[", ",", "]"))},""" +
      s""""spread":${obj(results)(_._2.toString)},"cold":${obj(results)(_._4.toString)},""" +
      s""""queries":${obj(results)(_._1.toString)},"tail":$tail}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.envCpus
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val spark = Session.local(cpus)
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
    // `cold_diag` reports the count on every roll). The
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
        Session.freeBlocks(spark)
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
        Session.freeBlocks(spark)
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
      Session.freeBlocks(spark)
      el
    }
    // Long-tail cap (r7 verdict item): a query whose cold run already
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
    // Cap telemetry carried in the ARTIFACT (r13, verdict item 2): the
    // r12 cap produced zero surviving diagnostics because the stderr
    // line is driver-truncated — a cap event must arrive self-described
    // in the JSON the driver keeps.
    val capJvm = scala.collection.mutable.Map.empty[String, String]
    // Per-query COLD-run attribution (r14, verdict item 1): how many
    // first-ever generated-class compiles and how much accumulated JIT
    // time landed inside each query's cold slot. On a healthy
    // pre-warmed roll t37's compile delta is ~0 (measured r13), so a
    // large delta is the compilation mechanism resurfacing. Cheap (two
    // counter reads per query), carried in the artifact next to the
    // cold slot's JobStats record.
    val coldDiag = scala.collection.mutable.Map.empty[String, (Long, Long)]
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
    // this roll's box identity, stamped into the artifact so the NEXT
    // roll's vs_prev can label cross-box baselines (r16)
    val boxFp = boxFingerprint(boxIdentity())
    // Each query runs ONE cold rep — the cap's input, tagged with its
    // name for the cold_diag record — then, under the cap, `reps` timed
    // reps (see [[Timing]]).
    val results: Map[String, Timing] =
      selected.map { case (name, fn) =>
        // cold survives a later-rep crash: "ran cold fine, crashed
        // warm" and "crashed before ever running" must stay
        // distinguishable in the artifact
        var cold = -1.0
        try {
          val (cg0, jit0) = (cgCount, jitMs)
          // read before the roll's one JobStats.drain, so the bus wait
          // adds no post-run background JIT to any entry
          try cold = JobStats.tagged(spark, name)(once(fn))
          finally coldDiag(name) = (cgCount - cg0, jitMs - jit0)
          if (cold > capSec) {
            System.err.println(
              f"BENCH CAPPED $name: cold $cold%.2fs > cap ${capSec}%.1fs, skipping timed reps")
            val tele = jvmTelemetry
            System.err.println(s"BENCH CAPPED JVM $name: $tele")
            capJvm(name) = tele
            name -> (cold, 0.0, true, cold)
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
    // the committed baseline, parsed once for vs_prev and the summary's
    // vs_prev_total; a missing or unparsable file reads as no baseline
    val prev: Option[com.fasterxml.jackson.databind.JsonNode] = try {
      val f = java.nio.file.Paths.get("BENCH_full.json")
      if (!java.nio.file.Files.exists(f)) None
      else Option(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(f)))
    } catch {
      case e: Throwable =>
        System.err.println(s"BENCH VS_PREV: $e"); None
    }
    // a stuck listener bus costs the counts, not the roll's timings
    try JobStats.drain(spark) catch { case e: Throwable => System.err.println(s"BENCH DRAIN: $e") }
    val stats = results.keys.flatMap(k => JobStats.record(spark, k).map(k -> _)).toMap
    val line = rollLine(results, reps, sfDir, boxFp, prev, capJvm.toMap, coldDiag.toMap, stats)
    println(line)
    val runId = persistArtifacts(line, fullRun = args.isEmpty, SidecarPath)
    val prevTotal = prev.map(_.path("value")).filter(_.isNumber).map(_.asDouble)
    println(summaryLine(results, cpus, sfDir, boxFp, runId, prevTotal))
    spark.stop()
  }
}
