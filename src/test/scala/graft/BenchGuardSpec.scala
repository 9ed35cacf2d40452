package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's vs_prev regression-flag rule (r11): this logic has had
  * two blind-spot bugs across rounds — capped entries dropped from the
  * flags entirely (r10 ADVICE), then consecutively-capped entries
  * dropped (r11 review) — so the rule now lives in a pure function with
  * the failure cases enumerated here.
  */
class BenchGuardSpec extends AnyFunSuite {

  private def row(warm: Double, capped: Boolean = false,
      cold: Double = -1.0): (Double, Double, Boolean, Double) =
    (warm, 0.0, capped, cold)

  test("a >1.5x warm regression flags with its ratio; smaller moves do not") {
    val flags = Bench.vsPrevFlags(
      Map("a" -> row(1.6), "b" -> row(1.4)),
      Map("a" -> 1.0, "b" -> 1.0), Set.empty)
    assert(flags == Seq(("a", 1.6, false)))
  }

  test("a NEWLY capped query flags unconditionally (cold-vs-prev-warm)") {
    // the r10 ADVICE case: 10s warm -> 40s capped must not vanish
    val flags = Bench.vsPrevFlags(
      Map("t37" -> row(40.0, capped = true, cold = 40.0)),
      Map("t37" -> 10.0), Set.empty)
    assert(flags == Seq(("t37", 4.0, true)))
  }

  test("a query capped in CONSECUTIVE rolls still flags (cold-vs-prev-cold)") {
    // the r11 review case: prev roll stored its 54.9s cold in `queries`
    val flags = Bench.vsPrevFlags(
      Map("t37" -> row(120.0, capped = true, cold = 120.0)),
      Map("t37" -> 54.9), Set("t37"))
    assert(flags.map(f => (f._1, f._3)) == Seq(("t37", true)))
    assert(math.abs(flags.head._2 - 120.0 / 54.9) < 0.01)
  }

  test("a now-UNCAPPED query with a prev-capped prior is excluded") {
    // warm 12s vs prior 54.9s COLD would read as a (bogus) improvement,
    // and even a warm above the prior cold must not compare cross-class
    val flags = Bench.vsPrevFlags(
      Map("t37" -> row(12.0), "x" -> row(90.0)),
      Map("t37" -> 54.9, "x" -> 54.9), Set("t37", "x"))
    assert(flags.isEmpty)
  }

  test("errored queries and queries without a usable prior never flag") {
    val flags = Bench.vsPrevFlags(
      Map("err" -> row(-1.0), "new" -> row(9.9), "zero" -> row(9.9)),
      Map("err" -> 1.0, "zero" -> 0.0), Set.empty)
    assert(flags.isEmpty)
  }

  test("flags sort worst ratio first") {
    val flags = Bench.vsPrevFlags(
      Map("a" -> row(2.0), "b" -> row(3.0)),
      Map("a" -> 1.0, "b" -> 1.0), Set.empty)
    assert(flags.map(_._1) == Seq("b", "a"))
  }

  test("splitFlags routes a capped-but-not-worse entry out of the regressions") {
    // the r11 ADVICE case: a CONSECUTIVELY capped query whose cold
    // IMPROVED (0.5x) must not surface as a REGRESSION — but it must
    // not vanish either (the artifact keeps it under still_capped)
    val (regressed, stillCapped) = Bench.splitFlags(
      Seq(("t37", 0.5, true), ("even", 1.0, true)), Set("t37", "even"))
    assert(regressed.isEmpty)
    assert(stillCapped.map(_._1) == Seq("t37", "even"))
  }

  test("splitFlags keeps capped regressions and uncapped flags in the regressions") {
    val (regressed, stillCapped) = Bench.splitFlags(
      Seq(("t37", 4.0, true), ("a", 1.6, false)), Set("t37"))
    assert(regressed.map(_._1) == Seq("t37", "a"))
    assert(stillCapped.isEmpty)
  }

  test("splitFlags keeps a NEWLY capped ratio<=1 entry in the regressions") {
    // the r12 ADVICE case: lowering SPARK_GRAFT_BENCH_CAP_S between
    // rolls can cap a query whose cold-vs-prev-warm ratio is <= 1; the
    // prior roll did NOT cap it, so it is a fresh cap event, not a
    // "still capped, not a regression"
    val (regressed, stillCapped) = Bench.splitFlags(
      Seq(("q", 0.9, true)), Set.empty)
    assert(regressed.map(_._1) == Seq("q"))
    assert(stillCapped.isEmpty)
  }

  test("jsonEsc neutralizes quotes, backslashes, and control chars") {
    // the r13 ADVICE case: a control character in free-form JVM
    // telemetry (pool names vary across JDKs) must not corrupt the
    // BENCH_full.json artifact nor break the next roll's vs_prev parse
    assert(Bench.jsonEsc("""a"b\c""") == """a\"b\\c""")
    assert(Bench.jsonEsc("x\ny\tz\u0000") == "x\\u000ay\\u0009z\\u0000")
    // the escaped value must round-trip through a real JSON parser
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val raw = "CodeHeap 'non-profiled nmethods'=12MB\nMetaspace=97MB\t\"q\""
    val node = om.readTree(s"""{"v":"${Bench.jsonEsc(raw)}"}""")
    assert(node.get("v").asText() == raw)
  }

  test("capRetryJson records both values and adjudicates recovery in-artifact") {
    // r18 (the r17 verdict item 1): three consecutive driver rolls
    // landed in degraded host windows and every capped slot's transience
    // needed an OFF-artifact band essay. The roll-end retry makes the
    // artifact self-adjudicating: retry back under the cap = transient
    // (box-proven); retry still over = read against the probe windows;
    // errored retry (-1) = never "recovered".
    // r19 (the r18 verdict item 2): the first live recovered:false was
    // unadjudicable because the END probe ran minutes before the retry
    // — each retry is now BRACKETED by its own st/mt micro-probes,
    // each labeled in_band against the §6b bands, so recovered:false
    // with clean brackets names a real mechanism in-artifact.
    val inBandPre = (350L, 450L) // inside st 298-415 / mt 378-579
    val degradedPost = (820L, 730L) // the r18 degraded-window anchors
    val json = Bench.capRetryJson(
      Seq(("t37_span_removal", 35.8, Some(9.1), Some(inBandPre), Some(inBandPre)),
        ("d35_hybrid_rrf_served", 45.6, Some(44.2), Some(inBandPre),
          Some(degradedPost)),
        ("broken", 31.0, Some(-1.0), Some(inBandPre), Some(inBandPre)),
        ("blowup", 800.0, None, None, None)), capSec = 30.0)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(json)
    val t37 = node.get("t37_span_removal")
    assert(t37.get("cold").asDouble() == 35.8)
    assert(t37.get("retry").asDouble() == 9.1)
    assert(t37.get("recovered").asBoolean(), "retry under cap = transient")
    assert(t37.get("probe_pre").get("st_ms").asLong() == 350)
    assert(t37.get("probe_pre").get("in_band").asBoolean(),
      "in-band CPU anchors must self-label clean")
    val d35 = node.get("d35_hybrid_rrf_served")
    assert(!d35.get("recovered").asBoolean(),
      "a retry still over the cap is NOT recovered")
    assert(d35.get("probe_pre").get("in_band").asBoolean())
    assert(!d35.get("probe_post").get("in_band").asBoolean(),
      "degraded anchors must self-label out-of-band")
    assert(!node.get("broken").get("recovered").asBoolean(),
      "an errored retry (-1) must never read as recovered")
    // a guard-skipped retry (cold beyond CapRetryMaxColdFactor x cap —
    // mechanism-scale, not re-paid at roll end) renders null/false and
    // stays distinguishable from an ERRORED retry (-1); nothing ran
    // between its brackets, so they render null too
    assert(node.get("blowup").get("retry").isNull,
      "guard-skipped retry must render null, not -1")
    assert(!node.get("blowup").get("recovered").asBoolean())
    assert(node.get("blowup").get("probe_pre").isNull
      && node.get("blowup").get("probe_post").isNull)
    assert(Bench.CapRetryMaxColdFactor == 4.0,
      "the blow-up guard factor is part of the artifact contract")
    // a retry landing exactly AT the cap recovered (the cap rule is
    // strictly-greater: main caps on warm > capSec)
    assert(om.readTree(Bench.capRetryJson(
        Seq(("q", 31.0, Some(30.0), Some(inBandPre), Some(inBandPre))), 30.0))
      .get("q").get("recovered").asBoolean())
    // keys sort for cross-roll diffability; a clean roll renders {}
    assert(json.indexOf("blowup") < json.indexOf("broken"))
    assert(json.indexOf("broken") < json.indexOf("d35_hybrid_rrf_served"))
    assert(Bench.capRetryJson(Nil, 30.0) == "{}")
  }

  test("bandCheck labels probe windows against the §6b reference bands") {
    // r19 (the r18 verdict item 3): band placement was a human with §6b
    // open; the bands are constants now and every window self-labels.
    // In-band = every banded arm present, positive, at or under its
    // ceiling; below-lo is a FASTER box, still in band.
    val clean = Map("st_ms" -> 310L, "mt_ms" -> 420L, "shuf_ms" -> 700L,
      "scan1_ms" -> 200L, "jobs_ms" -> 1800L)
    assert(Bench.bandCheck(clean) == ((true, Seq.empty)))
    assert(Bench.bandCheck(clean + ("st_ms" -> 200L))._1,
      "below-lo reads as a faster box, not a degraded one")
    // the r18 driver roll's start window: jobs 19x out, CPU arms out
    val r18 = Map("st_ms" -> 828L, "mt_ms" -> 729L, "shuf_ms" -> 1074L,
      "scan1_ms" -> 245L, "jobs_ms" -> 46955L)
    val (inBand, oob) = Bench.bandCheck(r18)
    assert(!inBand && oob == Seq("st_ms", "mt_ms", "shuf_ms", "jobs_ms"))
    // a missing or errored (-1) arm is out-of-band BY NAME: an
    // unprovable window must not read as clean
    assert(Bench.bandCheck(clean - "jobs_ms")._2 == Seq("jobs_ms"))
    assert(Bench.bandCheck(clean + ("scan1_ms" -> -1L))._2 == Seq("scan1_ms"))
    // unbanded arms (spark_ms/scan_ms) never affect the label
    assert(Bench.bandCheck(clean + ("spark_ms" -> 99999L))._1)
    // the CPU-only pad makes a st/mt micro-window checkable without
    // reading the deliberately-unmeasured disk/scheduler arms as oob
    assert(Bench.bandCheck(Map("st_ms" -> 350L, "mt_ms" -> 450L)
      ++ Bench.CpuOnlyPad)._1)
  }

  test("boxFingerprint is a stable short digest; distinct identities differ") {
    // r16 (the r15 verdict item 2): the artifact stamps an identity
    // DIGEST so the next roll can tell a same-box baseline from a
    // cross-box one without committing the raw identity
    val a = Bench.boxFingerprint("vm|machine-a|boot-1")
    assert(a == Bench.boxFingerprint("vm|machine-a|boot-1"), "must be deterministic")
    assert(a.matches("[0-9a-f]{8}"), s"8 hex chars: $a")
    assert(a != Bench.boxFingerprint("vm|machine-a|boot-2"))
    // the identity input is hostname|machine-id|boot_id — in this
    // fleet every VM's hostname is the generic "vm", so the boot_id
    // component is what keeps the driver and builder boxes from
    // colliding into a (wrong) same-box label; stable within a session
    val id = Bench.boxIdentity()
    assert(id.count(_ == '|') == 2, s"three-component identity: $id")
    // environment-dependent arm gated on the ENVIRONMENT, not the
    // result (r17, the r16 ADVICE + this round's review): on a stripped
    // container every component can legitimately degrade to "" — a
    // portability flake, so cancel THERE. But cancel only when this
    // test's own independent probe finds no source either: an
    // unconditional assume(result.nonEmpty) would silently mask a
    // boxIdentity regression that breaks all three reads on a healthy
    // box — the exact every-box-stamps-the-same-fingerprint mislabeling
    // the identity exists to prevent.
    def readable(p: String): Boolean =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8").trim.nonEmpty
      catch { case _: Throwable => false }
    val anySource = readable("/etc/machine-id") ||
      readable("/proc/sys/kernel/random/boot_id") ||
      scala.util.Try(java.net.InetAddress.getLocalHost.getHostName)
        .toOption.exists(_.nonEmpty) ||
      sys.env.get("HOSTNAME").exists(_.nonEmpty)
    assume(anySource, "stripped container: no identity source available")
    assert(id.replace("|", "").nonEmpty,
      "an available identity source must appear in the identity")
    assert(id == Bench.boxIdentity(), "stable within a boot")
  }

  test("a fully-degraded identity still fingerprints (stripped-container path)") {
    // the degradation contract: boxIdentity never throws and every
    // component independently falls back to "" — the fingerprint of the
    // worst case ("||") must still be a valid, deterministic 8-hex
    // digest so a stripped box stamps a usable (if collision-prone)
    // label instead of failing the roll
    val fp = Bench.boxFingerprint("||")
    assert(fp.matches("[0-9a-f]{8}"), s"8 hex chars: $fp")
    assert(fp == Bench.boxFingerprint("||"))
    assert(fp != Bench.boxFingerprint("vm||"))
  }

  test("the start/end ratio pair names a mid-roll degradation") {
    // r17 (the r16 verdict item 2): box_ratio reads the START probes
    // and box_ratio_end the END probes — same pure function, different
    // window anchors. The blind spot this closes: a box that degrades
    // MID-roll (r16's roll-1 page-cache reclaim) shows a clean start
    // ratio; the end pair is what flags it.
    val fp = Bench.boxFingerprint("builder-box")
    val start = Bench.baselineLabel(fp, Some(fp), 303, 417, Some(308), Some(400))
    val end = Bench.baselineLabel(fp, Some(fp), 920, 1230, Some(308), Some(400))
    assert(start._2.contains((0.98, 1.04)), "start window reads clean")
    assert(end._2.contains((2.99, 3.08)), "end window names the degradation")
    assert(start._1 == end._1, "fingerprint verdict is window-independent")
  }

  test("baselineLabel marks cross-box baselines and computes probe ratios") {
    // the r15 verdict item 2: the in-repo BENCH_full.json baseline
    // alternates between driver and builder rolls, so the flags'
    // meaning silently flipped every round — the artifact now carries
    // the adjudication inputs itself
    val fp = Bench.boxFingerprint("builder-box")
    val other = Bench.boxFingerprint("driver-box")
    // pre-r16 baseline: no fingerprint → cross_box unknown (null),
    // but the probe-state ratios still compute
    assert(Bench.baselineLabel(fp, None, 330, 470, Some(300), Some(470)) ==
      ((None, Some((1.1, 1.0)))))
    // same box → cross_box false
    assert(Bench.baselineLabel(fp, Some(fp), 330, 470, Some(330), Some(470))
      ._1.contains(false))
    // different box → cross_box true, ratios still carried
    val (cross, ratios) =
      Bench.baselineLabel(fp, Some(other), 307, 463, Some(357), Some(583))
    assert(cross.contains(true))
    assert(ratios.contains((0.86, 0.79)))
    // a failed probe on either side (−1 / missing) yields no ratio but
    // never suppresses the fingerprint verdict
    assert(Bench.baselineLabel(fp, Some(other), -1, 470, Some(330), Some(470))
      == ((Some(true), None)))
    assert(Bench.baselineLabel(fp, Some(fp), 330, 470, None, None)
      == ((Some(false), None)))
  }

  test("the committed roll artifact carries the adjudication contract") {
    // r16: BENCH_full.json is the baseline every next roll's vs_prev
    // parses AND the evidence §6b adjudications quote — if a Bench
    // refactor drops a field the whole chain goes quietly blind.
    // Tolerant by design: values may be null (failed probe arms, a
    // pre-r16 driver roll mid-transition), only the SHAPE is pinned,
    // and an absent file (fresh clone) skips.
    val f = new java.io.File("BENCH_full.json")
    assume(f.exists, "no committed roll artifact in this checkout")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readAllBytes(f.toPath))
    for (k <- Seq("value", "queries", "spread", "cold", "capped", "errors",
        "vs_prev", "cold_compiles", "cold_jit_ms", "tail"))
      assert(root.has(k), s"artifact lost top-level field $k")
    val tail = root.get("tail")
    for (k <- Seq("total_s", "n_queries", "n_errors", "cap_jvm", "cap_retry",
        "box", "cold_diag", "t37_passes", "t37_sched", "slowest10"))
      assert(tail.has(k), s"artifact tail lost field $k")
    // the r16 baseline label: box_fp top-level + in the tail box, and
    // vs_prev carrying the cross-box adjudication fields
    assert(root.has("box_fp") && root.get("box_fp").asText().nonEmpty)
    assert(tail.get("box").has("fp"))
    for (k <- Seq("prev_total", "prev_box_fp", "cross_box", "box_ratio",
        "box_ratio_end", "baseline_end_in_band", "flagged", "still_capped"))
      assert(root.get("vs_prev").has(k), s"vs_prev lost field $k")
    // r19: every probe window self-labels against the §6b band
    // constants — in_band plus the out-of-band arm names — and the
    // baseline-commit rule is mechanically checkable via
    // vs_prev.baseline_end_in_band above
    for (w <- Seq("start", "end")) {
      val win = tail.get("box").get(w)
      assume(win != null && win.isObject, s"probe $w window null on this roll")
      assert(win.has("in_band") && win.has("oob"),
        s"probe $w window lost its band self-label")
    }
  }

  test("persistArtifacts always writes the sidecar; selective runs spare BENCH_full") {
    // r21, the r20 verdict item 3: the driver's stdout capture has
    // tail-truncated the 202-key JSON line into `parsed: null` for four
    // straight rounds — the sidecar is the capture-proof copy. Pin that
    // (a) EVERY invocation writes the exact line + newline to the sidecar
    // path it is given, and (b) a selective run (fullRun=false) leaves
    // the committed round record untouched. The spec writes a temp
    // sidecar and asserts the real Bench.SidecarPath is untouched too.
    val sentinel = s"""{"metric":"total","sentinel":${System.nanoTime()}}"""
    def snapshot(p: java.nio.file.Path) =
      if (java.nio.file.Files.exists(p))
        Some(java.nio.file.Files.readAllBytes(p).toSeq)
      else None
    val full = java.nio.file.Paths.get("BENCH_full.json")
    val real = java.nio.file.Paths.get(Bench.SidecarPath)
    val (fullBefore, realBefore) = (snapshot(full), snapshot(real))
    val side = java.nio.file.Files.createTempFile("graft_bench_sidecar", ".json")
    try {
      val runId = Bench.persistArtifacts(sentinel, fullRun = false, side.toString)
      assert(new String(java.nio.file.Files.readAllBytes(side), "UTF-8")
        == s"""{"run_id":"$runId",""" + sentinel.drop(1) + "\n",
        "sidecar must carry the exact line, stamped with the run id")
      assert(Bench.persistArtifacts(sentinel, fullRun = false, side.toString) != runId,
        "two rolls must get distinct run ids")
    } finally java.nio.file.Files.deleteIfExists(side)
    assert(snapshot(full) == fullBefore,
      "a selective run must not clobber the committed round record")
    assert(snapshot(real) == realBefore,
      "the spec must not touch the real bench sidecar")
  }

  test("persistArtifacts replaces a symlink at the sidecar path, never its target") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_bench_symlink")
    val victim = dir.resolve("victim.txt")
    Files.write(victim, "keep me".getBytes("UTF-8"))
    val side = Files.createSymbolicLink(dir.resolve("sidecar.json"), victim)
    try {
      Bench.persistArtifacts("""{"metric":"total"}""", fullRun = false, side.toString)
      assert(new String(Files.readAllBytes(victim), "UTF-8") == "keep me",
        "the symlink target must be untouched")
      assert(!Files.isSymbolicLink(side) && Files.isRegularFile(side))
      assert(new String(Files.readAllBytes(side), "UTF-8").startsWith("""{"run_id":"""))
      assert(dir.toFile.list().toSet == Set("victim.txt", "sidecar.json"),
        "the sibling temp file must be moved, not left behind")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("PassWall buckets t37 step labels by pass and aggregates wall time") {
    // the r15 probe extension: Bench arms this collector around t37's
    // cold slot and emits the snapshot as the tail's `t37_passes` — the
    // label→bucket mapping and the per-bucket accumulation are what
    // make the artifact field readable, so they are pinned here
    import graft.queries.TextQueries.PassWall
    assert(PassWall.bucket("docs ckpt+capN") == "setup")
    assert(PassWall.bucket("fpsBase winnow+ckpt") == "setup")
    assert(PassWall.bucket("pass 0 stats ckpt") == "p0")
    assert(PassWall.bucket("pass 1 dfC ckpt") == "p1")
    assert(PassWall.bucket("pass 3 delta+count ckpt") == "p3")
    assert(PassWall.bucket("pass 12 count") == "p12")
    PassWall.reset()
    PassWall.record("pass 0 stats ckpt", 1500000000L)
    PassWall.record("pass 0 count", 500000000L)
    PassWall.record("docs ckpt", 250000000L)
    val snap = PassWall.snapshot.toMap
    assert(math.abs(snap("p0") - 2.0) < 1e-9, s"p0 must aggregate: $snap")
    assert(math.abs(snap("setup") - 0.25) < 1e-9)
    // snapshot order is NUMERIC pass order with setup last (r16, the
    // r15 ADVICE: lexicographic would put p10 before p2)
    PassWall.record("pass 10 count", 1L)
    PassWall.record("pass 2 count", 1L)
    assert(PassWall.snapshot.map(_._1) == Seq("p0", "p2", "p10", "setup"))
    PassWall.reset()
    assert(PassWall.snapshot.isEmpty)
  }

  test("SchedStats accumulates job/stage/task telemetry and renders JSON") {
    // the r15 t37_sched field: a driver-box cold premium decomposes into
    // "task time grew" (run_ms tracks the wall) vs "gaps grew" (run_ms
    // flat while wall doubles — the scheduler axis). The accumulator and
    // its JSON shape are what the adjudication reads, so pin them.
    val spark = SparkSpec.session
    val s = new Bench.SchedStats
    spark.sparkContext.addSparkListener(s)
    try {
      spark.range(1L << 16).selectExpr("sum(id)").head()
      s.settle()
    } finally spark.sparkContext.removeSparkListener(s)
    assert(s.jobs.get() >= 1 && s.stages.get() >= 1 && s.tasks.get() >= 1,
      s"telemetry must accumulate: ${s.json}")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(s.json)
    assert(node.get("tasks").asLong() == s.tasks.get())
    assert(node.get("task_ms").asLong() >= 0 && node.get("gc_ms").asLong() >= 0)
    // a fresh instance renders all-zero (the not-benched shape in the tail)
    assert(om.readTree(new Bench.SchedStats().json).get("jobs").asLong() == 0)
  }
}
