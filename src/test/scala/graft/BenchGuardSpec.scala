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

  test("vsPrev marks cross-box baselines and flags >1.5x keys") {
    // the r15 verdict item 2: the in-repo BENCH_full.json baseline
    // alternates between driver and builder rolls, so every flag says
    // whether its baseline came from this box
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val fp = Bench.boxFingerprint("builder-box")
    val other = Bench.boxFingerprint("driver-box")
    def baseline(boxFp: Option[String]) = om.readTree(
      """{"value":10.0,"capped":[],"queries":{"a":1.0,"b":1.0}""" +
        boxFp.map(f => s""","box_fp":"$f"""").getOrElse("") + "}")
    def vs(prev: Option[String], results: Map[String, Bench.Timing]) =
      om.readTree(Bench.vsPrev(Some(baseline(prev)), results, fp))
    val flat = Map("a" -> row(1.0), "b" -> row(1.0))
    // pre-r16 baseline: no fingerprint → cross_box unknown (null)
    assert(vs(None, flat).get("cross_box").isNull)
    assert(vs(None, flat).get("prev_box_fp").isNull)
    // same box → false; different box → true, with the baseline's fp
    assert(!vs(Some(fp), flat).get("cross_box").asBoolean())
    val cross = vs(Some(other), flat)
    assert(cross.get("cross_box").asBoolean())
    assert(cross.get("prev_box_fp").asText() == other)
    assert(cross.get("prev_total").asDouble() == 10.0)
    assert(cross.get("flagged").size() == 0 && cross.get("still_capped").size() == 0)
    // a >1.5x key lands in flagged with its ratio; a 1.4x move does not
    val flagged = vs(Some(fp), Map("a" -> row(1.6), "b" -> row(1.4))).get("flagged")
    assert(flagged.size() == 1 && flagged.get("a").asDouble() == 1.6)
    // no baseline file: the one fallback shape, same fields
    val empty = om.readTree(Bench.vsPrev(None, flat, fp))
    assert(empty.get("cross_box").isNull && empty.get("prev_total").isNull)
    import scala.jdk.CollectionConverters._
    assert(empty.fieldNames().asScala.toList == cross.fieldNames().asScala.toList)
  }

  test("summaryLine is one parseable line under 1500 chars at any registry size") {
    // the full line is ~31 KB at 202 keys and falls outside a 2000-char
    // stdout tail; the compact line must survive it whatever the size
    val keys = (0 until 202).map(i => f"q$i%03d_" + "x" * 35)
    assert(keys.forall(_.length == 40))
    val results = keys.zipWithIndex.map { case (k, i) =>
      k -> (if (i == 0) row(-1.0) else if (i == 1) row(31.0, capped = true, cold = 31.0)
        else row(1.0 + i / 1000.0)) }.toMap
    val line = Bench.summaryLine(results, 32, "/root/testdata/sf0.1",
      Bench.boxFingerprint("builder-box"), "1760000000000-abcdef12", Some(120.0))
    assert(!line.contains("\n") && line.length < 1500, s"${line.length} chars")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    import scala.jdk.CollectionConverters._
    assert(node.fieldNames().asScala.toList == List("metric", "value", "unit",
      "n_queries", "n_errors", "n_capped", "cpus", "sf", "box_fp", "run_id",
      "vs_prev_total", "slowest10"))
    assert(node.get("n_queries").asInt() == 201 && node.get("n_errors").asInt() == 1)
    assert(node.get("n_capped").asInt() == 1 && node.get("cpus").asInt() == 32)
    assert(node.get("run_id").asText() == "1760000000000-abcdef12")
    val total = results.values.map(_._1).filter(_ >= 0).sum
    assert(node.get("value").asDouble() == total)
    assert(node.get("vs_prev_total").asDouble() == math.round(total / 120.0 * 1000) / 1000.0)
    val slow = node.get("slowest10")
    assert(slow.size() == 10 && slow.fieldNames().next() == keys(1))
    assert(Bench.summaryLine(results, 32, "sf", "fp", "id", None)
      .contains("\"vs_prev_total\":null"))
  }

  test("the committed roll artifact carries the adjudication contract") {
    // r16: BENCH_full.json is the baseline every next roll's vs_prev and
    // summary parse — if a Bench refactor drops a field they read, the
    // chain goes quietly blind. Pinned here: what vsPrev/summaryLine read
    // from the committed file; the full line shape is pinned on synthetic
    // results by the rollLine test below, because the committed file is
    // whichever full roll ran last. An absent file (fresh clone) skips.
    val f = new java.io.File("BENCH_full.json")
    assume(f.exists, "no committed roll artifact in this checkout")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readAllBytes(f.toPath))
    assert(root.get("value").isNumber, "summaryLine reads the baseline total")
    assert(root.get("queries").isObject && root.get("queries").size() > 0,
      "vsPrev reads the per-query warm-mins")
    assert(root.get("capped").isArray, "vsPrev reads the capped keys")
    assert(root.has("box_fp") && root.get("box_fp").asText().nonEmpty,
      "vsPrev labels cross-box baselines from box_fp")
  }

  test("rollLine pins the full line's shape on synthetic results") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    import com.fasterxml.jackson.databind.JsonNode
    def fields(n: JsonNode) = n.fieldNames().asScala.toList
    def longs(n: JsonNode) = n.elements().asScala.map(_.asLong).toList
    val rec = JobStats.Record(46, 60, 131, 4000, 3500, 20, Seq("setup" -> 0.5, "p0" -> 4.0))
    // the SF dir comes from the environment: a quote or backslash in it
    // must not corrupt the line (nor the next roll's vs_prev parse)
    val sf = """/data/sf"0.1\x"""
    val line = Bench.rollLine(Map("t37" -> row(9.0, cold = 12.0), "err" -> row(-1.0)), 2, sf,
      "fp", Some(om.readTree("""{"value":10.0,"capped":[],"queries":{"t37":5.0},"box_fp":"0"}""")),
      Map.empty, Map("t37" -> (0L, 8490L), "err" -> (1L, 2L)), Map("t37" -> rec))
    val root = om.readTree(line)
    assert(fields(root) == List("metric", "value", "unit", "sf", "box_fp", "reps", "warmups",
      "noise_floor_med_spread", "errors", "capped", "vs_prev", "cold_diag_fields",
      "cold_diag", "spread", "cold", "queries", "tail"))
    assert(root.get("sf").asText() == sf && root.get("value").asDouble() == 9.0)
    assert(fields(root.get("vs_prev")) ==
      List("prev_total", "prev_box_fp", "cross_box", "flagged", "still_capped"))
    assert(root.get("vs_prev").get("flagged").get("t37").asDouble() == 1.8)
    assert(root.get("cold_diag_fields").elements().asScala.map(_.asText).toList ==
      Bench.ColdDiagFields)
    assert(longs(root.get("cold_diag").get("t37")) == List(0, 8490, 46, 60, 131, 4000, 3500, 20))
    assert(longs(root.get("cold_diag").get("err")) == List(1, 2, 0, 0, 0, 0, 0, 0))
    val tail = root.get("tail")
    assert(fields(tail) == List("total_s", "n_queries", "n_errors", "cap_jvm",
      "cold_steps", "slowest10"))
    assert(fields(tail.get("cold_steps")) == List("t37"), "only keys that recorded steps")
    assert(fields(tail.get("cold_steps").get("t37")) == List("setup", "p0"))
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

  test("JobStats.step is plain outside a tag; inside one it sums walls per label") {
    val spark = SparkSpec.session
    assert(JobStats.step(spark, "outside")(42) == 42)
    JobStats.tagged(spark, "BenchGuardSpec steps") {
      JobStats.step(spark, "setup")(Thread.sleep(20))
      JobStats.step(spark, "p0")(Thread.sleep(30))
      assert(JobStats.step(spark, "setup") { Thread.sleep(20); "v" } == "v")
    }
    JobStats.step(spark, "outside")(())
    val steps = JobStats.record(spark, "BenchGuardSpec steps").get.steps
    assert(steps.map(_._1) == Seq("setup", "p0"), s"run order, one entry per label: $steps")
    assert(steps.head._2 >= 0.04 && steps(1)._2 >= 0.03, s"$steps")
  }

  test("JobStats counts are exact after drain; untagged and marker jobs are excluded") {
    val spark = SparkSpec.session
    val sc = spark.sparkContext
    JobStats.tagged(spark, "BenchGuardSpec counts") {
      sc.parallelize(1 to 4, 2).count()
      JobStats.tagged(spark, "BenchGuardSpec inner")(sc.parallelize(1 to 2, 1).count())
      sc.parallelize(1 to 10, 3).map(x => (x % 2, x)).reduceByKey(_ + _, 2).count()
    }
    JobStats.drain(spark)
    val r = JobStats.record(spark, "BenchGuardSpec counts").get
    assert(r.counts.take(3) == Seq(2, 3, 7), s"$r")
    assert(JobStats.record(spark, "BenchGuardSpec inner").get.counts.take(3) == Seq(1, 1, 1))
    sc.parallelize(1 to 4, 2).count() // untagged, then a second marker job
    JobStats.drain(spark)
    assert(JobStats.record(spark, "BenchGuardSpec counts").get == r)
    assert(sc.getLocalProperty("graft.tag") == null, "the tag is restored")
  }
}
