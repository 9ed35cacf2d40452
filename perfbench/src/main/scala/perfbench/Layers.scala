package perfbench

/** Per-layer metrics of a traced run. Every run reports the full list; a
  * layer the workload never calls reads 0. Times and counts are medians of
  * per-operation values over the operations that entered the layer;
  * ratios are pooled over the whole window.
  */
object Layers {
  /** metric name -> span name, for layers measured as self time. */
  val SelfTimed: Seq[(String, String)] = Seq(
    "sources.read_ms" -> "sources.read",
    "sources.install_ms" -> "sources.install",
    "sources.compact_ms" -> "sources.compact",
    "operators.build_ms" -> "operators.build",
    "operators.index_extract_ms" -> "operators.index_extract",
    "operators.upsert_ms" -> "operators.upsert",
    "dedup.exact_ms" -> "dedup.exact",
    "dedup.lsh_ms" -> "dedup.lsh",
    "dedup.components_ms" -> "dedup.components",
    "ann.train_ms" -> "ann.train",
    "ann.topk_ms" -> "ann.topk",
    "text.span_removal_ms" -> "text.span_removal",
    "plan.ms" -> "plan",
    "trace.uncovered_ms" -> "uncovered")

  /** Metrics only some workloads produce, with their units. */
  val WorkloadSpecific: Seq[(String, String)] = Seq(
    "sources.files_per_read" -> "count",
    "sources.write_amp" -> "ratio",
    "sources.store_mb" -> "MB",
    "dedup.candidate_pairs" -> "count")

  /** Window-level codegen counter deltas. */
  final case class CodegenWindow(compiles: Long, compileNs: Long)

  def record(res: RunResult, tracer: Tracer, ops: Seq[OpRecord], cg: CodegenWindow,
      extra: Map[String, Double], spansPath: String): Unit = {
    tracer.drain()
    val spans = tracer.allSpans
    tracer.writeSpans(spansPath, spans)
    val opIds = ops.map(_.id).toSet
    val self = Tracer.selfTimes(spans.filter(s => opIds(s.op)))
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

    SelfTimed.foreach { case (metric, span) =>
      res.metric(metric, med(ops.flatMap(o => self.get(o.id).flatMap(_.get(span))).map(_ / 1000.0)), "ms")
    }
    WorkloadSpecific.foreach { case (m, unit) => res.metric(m, extra.getOrElse(m, 0.0), unit) }

    val n = math.max(1, ops.size).toDouble
    res.metric("codegen.compiles", cg.compiles / n, "count")
    res.metric("codegen.compile_ms", cg.compileNs / 1e6 / n, "ms")
    res.metric("codegen.hit_ratio", ops.count(_.compiles == 0) / n, "ratio")

    val eng = ops.map(o => o -> tracer.engineFor(o.id))
    def engMed(f: EngineAgg => Double): Double = med(eng.map { case (_, a) => f(a) })
    res.metric("sched.jobs", engMed(_.jobs.toDouble), "count")
    res.metric("sched.stages", engMed(_.stages.toDouble), "count")
    res.metric("sched.tasks", engMed(_.tasks.toDouble), "count")
    res.metric("sched.gap_ms", med(eng.map { case (o, a) =>
      ((o.endUs - o.startUs) - Tracer.covered(a.taskIntervals, o.startUs, o.endUs)) / 1000.0
    }), "ms")
    res.metric("exec.task_ms", engMed(_.taskMs.toDouble), "ms")
    res.metric("exec.cpu_ms", engMed(_.cpuNs / 1e6), "ms")
    res.metric("exec.gc_ms", engMed(_.gcMs.toDouble), "ms")
    res.metric("exec.input_rows", engMed(_.inputRows.toDouble), "count")
    res.metric("exec.shuffle_bytes", engMed(_.shuffleBytes.toDouble), "bytes")
    res.metric("exec.spill_bytes", engMed(_.spillBytes.toDouble), "bytes")
    val reads = eng.filter(_._1.kind.startsWith("read"))
    val scanned = reads.map(_._2.inputRows).sum
    res.metric("exec.selectivity",
      if (scanned == 0) 0.0 else reads.map(_._1.rows).sum.toDouble / scanned, "ratio")

    res.metric("trace.op_ms", med(ops.map(_.wallMs)), "ms")
    res.info("spans_file") = Json.str(spansPath)
  }
}
