package graft

/** Dev-only tail profiler for the r21 optimization round (the r20 verdict
  * item 6): decomposes the slowest sub-1.3 s bench-tail queries into
  * (plan build+analysis) vs (execution) wall, with per-execution job/
  * stage/task counts and task-time totals from a listener — so the
  * "~55 s tail" diagnosis names a measured mechanism (driver planning vs
  * scheduler fixed cost vs task compute) instead of a guess.
  * Run: sbt "Test/runMain graft.ProfileR21 /root/testdata/sf0.1 [names...]"
  */
object ProfileR21 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("t38_classifier_train", "t24_bigram_nll", "t41_source_overlap",
        "q29_parts_analysis", "m12_phash_clusters", "t32_bpe_vocab",
        "q43_equidepth_hist", "t15_repetition", "t29_bpe_merges",
        "d08_embed_neardup")
    val spark = Session.local(32)
    graft.plans.GraftFunctions.register(spark)
    // session warmup (as Bench)
    Tables.lineitem(spark, sfDir).count()
    Tables.events(spark, sfDir).count()
    Tables.documents(spark, sfDir).count()
    Tables.embeddings(spark, sfDir).count()

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm run: codegen + broadcast + listing
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Session.freeBlocks(spark)
      } catch { case e: Throwable => println(s"[r21] $name WARM FAIL: $e") }
      (1 to 3).foreach { rep =>
        val st = new Bench.SchedStats
        spark.sparkContext.addSparkListener(st)
        try {
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          // force analysis + optimization + physical planning (NOT
          // execution; AQE re-plans during execution are charged to
          // exec below, like the bench sees them)
          df.queryExecution.executedPlan
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          st.settle()
          println(f"[r21] $name%-24s rep$rep plan ${(t1 - t0) / 1e3}%8.0f us  " +
            f"exec ${(t2 - t1) / 1e3}%8.0f us  jobs ${st.jobs.get()}%3d  " +
            f"stages ${st.stages.get()}%3d  tasks ${st.tasks.get()}%4d  " +
            f"task_ms ${st.taskMs.get()}%6d  run_ms ${st.runMs.get()}%6d")
        } finally {
          spark.sparkContext.removeSparkListener(st)
          Session.freeBlocks(spark)
        }
      }
    }
    spark.stop()
  }
}
