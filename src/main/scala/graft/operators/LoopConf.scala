package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scoped shuffle configuration for small iterative loops (r20, guide §2:
  * make partitioning scale-adaptive — derive from input size — rather
  * than a constant).
  *
  * The trainer/closure loops (Lloyd k-means, PQ codebooks, connected
  * components, PageRank, MMR) run O(iterations) tiny plans over
  * sample- or label-table-sized data. Measured at sf0.1 their warm cost
  * is dominated by per-stage fixed overhead — AQE materializes every
  * exchange as its own job with a driver re-plan between stages, and each
  * stage launches `spark.sql.shuffle.partitions` tasks for kilobytes of
  * data (components/d11: 3.36 s → 2.5 s warm from this change alone; AQE
  * off at the session's static partition count measured 9.4 s, so the
  * adaptation needs both halves).
  *
  * `withSized` runs `body` at a partition count derived from a MEASURED
  * row count — a fixed `RowsPerPart` (64k) rows per partition, not a
  * parameter — AQE off, but only when that count stays below the
  * session default. Big inputs keep the caller's conf
  * untouched: at scale the same loops want AQE's skew handling more than
  * they want to shave per-stage planning latency, so the fast path can
  * only engage when the loop data is provably small. Scan parallelism is
  * unaffected either way (file splits, not shuffle partitions).
  *
  * The conf flips are session-scoped and restored in finally; Bench,
  * Verify, and the drivers run queries single-threaded, and the wrapped
  * regions are the eager loop bodies (every action inside runs before the
  * conf restores).
  *
  * `barrier` is the loops' shared materialization point: it checkpoints
  * a loop's input and measures its row count for `withSized` in one job.
  */
object LoopConf {

  /** Shuffle partition size inside a sized loop, in rows. */
  private val RowsPerPart = 65536L

  /** Materialize `df` and probe its size in ONE job: a lazy
    * `localCheckpoint` marks the RDD, and the RDD count that measures it
    * is the action that materializes it (an eager checkpoint runs exactly
    * this count internally and discards the value). Returns the
    * checkpointed frame — read it instead of `df` — and its row count,
    * the `nRows` for [[withSized]].
    */
  def barrier(df: DataFrame): (DataFrame, Long) = {
    val cp = df.localCheckpoint(eager = false)
    (cp, cp.queryExecution.toRdd.count())
  }

  /** Run `body` under the sized loop conf described above.
    *
    * CONTRACT (r21, the r20 ADVICE — the API invites misuse otherwise):
    * `body` must be EAGER — every plan it builds must execute (action /
    * eager localCheckpoint) before it returns. A body that returns a
    * lazy DataFrame executed after this call is a silent no-op: the conf
    * is restored in finally, so the deferred execution plans under the
    * caller's conf, not the sized one. Lazy values may only escape when
    * rooted on state already materialized inside (a checkpointed RDD).
    * Also NOT thread-safe across concurrent queries on one session —
    * the flips are session-global; Bench/Verify/the drivers run queries
    * single-threaded, and nesting keeps the innermost size (each level
    * restores its own previous value).
    */
  def withSized[T](spark: SparkSession, nRows: Long)(body: => T): T = {
    val sess = spark.sessionState.conf.numShufflePartitions
    val parts = math.max(1L, math.min(sess.toLong, nRows / RowsPerPart)).toInt
    if (parts >= sess) body
    else
      withConf(spark, "spark.sql.adaptive.enabled", "false")(
        withConf(spark, "spark.sql.shuffle.partitions", parts.toString)(body))
  }

  private def withConf[T](spark: SparkSession, k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old match {
      case Some(o) => spark.conf.set(k, o)
      case None => spark.conf.unset(k)
    }
  }
}
