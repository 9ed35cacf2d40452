package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic integer-exact Lloyd k-means trainers for the IVF coarse
  * quantizer and the PQ subspace codebooks (SURVEY.md §2.F).
  *
  * Design for scale: each iteration is one broadcast of the K×dims
  * codebook (tiny by definition), one map-side argmin assignment pass over
  * the corpus, and one groupBy(centroid, dim) mean — no driver-side data
  * movement beyond the codebook itself. Determinism: fixed initialization
  * (first K vectors by id) and no RNG, so retrains and retries converge
  * identically; ties in assignment break on centroid id.
  *
  * Input: (vec_id: long, q: array<bigint>) quantized vectors (same
  * representation the search operators use). Output codebook:
  * (cent_id: long, cq: array<bigint>).
  */
object KMeans {

  /** Integer-exact Lloyd trainer: centroids stay BIGINT (element-wise
    * `floor(sum/count)` means), distances are exact integer ||x−c||², and
    * ties break on centroid id — every arithmetic step is replayable
    * verbatim in another SQL engine, so a query built on this codebook can
    * be oracle-checked END TO END including its training (see
    * d10_embed_ivf_trained, whose DuckDB oracle re-runs this loop as
    * generated CTEs). Per iteration: one codebook broadcast, one map-side
    * argmin pass, one groupBy mean.
    */
  def fitQuantized(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters >= 0, "k and iters must be positive")
    val wId = Window.orderBy(col("vec_id").asc)
    var codebook = vectors.orderBy("vec_id").limit(k)
      .withColumn("cent_id", row_number().over(wId).cast("long") - 1)
      .select(col("cent_id"), col("q").as("cq"))
      .localCheckpoint()
    (0 until iters).foreach { _ =>
      codebook = centroidMeans(assignQuantized(vectors, codebook)
        .select(col("cent_id"), posexplode(col("q")).as(Seq("dim", "x"))))
        .localCheckpoint()
    }
    codebook
  }

  /** The Lloyd re-centering step shared by every trainer here: rows
    * (keys…, cent_id, dim, x) → codebook (keys…, cent_id, cq) with
    * element-wise `floor(sum/count)` means. floor over DOUBLE division,
    * not integer `div`: Spark's div truncates toward zero while floor is
    * engine-portable for the negative means quantized embeddings produce.
    */
  /* Iterative-plan hygiene (applies to every trainer loop here): without a
   * lineage cut, iteration i's plan embeds iteration i-1's whole plan, and
   * every downstream consumer of the codebook (candidate assignment, query
   * probing, both join sides in d13) re-executes the full training DAG.
   * The codebook is k×dims — localCheckpoint materializes it executor-side
   * per iteration (the d11 connected-components pattern), so training runs
   * once and consumers read a tiny materialized table. */
  private def centroidMeans(rows: DataFrame, keys: String*): DataFrame = {
    val cell = (keys :+ "cent_id").map(col)
    rows.groupBy(cell :+ col("dim"): _*)
      .agg(expr("CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT)").as("mm"))
      .groupBy(cell: _*)
      .agg(collect_list(struct(col("dim"), col("mm"))).as("dm"))
      .select(cell :+ expr("transform(array_sort(dm), s -> s.mm)").as("cq"): _*)
  }

  /** Deterministic hash-sample predicate (the t05 hash-mod pattern —
    * engine-portable, oracle-replayable): keeps ~`pct`% of vectors.
    */
  def sampleSql(pct: Int): String = s"(vec_id * 2654435761) % 100 < $pct"

  /** Web-scale trainer shape: train the codebook on a deterministic
    * hash-SAMPLE of the corpus, with k CHOSEN FROM THE DATA as
    * `max(2, |sample| / targetClusterSize)` — so cluster population stays
    * O(targetClusterSize) as the corpus grows instead of n/k growing
    * unboundedly at fixed k (the SemDeDup recipe: k ∝ n). The full corpus
    * is only ever *assigned* (one broadcast + map-side argmin pass via
    * [[assignQuantized]]), never scanned per training iteration — at
    * 100 TB the per-iteration cost is the sample, not the corpus.
    *
    * Every step remains exact BIGINT arithmetic on deterministic inputs,
    * so a DuckDB oracle replays sampling, k selection, init, and all
    * Lloyd iterations verbatim (see d10/d13 in
    * [[graft.queries.SimilarityQueries]]).
    */
  def fitQuantizedSampled(vectors: DataFrame, targetClusterSize: Int,
      samplePct: Int, iters: Int): DataFrame = {
    require(targetClusterSize > 0 && samplePct > 0 && iters >= 0,
      "targetClusterSize, samplePct must be positive")
    // the sample stays a lazy filter over the input: each Lloyd iteration
    // re-reads it through the (pushed-down) scan, which beats
    // materializing at this size; at 100 TB persist it explicitly before
    // calling this if the input scan is expensive
    val sample = vectors.filter(expr(sampleSql(samplePct)))
    // k from a 1-row count aggregate (an O(1) driver scalar, not data
    // movement); fitQuantized's init then takes the first kk rows via
    // orderBy+limit = TakeOrderedAndProject (per-partition heaps), so no
    // window ever sorts the whole sample (the r6 verdict fix)
    val n = sample.agg(count(lit(1))).head().getLong(0)
    val kk = math.max(2L, n / targetClusterSize)
    require(kk <= Int.MaxValue, s"k=$kk exceeds supported codebook size")
    // the init and every Lloyd iteration are sample-sized — run them at a
    // partition count derived from the measured sample (see LoopConf)
    LoopConf.withSized(sample.sparkSession, n)(fitQuantized(sample, kk.toInt, iters))
  }

  /** Product-quantization codebooks: one [[fitQuantized]] codebook per
    * subspace, all `subspaces` of them trained in ONE Lloyd loop with the
    * subspace id as part of every key. Subspaces are independent, so the
    * math is identical to `subspaces` separate runs (the d20/d36 oracles
    * replay them per subspace) at 2 jobs per iteration instead of
    * 2 × subspaces. Init is fitQuantized's, per subspace: the first `k`
    * rows by vec_id get ids 0..k-1.
    *
    * Input: the training sample's subvector rows (vec_id, m, sq), m in
    * `0 until subspaces`. It is materialized once behind a
    * [[LoopConf.barrier]] whose count also sizes the loop conf. Output:
    * (cm, cent_id, cq), k cells per subspace, cm the subspace id.
    *
    * Throws unless every (cm, cent_id) cell survives training: a flattened
    * ADC lookup `pd[m * k + code]` over this codebook would read the WRONG
    * cell after a centroid empties (or NULL past the end — which Spark
    * nulls and DuckDB's list_sum skips: an engine divergence). The check
    * counts the checkpointed codebook — no extra distributed work.
    */
  def fitQuantizedSubspaces(subs: DataFrame, subspaces: Int, k: Int,
      iters: Int): DataFrame = {
    require(subspaces > 0 && k > 0 && iters >= 0,
      "subspaces, k and iters must be positive")
    graft.plans.GraftFunctions.register(subs.sparkSession)
    val (rows, n) = LoopConf.barrier(subs)
    val cb = LoopConf.withSized(subs.sparkSession, n) {
      var codebook = rows
        .withColumn("rn", row_number().over(Window.partitionBy("m").orderBy("vec_id")))
        .filter(col("rn") <= k)
        .select(col("m").as("cm"), (col("rn") - 1).cast("long").as("cent_id"),
          col("sq").as("cq"))
        .localCheckpoint()
      (0 until iters).foreach { _ =>
        codebook = centroidMeans(
          nearest(rows, "sq", codebook, "m" -> "cm")
            .select(col("m").as("cm"), col("near_id").as("cent_id"),
              posexplode(col("sq")).as(Seq("dim", "x"))),
          "cm").localCheckpoint()
      }
      codebook
    }
    val nCb = cb.count()
    require(nCb == subspaces.toLong * k,
      s"fitQuantizedSubspaces: codebook has $nCb cells, expected " +
        s"${subspaces.toLong * k} — a centroid emptied during Lloyd")
    cb
  }

  /* Argmin shape (r20): graft_argmin_sqdist evaluates the whole argmin
   * inside one codegen scan projection over the codebook collapsed to a
   * single broadcast row — no n×k row explosion, no sort, no aggregation,
   * no exchange (a crossJoin + min_by(struct) argmin plans a
   * SortAggregate over the n×k rows: min_by's struct buffer is not
   * hash-aggregable). The codebook arrays sort ascending by cent_id, so
   * the expression's lowest-index tie-break is the struct(dist, cent_id)
   * ordering; cent_id is restored by indexing the aligned id array (never
   * assumed dense — a Lloyd iteration can empty a centroid). */

  /** ArgMinSqDist's packing: `dist * Shift + index`. */
  private val Shift = 1L << 21

  /** Each row's nearest centroid — the one argmin every codebook
    * consumer shares. `vec` is the row's BIGINT vector column; the
    * (keys…, cent_id, cq) codebook is [[collapsed]] and broadcast as one
    * row, or as one row per key group when `on` pairs row columns with
    * (differently named) codebook key columns. Returns the row's own
    * columns plus `near_id` (the winning cent_id), `near_dist` (exact
    * ||vec − cq||²) and `near_cq` (the winning centroid).
    */
  def nearest(rows: DataFrame, vec: String, codebook: DataFrame,
      on: (String, String)*): DataFrame = {
    graft.plans.GraftFunctions.register(rows.sparkSession)
    val cb = broadcast(collapsed(codebook, on.map(_._2): _*))
    val joined =
      if (on.isEmpty) rows.crossJoin(cb)
      else rows.join(cb, on.map { case (r, c) => col(r) === col(c) }.reduce(_ && _))
    joined.withColumn("__p", expr(s"graft_argmin_sqdist($vec, cbs)"))
      .withColumn("__i", expr(s"CAST(__p % $Shift AS INT) + 1"))
      .select(rows.columns.map(col) ++ Seq(
        expr("element_at(cbids, __i)").as("near_id"),
        expr(s"__p div $Shift").as("near_dist"),
        expr("element_at(cbs, __i)").as("near_cq")): _*)
  }

  /** Integer nearest-centroid assignment for [[fitQuantized]] codebooks:
    * exact BIGINT ||x − c||², centroid id as tie-break.
    */
  def assignQuantized(vectors: DataFrame, codebook: DataFrame): DataFrame =
    nearest(vectors, "q", codebook).select(col("vec_id"), col("q"),
      col("near_id").as("cent_id"), col("near_dist").as("dist"))

  /** The collapsed-codebook aggregate every argmin consumer shares: per
    * group of `keys` (one row when none), cent_id-ascending aligned
    * arrays `cbids` (ids) and `cbs` (vectors) of a (keys…, cent_id, cq)
    * codebook. All consumers MUST use this same ordering — the argmin's
    * lowest-index tie-break and the cidx mapping are only equivalent to
    * the struct(dist, cent_id) ordering because the arrays sort ascending
    * by cent_id.
    */
  private def collapsed(codebook: DataFrame, keys: String*): DataFrame =
    codebook.groupBy(keys.map(col): _*).agg(
      expr("transform(array_sort(collect_list(struct(cent_id, cq))), s -> s.cent_id)")
        .as("cbids"),
      expr("transform(array_sort(collect_list(struct(cent_id, cq))), s -> s.cq)")
        .as("cbs"))

  /** Nearest-centroid INDEX assignment (r21) for join-shaped consumers:
    * (vec_id, q, cidx) where cidx is the centroid's position in the
    * ascending-cent_id codebook order (same argmin, same tie-break as
    * [[assignQuantized]]). Exists because joining the assignment on
    * cent_id propagates any probe-side constraint on cent_id (e.g. the
    * d09/d37 fixed-centroid slice `vec_id < 8`) through the equi-join
    * and Catalyst pushes the inferred filter BELOW the assignment
    * projection — re-evaluating the argmin up to 2x more per corpus row
    * inside the join condition (the d02 inferred-predicate trap, seen
    * live in the r21 d09/d37 plan dumps). cidx carries no constraints,
    * so the argmin stays a single projection eval; the probe side maps
    * cent_id → cidx via [[centroidIdx]] (bijective, so join pairs are
    * identical).
    */
  def assignIdx(vectors: DataFrame, codebook: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(vectors.sparkSession)
    // coalesce(argmin, -1) makes cidx NON-NULLABLE, so the equi-join
    // downstream infers no IsNotNull(cidx) — which Catalyst would push
    // below this projection as a second argmin eval per corpus row
    // (seen live in the second r21 d09 dump: `Join condition:
    // isnotnull(cast((argminsqdist(..)) as int))`). -1 is outside
    // centroidIdx's 0..k-1 range, so a null argmin (null vector / empty
    // codebook — shapes the pipeline never produces) still never joins,
    // exactly like the null key it replaces.
    // the coalesce sits OUTSIDE the remainder: Remainder is nullable by
    // type (null divisor semantics), so an inner coalesce still leaves
    // cidx nullable and the IsNotNull re-appears
    vectors.crossJoin(broadcast(collapsed(codebook).select(col("cbs"))))
      .select(col("vec_id"), col("q"),
        expr(s"CAST(coalesce(graft_argmin_sqdist(q, cbs) % $Shift, -1L) AS INT)")
          .as("cidx"))
  }

  /** The (cent_id, cidx) mapping matching [[assignIdx]]'s index order —
    * k rows, broadcast it on the probe side.
    */
  def centroidIdx(codebook: DataFrame): DataFrame =
    collapsed(codebook)
      .select(posexplode(col("cbids")).as(Seq("cidx", "cent_id")))
}
