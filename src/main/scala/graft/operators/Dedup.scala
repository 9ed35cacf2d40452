package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{hashSql, P}

/** Deduplication operators for document corpora (SURVEY.md §2.E).
  *
  * Scale posture (the 100 TB story):
  * - exact dedup: one hash-groupBy shuffle on the normalized key.
  * - n-gram Jaccard: exact but quadratic → only run inside small candidate
  *   buckets (length bucket here; LSH buckets in production).
  * - MinHash+LSH: the linear-scan path — per-doc signatures (one shuffle),
  *   band explosion, bucket self-join. No O(n²) stage ever materializes;
  *   bucket sizes are bounded by collision probability, and a skewed bucket
  *   is an AQE-splittable join key.
  * - SimHash: 32-bit fingerprint per doc (one shuffle), Hamming-distance
  *   pairing within candidate buckets.
  *
  * All hashing is explicit universal hashing over `ascii()`-derived codes
  * so DuckDB oracles can replay it exactly; each builder exposes the SQL
  * text alongside the Column plan.
  */
object Dedup {

  /** Sorted bag-of-words normalization key (whitespace-robust exact dedup). */
  val normKeySql = "concat_ws(' ', sort_array(split(text, ' ')))"
  val normKeyOracleSql = "array_to_string(list_sort(string_split(text, ' ')), ' ')"

  /** Distinct 3-gram character shingle array of `text`. Identical shape in
    * DuckDB: list_distinct(list_transform(range(1, length(text)-1), ...)).
    */
  val shingleArraySql =
    "array_distinct(transform(sequence(1, length(text) - 2), i -> substring(text, i, 3)))"
  val shingleArrayOracleSql =
    "list_distinct(list_transform(range(1, length(text) - 1), i -> substring(text, CAST(i AS INT), 3)))"

  /** 24-bit integer code of a 3-char shingle column `sh3` (engine-neutral). */
  val shingleCodeSql =
    "CAST(ascii(substring(sh3, 1, 1)) * 65536 + ascii(substring(sh3, 2, 1)) * 256 + ascii(substring(sh3, 3, 1)) AS BIGINT)"

  /** Per-character code array of `text`. DuckDB's `string_split(text, '')`
    * splits identically (verified incl. non-ASCII codepoints, no trailing
    * empty on either engine).
    */
  val charCodesSql = "transform(split(text, ''), c -> ascii(c))"

  /** Distinct 3-gram shingles packed directly as 24-bit BIGINT codes.
    * Injective for ASCII text, and numeric code order == lexicographic
    * shingle order (fixed length, most-significant byte first), so
    * distinctness, prefix ranks, and intersection counts all match the
    * string formulation exactly — while joins, sorts, and merge walks run
    * on primitive longs.
    *
    * Shape matters for performance: `substring(text, i, _)` is O(i) on
    * UTF8 strings, so a per-position-substring transform is quadratic in
    * doc length (the original form). zip_with over three shifted slices
    * of the char-code array is linear — the codes array is embedded once
    * per slice, never per element. Deliberately SELF-CONTAINED (no bound
    * `__chars` alias): optimizer rules substitute aliases into inferred
    * predicates (e.g. the join-constraint `isnotnull(sort_array(…))`),
    * where a per-element alias reference re-executes the split per lambda
    * iteration — measured 166 s vs 12 s on the d02 verify stage.
    */
  val shingleCodesArraySql: String = {
    val n = "greatest(length(text) - 2, 0)"
    s"array_distinct(zip_with(zip_with(slice($charCodesSql, 1, $n), " +
      s"slice($charCodesSql, 2, $n), (x, y) -> x * 65536 + y * 256), " +
      s"slice($charCodesSql, 3, $n), (xy, z) -> CAST(xy + z AS BIGINT)))"
  }

  /** Exact dedup: keep the lowest id per normalized-text group.
    * Output: doc_id (kept representative), dup_count.
    */
  def exact(df: DataFrame): DataFrame =
    df.withColumn("__key", expr(normKeySql))
      .groupBy("__key")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
      .drop("__key")

  /** Per-document MinHash signature columns h0..h{k-1}.
    *
    * k=16 uses the fused single-pass expression
    * [[graft.plans.MinHashSig]] — a pure map-side projection, NO shuffle
    * (min is duplicate-insensitive, so no distinct is needed either).
    * Other k fall back to the explode → groupBy(min×k) pipeline (one
    * shuffle). Both produce identical signatures (same hash family).
    */
  def minHashSignatures(df: DataFrame, k: Int): DataFrame =
    if (k == 16) {
      graft.plans.GraftFunctions.register(df.sparkSession)
      df.select(col("doc_id"), expr("graft_minhash16(text)").as("__sig"))
        .select(col("doc_id") +:
          (0 until k).map(i => element_at(col("__sig"), i + 1).as(s"h$i")): _*)
    } else {
      val shingled = df
        .select(col("doc_id"), explode(expr(shingleArraySql)).as("sh3"))
        .withColumn("code", expr(shingleCodeSql))
      val aggs = (0 until k).map(i => min(expr(hashSql(i, "code"))).as(s"h$i"))
      shingled.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    }

  /** One (doc_id, band, sig) row per band: the LSH bucket keys. */
  def bandSignatures(df: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    require(bands * rows == k, "bands must divide k")
    val sig = minHashSignatures(df, k)
    val bandStructs = (0 until bands).map { bi =>
      struct(lit(bi).as("band"),
        concat_ws("-", (0 until rows).map(r => col(s"h${bi * rows + r}")): _*).as("sig"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** LSH candidate pairs: docs sharing any band signature; `k` perms split
    * into `bands` bands of k/bands rows. Returns (a, b) with a < b.
    */
  def minHashLshPairs(df: DataFrame, k: Int, bands: Int): DataFrame = {
    val bandDf = bandSignatures(df, k, bands)
    bandDf.as("x").join(bandDf.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** Incremental (cross-corpus) LSH dedup: candidate duplicates of NEW
    * documents against the EXISTING corpus only — the daily-batch shape
    * of a crawl pipeline. One signature pass over the union; the band
    * equi-join is new-side × corpus-side, so join work scales with the
    * batch's bucket collisions, never corpus × corpus. At 100 TB the
    * corpus band table is the persisted LSH index (write it bucketed by
    * (band, sig) and the daily join is shuffle-free on the corpus side).
    */
  def minHashLshCrossPairs(df: DataFrame, isNew: org.apache.spark.sql.Column,
      k: Int, bands: Int): DataFrame = {
    val bandDf = bandSignatures(df, k, bands)
    val n = bandDf.filter(isNew)
      .select(col("doc_id").as("new_id"), col("band"), col("sig"))
    val o = bandDf.filter(!isNew)
      .select(col("doc_id").as("dup_of"), col("band"), col("sig"))
    n.join(o, Seq("band", "sig"))
      .select(col("new_id"), col("dup_of"))
      .distinct()
  }

  /** Exact Jaccard near-dup pairs at threshold `t` within length buckets,
    * with lossless prefix filtering (AllPairs/PPJoin family): order each
    * doc's shingles by global document frequency (rare first, shingle text
    * as tie-break); if J(A,B) >= t then |A∩B| >= ceil(t*max(|A|,|B|)), so
    * A and B must share an element inside their first
    * |X| - ceil(t*|X|) + 1 shingles. Joining only on those prefixes cuts
    * the candidate join by ~(1-t)^2 while provably losing no pair — the
    * oracle checks against the naive all-pairs formulation.
    */
  def jaccardPairs(df: DataFrame, t: Double): DataFrame =
    jaccardPairs(df, t, broadcastVerify = true)

  /** @param broadcastVerify verify-join strategy: `true` broadcasts the
    *   doc→codes dimension to both probe sides (measured 6 MB at sf0.1 —
    *   the pair stream never shuffles with arrays attached); `false` is
    *   the beyond-broadcast-range path: bucketed sort-merge joins on the
    *   doc ids, sharding verification across executors (the pair stream
    *   shuffles on `a` then `b`, carrying one codes array through the
    *   second exchange). Both paths produce identical output — proven by
    *   DedupSpec — so callers flip on corpus size alone.
    */
  def jaccardPairs(df: DataFrame, t: Double, broadcastVerify: Boolean): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    // Shingles as packed integer codes throughout — same distinctness/
    // order/intersections as strings, primitive speed. graft_shingles3 is
    // the fused one-pass form of shingleCodesArraySql (sorted distinct;
    // bit-equality spec-proven in CodegenOnlySpec).
    val sh = df
      .withColumn("bkt", expr("n_chars div 50"))
      .select(col("doc_id"), col("bkt"), explode(expr("graft_shingles3(text)")).as("code"))
    val dfCounts = sh.groupBy("code").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df").asc, col("code").asc)
    val ranked = sh.join(broadcast(dfCounts), "code")
      .withColumn("rnk", row_number().over(wDoc))
      .withColumn("sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    val prefix = ranked.filter(col("rnk") <= col("sz") - ceil(lit(t) * col("sz")) + 1)
      .select(col("doc_id"), col("bkt"), col("code"), col("sz"), col("rnk"))
    // size-compatibility: J >= t forces t*|B| <= |A| (else inter/union < t).
    // positional (PPJoin) filter: an instance matched at prefix positions
    // (px, py) bounds the overlap by min(|X|-px, |Y|-py)+1; J >= t needs
    // overlap >= t/(1+t)*(|X|+|Y|). For a true pair the instance at the
    // FIRST shared prefix element satisfies the bound, so per-row pruning
    // before the distinct loses no pair.
    val cands = prefix.as("x").join(prefix.as("y"),
        col("x.bkt") === col("y.bkt") && col("x.code") === col("y.code") &&
          col("x.doc_id") < col("y.doc_id") &&
          col("x.sz") >= lit(t) * col("y.sz") && col("y.sz") >= lit(t) * col("x.sz") &&
          least(col("x.sz") - col("x.rnk"), col("y.sz") - col("y.rnk")) + 1 >=
            ceil(lit(t / (1 + t)) * (col("x.sz") + col("y.sz"))))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    // Verify stage: join the candidate pairs back to the per-doc code
    // arrays (pre-sorted once per doc) and merge-walk the intersection
    // with the codegen expression — no per-pair hash set. AQE picks
    // broadcast vs shuffle per scale; at 100 TB this join runs bucketed
    // on doc_id and candidates per bucket stay bounded by the prefix
    // filter.
    // already sorted+distinct by construction — no sort_array needed
    val arrays = df.select(col("doc_id"), expr("graft_shingles3(text)").as("sh"))
    def probeSide(idAs: String, shAs: String): DataFrame = {
      val side = arrays.select(col("doc_id").as(idAs), col("sh").as(shAs))
      if (broadcastVerify) broadcast(side) else side.hint("merge")
    }
    cands
      .join(probeSide("a", "sha"), "a")
      .join(probeSide("b", "shb"), "b")
      .withColumn("inter", expr("graft_isect_sorted_i64(sha, shb)"))
      .withColumn("j", col("inter") /
        ((size(col("sha")) + size(col("shb"))).cast("long") - col("inter")))
      .filter(col("j") >= t)
      .select(col("a"), col("b"), col("inter"), round(col("j"), 4).as("j4"))
  }

  /** Connected components over near-dup pairs: min-label propagation with
    * pointer jumping. Pair lists alone don't dedup a corpus — the
    * keep/drop decision needs one representative per duplicate CLUSTER,
    * and near-dup relations are not transitive-closed.
    *
    * Each round every node adopts the smallest label among itself and its
    * neighbors, then jumps to its label's label (halving chain depth —
    * the small-star/large-star idea), so convergence is O(log diameter):
    * measured 11 rounds → 5 on sf0.1's 130 k chain-heavy pairs. Scale
    * shape: two equi-joins + one groupBy-min shuffle per round;
    * `localCheckpoint` truncates the growing lineage (the standard Spark
    * idiom for iterative graph algorithms; GraphFrames does the same).
    * The convergence probe scans the just-checkpointed round output — an
    * action, not a data collect. The DuckDB oracle replays the closure
    * with a recursive CTE.
    *
    * @param pairs (a, b) near-dup pairs, a < b
    * @return (id, label) — label = min doc id of the component
    */
  def components(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    // r20 loop-conf adaptation (guide §1.2/§2): the round shape itself was
    // already near its floor — an r20 profile (`git show
    // 4a72e29:src/test/scala/graft/ProfileComp.scala`, since deleted; it
    // timed the pre-consolidation loop) measured the warm per-call cost
    // dominated by AQE's sequential stage materialization and per-job
    // fixed overhead across the ~7 tiny rounds, not by the joins' data
    // (a fused union-agg + lazy-ckpt + fused-convergence-count variant
    // came out SLOWER warm: 3.5 vs 3.2 s on d11). What moved the number
    // was running the LOOP at a partition count derived from the measured
    // edge cardinality, with AQE off while the data is provably small
    // (d11 3.36 -> 2.5 s warm; AQE-off at the session's static 32
    // partitions measured 9.4 s — the adaptation needs both halves):
    //  - the edge base materializes FIRST, under the caller's conf (its
    //    upstream is the caller's scale-proportional pair pipeline),
    //    behind a LoopConf.barrier (checkpoint + size probe, one job);
    //  - the loop's shuffles then run at ~64k edge rows per partition,
    //    clamped to the session default, mirroring statically what AQE's
    //    coalescing would decide per-stage — but decided ONCE instead of
    //    re-planned per stage per round;
    //  - AQE stays ON whenever the derived count reaches the session
    //    default (the data is big: skew handling matters more than the
    //    per-round planning latency), so the adaptation can only kick in
    //    when the label table is provably small.
    val spark = pairs.sparkSession
    val (edges, nEdges) = LoopConf.barrier(pairs.select(col("a"), col("b"))
      .union(pairs.select(col("b").as("a"), col("a").as("b"))))

    def loop(): DataFrame = {
      var labels = edges.select(col("a").as("id")).distinct()
        .withColumn("label", col("id")).localCheckpoint(true)
      var converged = false
      var i = 0
      while (!converged && i < maxIters) {
        val nmin = edges.join(labels.withColumnRenamed("id", "__nb"), col("b") === col("__nb"))
          .groupBy(col("a").as("id"))
          .agg(min(col("label")).as("__nlabel"))
        val stepped = labels.join(nmin, Seq("id"), "left")
          .select(col("id"), col("label").as("__old"),
            least(col("label"), coalesce(col("__nlabel"), col("label"))).as("__l1"))
        // pointer jump: label := label(label) — labels are node ids, so the
        // self-join resolves each label to its own current minimum
        val next = stepped
          .join(stepped.select(col("id").as("__l1"), col("__l1").as("__ll")), Seq("__l1"), "left")
          .select(col("id"), col("__old"),
            least(col("__l1"), coalesce(col("__ll"), col("__l1"))).as("label"))
          .localCheckpoint(true)
        converged = next.filter(col("label") < col("__old")).isEmpty
        labels = next.select(col("id"), col("label"))
        i += 1
      }
      labels
    }

    // scoped conf (see LoopConf): the loop's plans are label-table-sized
    // by the probe above; everything upstream (the pair pipeline) already
    // materialized under the caller's conf
    LoopConf.withSized(spark, nEdges)(loop())
  }

  /** Horner-form SQL for a token code over `rp` (token right-padded to
    * `len` chars); kept under 2^31 via a final mod P so universal hashes
    * can multiply it without 64-bit overflow.
    */
  def tokenCodeSql(len: Int, v: String = "rp"): String = {
    val horner = (1 to len).reverse.foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
      s"(ascii(substring($v, $j, 1)) + 31 * $acc)"
    }
    s"($horner % $P)"
  }

  /** Per-document `bits`-bit SimHash over distinct whitespace tokens.
    *
    * bits=32 uses the fused single-pass expression
    * [[graft.plans.SimHash32]] — a pure map-side projection that removes
    * the explode → 32-conditional-sum groupBy SHUFFLE entirely (the
    * deferral noted in SURVEY §7 — token-dedup semantics — is handled by
    * an in-expression token set). Other widths keep the declarative
    * pipeline; both produce identical signatures (bit-equality
    * spec-proven), and d04's explode-based oracle keeps matching.
    */
  def simHash(df: DataFrame, bits: Int): DataFrame =
    if (bits == 32) {
      graft.plans.GraftFunctions.register(df.sparkSession)
      // null-text rows produce NO row in the declarative explode pipeline
      // (and in the oracle's unnest); match that, not a null signature
      df.filter(col("text").isNotNull)
        .select(col("doc_id"), col("n_chars"),
          expr("graft_simhash32(text)").as("simhash"))
    } else simHashDeclarative(df, bits)

  /** The explode → groupBy formulation (any bit width); the oracle replays
    * this shape, and CodegenOnlySpec proves it equal to the fused form.
    */
  def simHashDeclarative(df: DataFrame, bits: Int): DataFrame = {
    val tokens = df
      .select(col("doc_id"), col("n_chars"),
        explode(expr("array_distinct(split(trim(text), ' '))")).as("tok"))
      .withColumn("rp", rpad(col("tok"), 8, " "))
      .withColumn("code", expr(tokenCodeSql(8)))
    val sums = (0 until bits).map { b =>
      sum(expr(s"CASE WHEN ${hashSql(b, "code")} % 2 = 1 THEN 1 ELSE -1 END")).as(s"s$b")
    }
    val sig = tokens.groupBy("doc_id", "n_chars").agg(sums.head, sums.tail: _*)
    val simhashExpr = (0 until bits)
      .map(b => s"(CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    sig.withColumn("simhash", expr(simhashExpr))
      .select(col("doc_id"), col("n_chars"), col("simhash"))
  }
}
