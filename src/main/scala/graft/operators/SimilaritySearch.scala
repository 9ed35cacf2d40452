package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (SURVEY.md §2.F).
  *
  * Exactness: embeddings are quantized to integer milli-units
  * (`round(x*1000)` per dimension) so dot products are BIGINT arithmetic —
  * bit-exact in any engine and immune to float summation order. For
  * ranking, integer-dot ordering equals cosine ordering whenever vectors
  * are L2-comparable; the oracle checks the integer ranking.
  *
  * Scale posture: the query set is broadcast (it is small by definition);
  * candidates stream map-side with no shuffle for scoring; only the
  * per-query top-k window shuffles, keyed by query id. The LSH variant
  * buckets candidates by deterministic random-hyperplane signs, turning
  * the scan into a bucket-equi-join — the IVF-style 100 TB path.
  */
object SimilaritySearch {

  /** SQL: quantize a float array column to BIGINT milli-units. */
  def quantizeSql(c: String): String =
    s"transform($c, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  /** SQL: integer dot product of two BIGINT array columns, via the codegen
    * expression [[graft.plans.DotProductI64]] (semantically identical to
    * `aggregate(zip_with(a, b, (p,q) -> p*q), 0L, (acc,x) -> acc+x)` but
    * a fused primitive loop — ~9x faster on pairwise scans). Callers must
    * have run [[graft.plans.GraftFunctions.register]] on the session.
    */
  def dotSql(a: String, b: String): String = s"graft_dot_i64($a, $b)"

  /** Deterministic hyperplane weight for (plane, dim) — fixed integer
    * pseudo-randoms so both engines and every run agree.
    */
  def planeWeight(plane: Int, dim: Int): Long =
    ((plane + 1).toLong * (dim + 7).toLong * 2654435761L) % 1997L - 998L

  /** SQL: signed integer projection of a quantized BIGINT array onto one
    * deterministic weight vector — the random-projection (Johnson–
    * Lindenstrauss family) dimensionality reducer whose SIGN is
    * [[bucketSql]]'s bucket bit. Emitting the value instead of the bit
    * gives a k-dim reduced vector for cheap pre-ranking/clustering.
    */
  def projectionSql(c: String, plane: Int, dims: Int, planeOffset: Int = 0): String = {
    val weights = (0 until dims)
      .map(d => s"${planeWeight(planeOffset + plane, d)}L").mkString(", ")
    // the fused codegen dot (bit-equal to the declarative
    // aggregate(zip_with(...)) fold, spec-proven) — callers must have run
    // GraftFunctions.register; 8 planes × an interpreted lambda is exactly
    // the d08 hot path the expression was built for
    s"graft_dot_i64(array($weights), $c)"
  }

  /** SQL: LSH bucket id (0..2^planes-1) of a quantized BIGINT array col.
    * `planeOffset` selects an independent plane family, so multiple hash
    * tables (OR-combined candidate generation) reuse one weight formula.
    */
  def bucketSql(c: String, planes: Int, dims: Int, planeOffset: Int = 0): String =
    (0 until planes).map { p =>
      val weights = (0 until dims).map(planeWeight(planeOffset + p, _)).mkString(", ")
      val proj = s"aggregate(zip_with(array($weights), $c, (w, x) -> w * x), 0L, (acc, t) -> acc + t)"
      s"(CASE WHEN $proj >= 0 THEN ${1L << p}L ELSE 0L END)"
    }.mkString(" + ")

  /** Near-dup candidate pairs via `tables` independent hyperplane hash
    * tables (OR-combined): a pair is a candidate iff it shares the full
    * sign bucket in at least one table. Input needs (vec_id, q); output
    * (a, b) with a < b. This is the linear-scale candidate generator for
    * pairwise similarity: |rows| = n·tables exploded keys, per-bucket
    * joins instead of an O(n²) cross join.
    *
    * `dedupe=false` skips the pre-scoring distinct (a full shuffle of the
    * candidate stream): a pair sharing k tables then comes out k times,
    * which is the right trade when the downstream scoring predicate is
    * cheap (codegen dot) and selective — score the duplicates, dedupe the
    * few survivors (measured 7.7 s → 5.5 s on d08 at sf0.1).
    */
  def hyperplanePairs(vectors: DataFrame, tables: Int, planes: Int,
      dims: Int, dedupe: Boolean = true): DataFrame = {
    graft.plans.GraftFunctions.register(vectors.sparkSession)
    // graft_hyperplanes: all table buckets in one fused loop (codegen form
    // of bucketSql per plane family; bit-equality spec-proven) — the
    // interpreted 32-lambda projection stack was 1.3 s of d08's 3.8 s.
    // posexplode position == table index.
    val bucketed = vectors
      .select(col("vec_id"),
        posexplode(expr(s"graft_hyperplanes(q, $tables, $planes)"))
          .as(Seq("tbl", "bkt")))
    val pairs = bucketed.as("x").join(bucketed.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bkt") === col("y.bkt") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
    if (dedupe) pairs.distinct() else pairs
  }

  /** IVF-style ANN: a small set of coarse-quantizer centroids partitions
    * the candidates into inverted lists (each candidate assigned to its
    * nearest centroid by exact integer distance ||x-c||² = |x|²+|c|²-2·x·c);
    * each query probes its `nprobe` nearest lists and scores only their
    * members. This is the IVF index shape at 100 TB: the assignment is one
    * broadcast map-side pass, lists are the partition key, and scan cost
    * per query drops by ~|lists|/nprobe. Centroids here are caller-chosen
    * vectors (a trained k-means codebook plugs into the same interface).
    * All arithmetic is BIGINT — oracle-exact.
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, centroids: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    graft.plans.GraftFunctions.register(queries.sparkSession)
    // Corpus-side list assignment via the argmin-in-projection shape
    // (the r20 assignQuantized technique — r21, the r20 verdict's top
    // item): the old crossJoin → n×k scored rows →
    // min_by(struct(cent_id, q), struct(dist, cent_id)) planned a
    // partial/final SortAggregate PAIR that sorted the n×k expanded rows
    // and carried the q payload through the sort buffer on every serve.
    // Equivalence: dist = |q|² + |c|² − 2·q·c == Σ(q−c)² exactly on the
    // equal-length BIGINT arrays this pipeline produces, and the
    // collapsed codebook sorts ascending by cent_id, so the expression's
    // lowest-index tie-break equals the old struct(dist, cent_id)
    // ordering. The list join runs on the centroid INDEX (assignIdx /
    // centroidIdx — cent_id ↔ cidx is a bijection, so join pairs are
    // identical): joining on cent_id would let a caller-side centroid
    // constraint (d09's `vec_id < 8` slice) infer through the equi-join
    // and push the argmin into the join condition — 2 extra evals per
    // corpus row (the d02 inferred-predicate trap, live in the first r21
    // d09 dump). The probes side stays the window (see probeLists).
    val cb = centroids.select(col("vec_id").as("cent_id"), col("q").as("cq"))
    val lists = KMeans.assignIdx(candidates, cb)
      .select(col("vec_id").as("cand_id"), col("q"), col("cidx"))
    val probes = probeLists(queries, centroids, nprobe)
      .join(broadcast(KMeans.centroidIdx(cb)), "cent_id")
      .select(col("query_id"), col("qq"), col("cidx"))
    val scored = lists.join(broadcast(probes), "cidx")
      .withColumn("dot", expr(dotSql("qq", "q")))
      .select(col("query_id"), col("cand_id"), col("dot"))
    TopK.perKey(scored, Seq("query_id"), "dot", "cand_id", k)
      .select(col("query_id"), col("cand_id"), col("dot"), col("rn"))
  }

  /** [[ivfTopK]] served from PRE-ASSIGNED postings (cent_id, cand_id, q)
    * — the candidate-assignment pass already ran at index build/append
    * time (d34's persisted store), so serving is probe selection +
    * per-list scoring + top-k only: the corpus-sized argmin never
    * re-runs per query batch.
    */
  def ivfTopKAssigned(queries: DataFrame, postings: DataFrame,
      centroids: DataFrame, nprobe: Int, k: Int): DataFrame = {
    graft.plans.GraftFunctions.register(queries.sparkSession)
    val probes = probeLists(queries, centroids, nprobe)
    val scored = postings.join(broadcast(probes), "cent_id")
      .withColumn("dot", expr(dotSql("qq", "q")))
      .select(col("query_id"), col("cand_id"), col("dot"))
    TopK.perKey(scored, Seq("query_id"), "dot", "cand_id", k)
      .select(col("query_id"), col("cand_id"), col("dot"), col("rn"))
  }

  /** Probe selection shared by the IVF searches: each query's `nprobe`
    * nearest centroids by exact integer distance |q|² + |c|² − 2·q·c, ties
    * on cent_id, as (query_id, qq, cent_id). A rank window over the
    * queries × centroids cross product — queries are broadcast-tiny by
    * definition.
    */
  private def probeLists(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val cents = broadcast(centroids.select(
      col("vec_id").as("cent_id"), col("q").as("cq"),
      expr(dotSql("q", "q")).as("cn")))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("dist").asc, col("cent_id").asc)
    queries.crossJoin(cents)
      .withColumn("dist",
        expr(dotSql("q", "q")) + col("cn") - lit(2L) * expr(dotSql("q", "cq")))
      .withColumn("pr", row_number().over(w))
      .filter(col("pr") <= nprobe)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("cent_id"))
  }

  /** Brute-force exact top-k: every query row scored against every
    * candidate row (queries broadcast), ranked per query.
    * Inputs need columns (vec_id, q: array<bigint>).
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    graft.plans.GraftFunctions.register(queries.sparkSession)
    val scored = candidates.as("c")
      .crossJoin(broadcast(queries.select(col("vec_id").as("query_id"), col("q").as("qq"))))
      .withColumn("dot", expr(dotSql("qq", "c.q")))
      .select(col("query_id"), col("c.vec_id").as("cand_id"), col("dot"))
    // map-side pruned top-k: only ~k rows per (query, partition) shuffle
    TopK.perKey(scored, Seq("query_id"), "dot", "cand_id", k)
      .select(col("query_id"), col("cand_id"), col("dot"), col("rn"))
  }

  /** LSH-bucketed ANN top-k: candidates scored only within the query's
    * hyperplane bucket. May return fewer than k per query — that is the
    * accuracy/throughput trade the bucket count controls.
    */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      planes: Int, dims: Int): DataFrame = {
    graft.plans.GraftFunctions.register(queries.sparkSession)
    val qb = queries.select(col("vec_id").as("query_id"), col("q").as("qq"))
      .withColumn("bkt", expr(s"element_at(graft_hyperplanes(qq, 1, $planes), 1)"))
    val cb = candidates.withColumn("bkt",
      expr(s"element_at(graft_hyperplanes(q, 1, $planes), 1)"))
    val scored = cb.as("c")
      .join(broadcast(qb), col("c.bkt") === qb("bkt"))
      .withColumn("dot", expr(dotSql("qq", "c.q")))
      .select(col("query_id"), col("c.vec_id").as("cand_id"), col("dot"))
    TopK.perKey(scored, Seq("query_id"), "dot", "cand_id", k)
      .select(col("query_id"), col("cand_id"), col("dot"), col("rn"))
  }
}
