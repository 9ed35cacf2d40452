package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.HashFunctions.hashSql
import graft.operators.Dedup

/** Deduplication suite (SURVEY.md §2.E) over the `documents` table.
  *
  * Oracle SQL for the sketch-based ops is *generated* from the same hash
  * constants and formula text as the Spark plans — the only way MinHash /
  * SimHash can hash-match across engines (SURVEY.md §4).
  */
object DedupQueries {

  type Q = (SparkSession, String) => DataFrame

  private val K = 16     // minhash permutations
  private val Bands = 2  // 2 bands x 8 rows: collision prob J^8, selective
  private val PrIters = 3 // d26 power iterations (fixed -> oracle-replayable)

  /** d31's serving half: the incoming batch signatured in-scan and joined
    * against the PERSISTED corpus band index — this plan reads only the
    * stored bands + the batch docs, never re-signaturing the corpus
    * (spec-asserted in PlanShapeSpec).
    */
  private[graft] def bandServe(s: SparkSession, storePath: String,
      batch: DataFrame): DataFrame = {
    val corpus = graft.sources.ParquetStore.read(s, storePath)
    Dedup.bandSignatures(batch, K, Bands)
      .select(col("doc_id").as("new_id"), col("band"), col("sig"))
      .join(corpus, Seq("band", "sig"))
      .select("new_id", "dup_of").distinct()
  }

  val queries: Map[String, Q] = Map(
    "d01_dedup_exact" -> { (s, d) =>
      Dedup.exact(Tables.documents(s, d)).orderBy("doc_id")
    },

    "d02_ngram_jaccard" -> { (s, d) =>
      // Prefix-filtered exact Jaccard (see Dedup.jaccardPairs): identical
      // result to the oracle's all-pairs formulation, ~(1-t)^2 of its
      // candidate-join work.
      Dedup.jaccardPairs(Tables.documents(s, d), t = 0.8).orderBy("a", "b")
    },

    "d03_minhash_lsh" -> { (s, d) =>
      Dedup.minHashLshPairs(Tables.documents(s, d), K, Bands).orderBy("a", "b")
    },

    "d32_ensemble_dedup" -> { (s, d) =>
      // Ensemble dedup: a production pipeline fuses SEVERAL near-dup
      // signals into ONE clustering decision — exact normalized-key
      // groups (d01), the MinHash-LSH candidate graph (d03), and SimHash
      // near-pairs at hamming<=3 (d04) union into a single edge set
      // whose connected components are the final duplicate clusters (any
      // one signal suffices to tie two docs — signals catch different
      // duplication modes: byte-identical re-uploads, shingle overlap,
      // token-distribution twins). Per cluster, the per-signal edge
      // counts say which detector did the work — the number a pipeline
      // owner tunes thresholds on. Edge generation is the d01/d03/d04
      // operators (each one shuffle); the closure is d11's O(diameter)
      // min-label propagation over the (tiny vs corpus) union graph;
      // attribution is one edge⋈label join. The SimHash arm runs at its
      // HIGH-PRECISION operating point — signature-identical twins — so
      // the pair scan is a plain EQUI-join on the full 32-bit signature
      // (linear in group sizes; a hamming>0 point would use m08's
      // banded OR-join instead), and boilerplate signatures are excluded
      // at the t25 relative df cap: this corpus's 31-word vocabulary
      // collapses most distinct-token sets onto one signature (410 docs
      // share the top one at sf0.1 — hamming<=3 there means 420k+ pairs,
      // the degenerate-detector case the cap + per-signal attribution
      // exist to expose).
      val docs = Tables.documents(s, d)
      val lsh = Dedup.minHashLshPairs(docs, K, Bands)
        .select(col("a"), col("b"), lit("lsh").as("signal"))
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val sig = Dedup.simHash(docs, bits = 32)
        .withColumn("bkt", expr("n_chars div 50"))
        .select(col("doc_id"), col("bkt"), col("simhash"))
        .repartition(col("doc_id")) // d04's barrier: one signature pass
      val dfc = sig.groupBy("bkt", "simhash").agg(count(lit(1)).as("dfc"))
      val rare = sig.join(dfc, Seq("bkt", "simhash"))
        .crossJoin(broadcast(nd))
        .filter(expr("dfc <= greatest(CAST(20 AS BIGINT), n_docs div 100)"))
        .select("doc_id", "bkt", "simhash")
      val sim = rare.as("x").join(rare.as("y"),
          col("x.bkt") === col("y.bkt") &&
            col("x.simhash") === col("y.simhash") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          lit("simhash").as("signal"))
      val exact = docs
        .withColumn("rep", min(col("doc_id")).over(
          Window.partitionBy(expr(Dedup.normKeySql))))
        .filter(col("doc_id") =!= col("rep"))
        .select(col("rep").as("a"), col("doc_id").as("b"),
          lit("exact").as("signal"))
      val edges = lsh.unionByName(sim).unionByName(exact)
        .localCheckpoint() // feeds the closure AND the attribution join
      val labels = Dedup.components(edges.select("a", "b").distinct())
      val attrib = edges
        .join(labels.withColumnRenamed("id", "a"), "a")
        .groupBy("label").agg(
          sum(when(col("signal") === "lsh", 1L).otherwise(0L)).as("n_lsh"),
          sum(when(col("signal") === "simhash", 1L).otherwise(0L)).as("n_sim"),
          sum(when(col("signal") === "exact", 1L).otherwise(0L)).as("n_exact"))
      labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
        .join(attrib, "label")
        .select(col("label").as("rep_id"), col("cluster_size"),
          col("n_lsh"), col("n_sim"), col("n_exact"))
        .orderBy("rep_id")
    },

    "d11_dedup_clusters" -> { (s, d) =>
      // Near-dup pairs -> duplicate CLUSTERS: connected components with
      // min-id representatives (the keep/drop decision a dedup pipeline
      // actually needs; pair lists aren't transitively closed).
      val pairs = Dedup.minHashLshPairs(Tables.documents(s, d), K, Bands)
      Dedup.components(pairs)
        .groupBy("label")
        .agg(count(lit(1)).as("cluster_size"), max(col("id")).as("max_id"))
        .select(col("label").as("rep_id"), col("cluster_size"), col("max_id"))
        .orderBy("rep_id")
    },

    "d14_incremental_dedup" -> { (s, d) =>
      // Daily-batch dedup: candidate duplicates of the incoming batch
      // (doc_id % 10 == 7) against the existing corpus only — never
      // corpus x corpus. One signature pass over the union feeds both
      // join sides.
      Dedup.minHashLshCrossPairs(Tables.documents(s, d),
        col("doc_id") % 10 === 7, K, Bands)
        .orderBy("new_id", "dup_of")
    },

    "d31_index_serve" -> { (s, d) =>
      // The persisted incremental-index LIFECYCLE as an oracle-checked
      // query (SURVEY §7 r6 candidate (b); ParquetStoreSpec proves the
      // bucketed layout joins the corpus side with zero Exchange, and
      // EventStreams.dedupCandidatesStream is the streaming twin): write
      // the corpus band index ONCE, then serve the daily batch join
      // READING THE STORE — the corpus is never re-signatured at serve
      // time (at 100 TB re-signaturing the corpus per daily batch IS the
      // cost d14's self-contained form pays to stay oracle-replayable;
      // this query runs what production actually runs). Same candidate
      // semantics as d14, so they share the oracle's structure; the
      // serving subplan reads only the stored bands + the batch docs.
      val docs = Tables.documents(s, d)
      val isNew = col("doc_id") % 10 === 7
      val path = s"/tmp/graft_stores/bands_${new java.io.File(d).getName}"
      graft.sources.ParquetStore.installOverwrite(
        Dedup.bandSignatures(docs.filter(!isNew), K, Bands)
          .select(col("doc_id").as("dup_of"), col("band"), col("sig")), path)
      bandServe(s, path, docs.filter(isNew))
        .orderBy("new_id", "dup_of")
    },

    "d15_keep_best" -> { (s, d) =>
      // Canonical-copy selection: after clustering near-dups (d11), a
      // pipeline must decide WHICH copy survives — keep the longest
      // document per cluster (doc id tie-break), the common keep-longest
      // policy. Cluster labels + doc lengths meet in one doc_id-keyed
      // join; rank and size come from two window functions over the SAME
      // label partitioning (one shuffle). In a real pipeline the pair
      // generation/closure is the cached d11 artifact — recomputed here so
      // the query stays self-contained and oracle-checkable.
      val docs = Tables.documents(s, d)
      val comp = Dedup.components(Dedup.minHashLshPairs(docs, K, Bands))
      val sized = comp.join(
        docs.select(col("doc_id").as("id"), col("n_chars")), "id")
      val byLabel = org.apache.spark.sql.expressions.Window.partitionBy("label")
      sized
        .withColumn("rn", row_number().over(
          byLabel.orderBy(col("n_chars").desc, col("id").asc)))
        .withColumn("cluster_size", count(lit(1)).over(byLabel))
        .filter(col("rn") === 1)
        .select(col("label").as("rep_id"), col("id").as("keep_id"),
          col("n_chars").as("keep_chars"), col("cluster_size"))
        .orderBy("rep_id")
    },

    "d26_pagerank" -> { (s, d) =>
      // Deterministic integer PageRank over the near-dup graph (d03's
      // LSH pairs, symmetrized) — a CANONICALITY signal: within a dup
      // cluster the most-connected copy ranks highest, complementing
      // d15's keep-longest policy. All arithmetic is 1e6 fixed-point
      // BIGINT with floor division (contribution = rank div degree,
      // damping = 150000 + (85·inflow) div 100), so three power
      // iterations replay verbatim in the oracle — the same
      // exact-iterative-training discipline as d10's Lloyd. Per
      // iteration: one rank⋈edges equi-join + one dst-keyed map-side-
      // combined sum (the Pregel shape), lineage-cut via localCheckpoint.
      val pairs = Dedup.minHashLshPairs(Tables.documents(s, d), K, Bands)
        .select(col("a"), col("b"))
      // the degree table and all PrIters power iterations are
      // edge-table-sized tiny plans at bench scale: size the loop conf
      val (edges, nEdges) = graft.operators.LoopConf.barrier(pairs.unionByName(
        pairs.select(col("b").as("a"), col("a").as("b"))))
      graft.operators.LoopConf.withSized(s, nEdges) {
        // deg is read by every iteration — materialize once instead of
        // re-aggregating the edge table per iteration
        val deg = edges.groupBy("a").agg(count(lit(1)).as("deg"))
          .localCheckpoint(eager = false)
        var ranks = deg.select(col("a").as("id"), lit(1000000L).as("r"))
          .localCheckpoint()
        (0 until PrIters).foreach { _ =>
          ranks = edges
            .join(ranks, edges("a") === ranks("id"))
            .join(deg, "a")
            .select(col("b"), expr("r div deg").as("c"))
            .groupBy("b").agg(sum(col("c")).as("inflow"))
            .select(col("b").as("id"),
              expr("150000 + (85 * inflow) div 100").as("r"))
            .localCheckpoint()
        }
        ranks.select(col("id").as("doc_id"), col("r").as("rank_e6"))
          .orderBy(col("rank_e6").desc, col("doc_id").asc)
      }
    },

    "d24_dedup_funnel" -> { (s, d) =>
      // End-to-end dedup-pipeline accounting — the report a data-curation
      // run ships: raw corpus -> exact-dedup survivors (d01's normalized
      // keys) -> near-dup survivors (d03/d11's LSH clustering applied ON
      // the exact survivors, as a real pipeline sequences it; survivors =
      // reps − clustered + clusters). Composes the existing stages, so
      // every number is the one the stage queries themselves report;
      // the three counts are 1-row aggregates, the stages' shapes are
      // d01/d03/d11's.
      val docs = Tables.documents(s, d)
      val reps = Dedup.exact(docs).select(col("doc_id"))
      val repDocs = docs.join(reps, "doc_id")
      val comp = Dedup.components(Dedup.minHashLshPairs(repDocs, K, Bands))
      val n0 = docs.agg(count(lit(1)).as("n_docs"))
      val n1 = reps.agg(count(lit(1)).as("n1"))
      val cl = comp.agg(count(lit(1)).as("n_in"),
        countDistinct(col("label")).as("n_cl"))
      n0.select(lit(1L).as("step"), lit("raw").as("stage"), col("n_docs"))
        .unionByName(n1.select(lit(2L).as("step"), lit("exact").as("stage"),
          col("n1").as("n_docs")))
        .unionByName(n1.crossJoin(cl).select(lit(3L).as("step"),
          lit("neardup").as("stage"),
          (col("n1") - col("n_in") + col("n_cl")).as("n_docs")))
        .orderBy("step")
    },

    "d18_minhash_calibration" -> { (s, d) =>
      // Estimator calibration: for every d03 candidate pair, the MinHash
      // Jaccard ESTIMATE (matching permutations / K) next to the EXACT
      // shingle Jaccard and the absolute error — the audit that tells a
      // pipeline where to set its LSH threshold. Exact intersection runs
      // only on the candidate pairs (never all pairs) via the codegen
      // sorted-merge walk; estimate arithmetic is pure integers
      // (matches·10000 div K), exact ratio is int/int IEEE division —
      // both engine-portable.
      calibPairs(s, d)
        .select(col("a"), col("b"), col("est_e4"), col("j4_e4"),
          expr("abs(est_e4 - j4_e4)").as("err_e4"))
        .orderBy("a", "b")
    },

    "d33_threshold_sweep" -> { (s, d) =>
      // The LSH threshold OPERATING-CHARACTERISTIC curve in one query
      // (how a pipeline actually picks its dedup threshold — the dedup
      // twin of d30's nprobe sweep): d18's per-candidate (estimate,
      // exact) table, swept over 4 thresholds, each arm reporting kept /
      // true / true-positive counts and integer precision/recall of the
      // ESTIMATOR as a keep-decision against the exact Jaccard ground
      // truth restricted to candidates. The pair table computes ONCE;
      // each pair explodes only to the 4 threshold arms (broadcast);
      // guard rows with no kept/true pairs emit -1 — no 0/0.
      val tdf = s.createDataFrame(
        Seq(5000L, 7000L, 8000L, 9000L).map(Tuple1(_))).toDF("t_e4")
      calibPairs(s, d)
        .crossJoin(broadcast(tdf))
        .groupBy("t_e4")
        .agg(count(lit(1)).as("n_cand"),
          sum(when(col("est_e4") >= col("t_e4"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("j4_e4") >= col("t_e4"), 1L).otherwise(0L)).as("n_true"),
          sum(when(col("est_e4") >= col("t_e4") && col("j4_e4") >= col("t_e4"),
            1L).otherwise(0L)).as("n_tp"))
        .withColumn("precision_e4", expr(
          "CASE WHEN n_kept = 0 THEN CAST(-1 AS BIGINT) " +
            "ELSE n_tp * 10000 div n_kept END"))
        .withColumn("recall_e4", expr(
          "CASE WHEN n_true = 0 THEN CAST(-1 AS BIGINT) " +
            "ELSE n_tp * 10000 div n_true END"))
        .orderBy("t_e4")
    },

    "d04_simhash" -> { (s, d) =>
      // repartition = materialization barrier: without it, whole-stage
      // codegen defers the fused signature projection into the join's
      // consume loop and re-evaluates graft_simhash32 PER MATCHED PAIR
      // (measured 8.3 s vs 0.7 s warm at sf0.1). The shuffled rows are
      // three longs each, and both self-join sides read the same
      // ReusedExchange — one signature pass total.
      val sig = Dedup.simHash(Tables.documents(s, d), bits = 32)
        .withColumn("bkt", expr("n_chars div 50"))
        .select(col("doc_id"), col("bkt"), col("simhash"))
        .repartition(col("doc_id"))
      sig.as("x").join(sig.as("y"),
          col("x.bkt") === col("y.bkt") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          expr("CAST(bit_count(x.simhash ^ y.simhash) AS BIGINT)").as("hamming"))
        .orderBy("hamming", "a", "b")
        .limit(20)
    },

    "t42_pipeline_card" -> { (s, d) =>
      // The complete training-data BUILD as one audited query — the
      // stage funnel card every curation run ships (raw → quality →
      // exact-dedup → near-dedup → decontaminate), each stage applied
      // to the PREVIOUS stage's survivors exactly as a real pipeline
      // sequences it, every rule the one its standalone query reports:
      // t22's gopher keep verdict, d01's exact reps (min doc per
      // normalized key), d03+d11's LSH components at keep-lowest, t14's
      // 13-shingle decontamination against the held-out eval split.
      // Counts AND byte mass per stage. Scale shape: every stage is the
      // standalone operator's plan; survivor sets localCheckpoint once
      // each (two consumers — the count row and the next stage — the
      // re-execution barrier); all joins id- or 8-byte-shingle-keyed.
      graft.plans.GraftFunctions.register(s)
      val all = Tables.documents(s, d)
        .withColumn("is_eval", expr("(doc_id * 2654435761) % 100 < 10"))
      // r20: stage checkpoints marked LAZILY (the t37 r19 fusion-#4
      // pattern) — each survivor set still materializes exactly once
      // (its blocks are shared by the stage-count row and the next
      // stage), but inside its first consumer's job instead of a
      // separate eager-count job per stage; the components closure's
      // own edge-count job pulls train/q/exd through in one chain
      val train = all.filter(!col("is_eval"))
        .select("doc_id", "text", "n_chars").localCheckpoint(eager = false)
      val q = TextQueries.gopherKept(train).localCheckpoint(eager = false)
      val exd = q.join(Dedup.exact(q).select("doc_id"), "doc_id")
        .localCheckpoint(eager = false)
      val labels = Dedup.components(Dedup.minHashLshPairs(exd, K, Bands))
      val nd = exd.join(labels.filter(col("label") =!= col("id"))
          .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
        .localCheckpoint(eager = false)
      // contamination = >= 80 distinct shared shingles (the noise floor:
      // on this 31-word-vocabulary corpus EVERY doc shares a handful of
      // shingles with some eval doc — measured 18..141, median 66 at
      // sf0.01 — so a drop-on-any-overlap rule would empty the corpus;
      // real pipelines threshold for the same reason)
      val evalSh = all.filter(col("is_eval"))
        .select(explode(expr("graft_shingles13(text)")).as("sh")).distinct()
      val cont = nd.select(col("doc_id"),
          explode(expr("graft_shingles13(text)")).as("sh"))
        .join(evalSh, "sh")
        .groupBy("doc_id").agg(countDistinct(col("sh")).as("nsh"))
        .filter(col("nsh") >= 80).select("doc_id")
      val cl = nd.join(cont, Seq("doc_id"), "left_anti")
      def stage(df: DataFrame, step: Long, name: String) =
        df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_chars")), lit(0L)).as("n_chars_total"))
          .select(lit(step).as("step"), lit(name).as("stage"),
            col("n_docs"), col("n_chars_total"))
      stage(train, 1L, "raw")
        .unionByName(stage(q, 2L, "quality"))
        .unionByName(stage(exd, 3L, "exact"))
        .unionByName(stage(nd, 4L, "neardup"))
        .unionByName(stage(cl, 5L, "decontam"))
        .orderBy("step")
    },

    "t41_source_overlap" -> { (s, d) =>
      // Cross-SOURCE duplication matrix — the dedup report a corpus
      // curator reads before fixing mix weights (the FineWeb/Dolma-style
      // "who overlaps whom": heavy cross-source mass means the sources
      // re-crawl each other and their nominal sizes double-count):
      // d03's MinHash-LSH near-dup pairs resolved to their (sorted)
      // source pair and rolled up with per-source doc counts and an e9
      // normalized rate (pairs per doc-pair-slot, same formula on the
      // diagonal). The pair table is tiny vs the corpus, so BOTH
      // source-resolution joins broadcast it against the documents scan
      // (the d23 serving-join shape — documents are never shuffled);
      // the rollup output is ≤ S² rows.
      val pairs = Dedup.minHashLshPairs(Tables.documents(s, d), K, Bands)
      val ds = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val nd = Tables.documents(s, d).groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
      val pa = ds.join(broadcast(pairs), col("doc_id") === col("a"))
        .select(col("source").as("sa"), col("b"))
      val pb = ds.join(broadcast(pa), col("doc_id") === col("b"))
        .select(least(col("sa"), col("source")).as("source_a"),
          greatest(col("sa"), col("source")).as("source_b"))
      pb.groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
        .join(broadcast(nd.select(col("source").as("source_a"),
          col("n_docs").as("n_docs_a"))), "source_a")
        .join(broadcast(nd.select(col("source").as("source_b"),
          col("n_docs").as("n_docs_b"))), "source_b")
        .withColumn("rate_e9",
          expr("n_pairs * 1000000000L div (n_docs_a * n_docs_b)"))
        .select(col("source_a"), col("source_b"), col("n_pairs"),
          col("n_docs_a"), col("n_docs_b"), col("rate_e9"))
        .orderBy("source_a", "source_b")
    })

  // --- generated oracle SQL ----------------------------------------------

  private val minhashAggs: String =
    (0 until K).map(i => s"MIN(${hashSql(i, "code")}) AS h$i").mkString(",\n    ")

  private val bandSelects: String = (0 until Bands).map { bi =>
    val rows = K / Bands
    val sig = (0 until rows).map(r => s"h${bi * rows + r}").mkString(" || '-' || ")
    s"SELECT doc_id, $bi AS band, $sig AS sig FROM mh"
  }.mkString("\n  UNION ALL ")

  /** Shared CTE chain ending in `bands(doc_id, band, sig)` — the LSH
    * bucket keys, reused by d03/d11/d14.
    */
  private def bandsCtesFor(src: String): String =
    s"""shl AS (SELECT doc_id, unnest(${Dedup.shingleArrayOracleSql}) AS sh3
       |             FROM $src),
       |sh AS (SELECT doc_id, ${Dedup.shingleCodeSql} AS code FROM shl),
       |mh AS (SELECT doc_id,
       |    $minhashAggs
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandSelects
       |)""".stripMargin

  private lazy val bandsCtes: String = bandsCtesFor("documents")

  /** [[bandsCtes]] + `lsh_pairs(a, b)` — the d03 pair generation, reused
    * by the d11 component closure.
    */
  private def lshPairsCtesFor(src: String): String =
    s"""${bandsCtesFor(src)},
       |lsh_pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y
       |  ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)""".stripMargin

  private lazy val lshPairsCtes: String = lshPairsCtesFor("documents")

  /** d18/d33's shared pairtab CTE chain (appended after [[lshPairsCtes]],
    * whose `mh`/`sh` tables it reads): every candidate pair with its
    * MinHash estimate and exact shingle Jaccard.
    */
  private lazy val calibPairCtes: String = {
    val est = (0 until K)
      .map(i => s"(CASE WHEN xa.h$i = xb.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""est AS (SELECT p.a, p.b,
       |    CAST(($est) * 10000 // $K AS BIGINT) AS est_e4
       |  FROM lsh_pairs p JOIN mh xa ON xa.doc_id = p.a
       |  JOIN mh xb ON xb.doc_id = p.b),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT p.a, p.b, COUNT(*) AS inter
       |  FROM lsh_pairs p
       |  JOIN sh s1 ON s1.doc_id = p.a
       |  JOIN sh s2 ON s2.doc_id = p.b AND s2.code = s1.code
       |  GROUP BY p.a, p.b),
       |ex AS (SELECT p.a, p.b,
       |    CAST(round(COALESCE(i.inter, 0) * 10000.0 /
       |      (na.n + nb.n - COALESCE(i.inter, 0))) AS BIGINT) AS j4_e4
       |  FROM lsh_pairs p
       |  LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
       |  JOIN sizes na ON na.doc_id = p.a
       |  JOIN sizes nb ON nb.doc_id = p.b),
       |pairtab AS (SELECT e.a, e.b, est_e4, j4_e4
       |  FROM est e JOIN ex ON ex.a = e.a AND ex.b = e.b)""".stripMargin
  }

  /** d18/d33's shared per-candidate table (a, b, est_e4, j4_e4): every
    * d03 candidate pair with its MinHash Jaccard estimate and exact
    * shingle Jaccard (codegen sorted-merge intersect, candidates only).
    */
  private def calibPairs(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    val docs = Tables.documents(s, d)
    val pairs = Dedup.minHashLshPairs(docs, K, Bands)
    val sig = Dedup.minHashSignatures(docs, K)
    val sh = docs.select(col("doc_id"),
      expr("graft_shingles3(text)").as("sh"))
    val est = (0 until K)
      .map(i => s"(CASE WHEN xa.h$i = xb.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    pairs
      .join(sig.as("xa"), col("a") === col("xa.doc_id"))
      .join(sig.as("xb"), col("b") === col("xb.doc_id"))
      .withColumn("est_e4", expr(s"CAST(($est) * 10000 div $K AS BIGINT)"))
      .join(sh.as("sa"), col("a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("b") === col("sb.doc_id"))
      .withColumn("inter", expr("graft_isect_sorted_i64(sa.sh, sb.sh)"))
      .withColumn("j4_e4", expr("CAST(round(inter * 10000.0 / " +
        "(size(sa.sh) + size(sb.sh) - inter)) AS BIGINT)"))
      .select(col("a"), col("b"), col("est_e4"), col("j4_e4"))
  }

  private val simhashSums: String = (0 until 32)
    .map(b => s"SUM(CASE WHEN ${hashSql(b, "code")} % 2 = 1 THEN 1 ELSE -1 END) AS s$b")
    .mkString(",\n    ")

  private val simhashValue: String = (0 until 32)
    .map(b => s"(CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
    .mkString(" + ")

  val oracle: Map[String, String] = Map(
    "d01_dedup_exact" ->
      s"""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
         |FROM documents GROUP BY ${Dedup.normKeyOracleSql}
         |ORDER BY doc_id""".stripMargin,

    "d02_ngram_jaccard" ->
      s"""WITH sh AS (SELECT doc_id, n_chars // 50 AS bkt,
         |    ${Dedup.shingleArrayOracleSql} AS sh FROM documents)
         |SELECT x.doc_id AS a, y.doc_id AS b,
         |  len(list_intersect(x.sh, y.sh)) AS inter,
         |  round(len(list_intersect(x.sh, y.sh)) /
         |        (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4) AS j4
         |FROM sh x JOIN sh y ON x.bkt = y.bkt AND x.doc_id < y.doc_id
         |WHERE len(list_intersect(x.sh, y.sh)) /
         |      (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.8
         |ORDER BY a, b""".stripMargin,

    "d03_minhash_lsh" ->
      s"""WITH $lshPairsCtes
         |SELECT a, b FROM lsh_pairs
         |ORDER BY a, b""".stripMargin,

    "d32_ensemble_dedup" ->
      s"""WITH RECURSIVE $lshPairsCtes,
         |stok AS (SELECT doc_id, n_chars,
         |    unnest(list_distinct(string_split(trim(text), ' '))) AS tok
         |  FROM documents),
         |scodes AS (SELECT doc_id, n_chars, ${Dedup.tokenCodeSql(8)} AS code
         |  FROM (SELECT doc_id, n_chars, rpad(tok, 8, ' ') AS rp FROM stok)),
         |ssums AS (SELECT doc_id, n_chars,
         |    $simhashSums
         |  FROM scodes GROUP BY doc_id, n_chars),
         |ssig AS (SELECT doc_id, n_chars // 50 AS bkt, $simhashValue AS simhash
         |  FROM ssums),
         |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
         |sdfc AS (SELECT bkt, simhash, COUNT(*) AS dfc FROM ssig
         |  GROUP BY bkt, simhash),
         |srare AS (SELECT s.doc_id, s.bkt, s.simhash
         |  FROM ssig s JOIN sdfc USING (bkt, simhash), nd
         |  WHERE sdfc.dfc <= greatest(CAST(20 AS BIGINT), nd.n_docs // 100)),
         |sim_pairs AS (SELECT x.doc_id AS a, y.doc_id AS b
         |  FROM srare x JOIN srare y
         |  ON x.bkt = y.bkt AND x.simhash = y.simhash AND x.doc_id < y.doc_id),
         |ex AS (SELECT doc_id,
         |    MIN(doc_id) OVER (PARTITION BY ${Dedup.normKeyOracleSql}) AS rep
         |  FROM documents),
         |tagged AS (SELECT a, b, 'lsh' AS signal FROM lsh_pairs
         |  UNION ALL SELECT a, b, 'simhash' AS signal FROM sim_pairs
         |  UNION ALL SELECT rep AS a, doc_id AS b, 'exact' AS signal
         |    FROM ex WHERE doc_id <> rep),
         |uniq AS (SELECT DISTINCT a, b FROM tagged),
         |edges AS (SELECT a, b FROM uniq UNION ALL SELECT b AS a, a AS b FROM uniq),
         |reach AS (
         |  SELECT a AS id, a AS r FROM edges
         |  UNION
         |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b
         |),
         |lab AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
         |attrib AS (SELECT label,
         |    CAST(SUM(CASE WHEN signal = 'lsh' THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
         |    CAST(SUM(CASE WHEN signal = 'simhash' THEN 1 ELSE 0 END) AS BIGINT) AS n_sim,
         |    CAST(SUM(CASE WHEN signal = 'exact' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
         |  FROM tagged JOIN lab ON lab.id = tagged.a GROUP BY label),
         |sz AS (SELECT label, COUNT(*) AS cluster_size FROM lab GROUP BY label)
         |SELECT sz.label AS rep_id, cluster_size, n_lsh, n_sim, n_exact
         |FROM sz JOIN attrib USING (label) ORDER BY rep_id""".stripMargin,

    "d11_dedup_clusters" ->
      s"""WITH RECURSIVE $lshPairsCtes,
         |edges AS (SELECT a, b FROM lsh_pairs
         |          UNION ALL SELECT b AS a, a AS b FROM lsh_pairs),
         |reach AS (
         |  SELECT a AS id, a AS r FROM edges
         |  UNION
         |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b
         |)
         |SELECT label AS rep_id, COUNT(*) AS cluster_size,
         |  MAX(id) AS max_id
         |FROM (SELECT id, MIN(r) AS label FROM reach GROUP BY id)
         |GROUP BY label ORDER BY rep_id""".stripMargin,

    "d26_pagerank" -> {
      def iter(i: Int): String =
        s"""pr${i + 1} AS (SELECT b AS id,
           |    150000 + (85 * SUM(r // deg)) // 100 AS r
           |  FROM edges
           |  JOIN pr$i ON pr$i.id = edges.a
           |  JOIN deg ON deg.a = edges.a
           |  GROUP BY b)""".stripMargin
      s"""WITH $lshPairsCtes,
         |edges AS (SELECT a, b FROM lsh_pairs
         |          UNION ALL SELECT b AS a, a AS b FROM lsh_pairs),
         |deg AS (SELECT a, COUNT(*) AS deg FROM edges GROUP BY a),
         |pr0 AS (SELECT a AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
         |${(0 until PrIters).map(iter).mkString(",\n")}
         |SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_e6 FROM pr$PrIters
         |ORDER BY rank_e6 DESC, doc_id ASC""".stripMargin
    },

    "d24_dedup_funnel" ->
      s"""WITH RECURSIVE
         |repk AS (SELECT MIN(doc_id) AS doc_id FROM documents
         |  GROUP BY ${Dedup.normKeyOracleSql}),
         |repdocs AS (SELECT d.* FROM documents d JOIN repk USING (doc_id)),
         |${lshPairsCtesFor("repdocs")},
         |edges AS (SELECT a, b FROM lsh_pairs
         |          UNION ALL SELECT b AS a, a AS b FROM lsh_pairs),
         |reach AS (
         |  SELECT a AS id, a AS r FROM edges
         |  UNION
         |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b
         |),
         |lab AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
         |cl AS (SELECT COUNT(*) AS n_in, COUNT(DISTINCT label) AS n_cl FROM lab),
         |n0 AS (SELECT COUNT(*) AS n FROM documents),
         |n1 AS (SELECT COUNT(*) AS n FROM repk)
         |SELECT CAST(1 AS BIGINT) AS step, 'raw' AS stage, n AS n_docs FROM n0
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), 'exact', n FROM n1
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), 'neardup', n1.n - cl.n_in + cl.n_cl
         |FROM n1, cl
         |ORDER BY step""".stripMargin,

    "d14_incremental_dedup" ->
      s"""WITH $bandsCtes
         |SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS dup_of
         |FROM bands n JOIN bands o
         |  ON n.band = o.band AND n.sig = o.sig
         |WHERE n.doc_id % 10 = 7 AND o.doc_id % 10 <> 7
         |ORDER BY new_id, dup_of""".stripMargin,

    // d31 = d14's candidate semantics through the persisted index — the
    // store round-trip is the identity the shared oracle structure proves
    "d31_index_serve" ->
      s"""WITH $bandsCtes
         |SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS dup_of
         |FROM bands n JOIN bands o
         |  ON n.band = o.band AND n.sig = o.sig
         |WHERE n.doc_id % 10 = 7 AND o.doc_id % 10 <> 7
         |ORDER BY new_id, dup_of""".stripMargin,

    "d15_keep_best" ->
      s"""WITH RECURSIVE $lshPairsCtes,
         |edges AS (SELECT a, b FROM lsh_pairs
         |          UNION ALL SELECT b AS a, a AS b FROM lsh_pairs),
         |reach AS (
         |  SELECT a AS id, a AS r FROM edges
         |  UNION
         |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b
         |),
         |lab AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
         |sized AS (SELECT l.label, l.id, d.n_chars
         |  FROM lab l JOIN documents d ON d.doc_id = l.id),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY label
         |    ORDER BY n_chars DESC, id ASC) AS rn,
         |  COUNT(*) OVER (PARTITION BY label) AS cluster_size FROM sized)
         |SELECT label AS rep_id, id AS keep_id, n_chars AS keep_chars,
         |  cluster_size
         |FROM rk WHERE rn = 1 ORDER BY rep_id""".stripMargin,

    "d18_minhash_calibration" ->
      s"""WITH $lshPairsCtes,
         |$calibPairCtes
         |SELECT a, b, est_e4, j4_e4, abs(est_e4 - j4_e4) AS err_e4
         |FROM pairtab ORDER BY a, b""".stripMargin,

    "d33_threshold_sweep" ->
      s"""WITH $lshPairsCtes,
         |$calibPairCtes,
         |th AS (SELECT CAST(unnest([5000, 7000, 8000, 9000]) AS BIGINT) AS t_e4),
         |agg AS (SELECT t_e4, COUNT(*) AS n_cand,
         |    CAST(SUM(CASE WHEN est_e4 >= t_e4 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_kept,
         |    CAST(SUM(CASE WHEN j4_e4 >= t_e4 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_true,
         |    CAST(SUM(CASE WHEN est_e4 >= t_e4 AND j4_e4 >= t_e4
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_tp
         |  FROM pairtab, th GROUP BY t_e4)
         |SELECT t_e4, n_cand, n_kept, n_true, n_tp,
         |  CASE WHEN n_kept = 0 THEN CAST(-1 AS BIGINT)
         |       ELSE n_tp * 10000 // n_kept END AS precision_e4,
         |  CASE WHEN n_true = 0 THEN CAST(-1 AS BIGINT)
         |       ELSE n_tp * 10000 // n_true END AS recall_e4
         |FROM agg ORDER BY t_e4""".stripMargin,

    "d04_simhash" ->
      s"""WITH tok AS (SELECT doc_id, n_chars,
         |    unnest(list_distinct(string_split(trim(text), ' '))) AS tok
         |  FROM documents),
         |codes AS (SELECT doc_id, n_chars, ${Dedup.tokenCodeSql(8)} AS code
         |  FROM (SELECT doc_id, n_chars, rpad(tok, 8, ' ') AS rp FROM tok)),
         |sums AS (SELECT doc_id, n_chars,
         |    $simhashSums
         |  FROM codes GROUP BY doc_id, n_chars),
         |sig AS (SELECT doc_id, n_chars // 50 AS bkt, $simhashValue AS simhash
         |  FROM sums)
         |SELECT x.doc_id AS a, y.doc_id AS b,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |FROM sig x JOIN sig y ON x.bkt = y.bkt AND x.doc_id < y.doc_id
         |ORDER BY hamming, a, b LIMIT 20""".stripMargin,

    "t42_pipeline_card" ->
      s"""WITH RECURSIVE alld AS (SELECT doc_id, text, n_chars,
         |    (doc_id * 2654435761) % 100 < 10 AS is_eval FROM documents),
         |trn AS (SELECT doc_id, text, n_chars FROM alld WHERE NOT is_eval),
         |${TextQueries.gopherQCtesFor("trn")},
         |qd AS (SELECT t.* FROM trn t JOIN gq USING (doc_id)),
         |exk AS (SELECT MIN(doc_id) AS doc_id FROM qd
         |  GROUP BY ${Dedup.normKeyOracleSql}),
         |exd AS (SELECT q.* FROM qd q JOIN exk USING (doc_id)),
         |${lshPairsCtesFor("exd")},
         |edges AS (SELECT a, b FROM lsh_pairs
         |          UNION ALL SELECT b AS a, a AS b FROM lsh_pairs),
         |reach AS (
         |  SELECT a AS id, a AS r FROM edges
         |  UNION
         |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b
         |),
         |labels AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
         |nd AS (SELECT e.* FROM exd e LEFT JOIN labels l ON l.id = e.doc_id
         |  WHERE l.id IS NULL OR l.label = e.doc_id),
         |evd AS (SELECT doc_id, text FROM alld WHERE is_eval),
         |evsh AS (${TextQueries.shingleCteFor("evd", "eid")}),
         |evs AS (SELECT DISTINCT sh FROM evsh),
         |ndsh AS (${TextQueries.shingleCteFor("nd", "did")}),
         |cont AS (SELECT did AS doc_id FROM ndsh JOIN evs USING (sh)
         |  GROUP BY did HAVING COUNT(DISTINCT sh) >= 80),
         |cl AS (SELECT n.* FROM nd n LEFT JOIN cont c USING (doc_id)
         |  WHERE c.doc_id IS NULL)
         |SELECT step, stage, n_docs, n_chars_total FROM (
         |  SELECT CAST(1 AS BIGINT) AS step, 'raw' AS stage,
         |    COUNT(*) AS n_docs, CAST(coalesce(SUM(n_chars), 0) AS BIGINT)
         |      AS n_chars_total FROM trn
         |  UNION ALL SELECT CAST(2 AS BIGINT), 'quality', COUNT(*),
         |    CAST(coalesce(SUM(n_chars), 0) AS BIGINT) FROM qd
         |  UNION ALL SELECT CAST(3 AS BIGINT), 'exact', COUNT(*),
         |    CAST(coalesce(SUM(n_chars), 0) AS BIGINT) FROM exd
         |  UNION ALL SELECT CAST(4 AS BIGINT), 'neardup', COUNT(*),
         |    CAST(coalesce(SUM(n_chars), 0) AS BIGINT) FROM nd
         |  UNION ALL SELECT CAST(5 AS BIGINT), 'decontam', COUNT(*),
         |    CAST(coalesce(SUM(n_chars), 0) AS BIGINT) FROM cl
         |) ORDER BY step""".stripMargin,

    "t41_source_overlap" ->
      s"""WITH $lshPairsCtes,
         |ds AS (SELECT doc_id, source FROM documents),
         |sp AS (SELECT least(sa.source, sb.source) AS source_a,
         |    greatest(sa.source, sb.source) AS source_b
         |  FROM lsh_pairs p JOIN ds sa ON sa.doc_id = p.a
         |    JOIN ds sb ON sb.doc_id = p.b),
         |nd AS (SELECT source, COUNT(*) AS n_docs FROM documents
         |  GROUP BY source)
         |SELECT source_a, source_b, COUNT(*) AS n_pairs,
         |  na.n_docs AS n_docs_a, nb.n_docs AS n_docs_b,
         |  CAST(COUNT(*) * 1000000000 // (na.n_docs * nb.n_docs) AS BIGINT)
         |    AS rate_e9
         |FROM sp JOIN nd na ON na.source = sp.source_a
         |  JOIN nd nb ON nb.source = sp.source_b
         |GROUP BY source_a, source_b, na.n_docs, nb.n_docs
         |ORDER BY source_a, source_b""".stripMargin)
}
