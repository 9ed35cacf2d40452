package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{JobStats, Tables}
import graft.functions.HashFunctions
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Multimodal, PrefixSum}

/** Text analysis + multimodal metadata (SURVEY.md §2.G, §2.A). */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  // --- t16 PII scrubbing: shared derivation + pattern text ---------------
  // The corpus is digit-free word salad, so PII is SYNTHESIZED
  // deterministically per document (an email, a phone, an IP appended as a
  // contact line) — the scrubber then has real work whose result both
  // engines replay. Patterns use only [..] classes (no \d, no escaped
  // dots) so one pattern string is portable across Java regex and RE2.
  private val piiEmailPat = "[a-z0-9]+@[a-z0-9.]+[a-z]"
  private val piiPhonePat = "555-[0-9]{4}"
  private val piiIpPat = "10[.][0-9]{1,3}[.]0[.][0-9]{1,3}"
  private val piiSparkSql =
    "concat(text, ' contact user', cast(doc_id as string), " +
      "'@mail.example tel 555-', lpad(cast(doc_id % 10000 as string), 4, '0'), " +
      "' ip 10.', cast(doc_id % 256 as string), '.0.', " +
      "cast((doc_id * 7) % 256 as string))"
  private val piiDuckSql =
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
      "'@mail.example tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
      "' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || " +
      "CAST((doc_id * 7) % 256 AS VARCHAR)"

  // --- t22 Gopher rules: distinct-stopword presence. The corpus's 31-word
  // vocabulary carries exactly two English stopwords ('the', 'a' — each in
  // ~77% of docs), so the presence rule demands both; the full langMarkers
  // list would fail every document and make the verdict degenerate. ------
  private val stopwList = Seq("the", "a").map(w => s"'$w'").mkString(", ")
  private val stopwPresentSpark =
    s"CAST(size(filter(array($stopwList), " +
      "w -> array_contains(split(trim(text), ' '), w))) AS BIGINT)"
  private val stopwPresentDuck =
    s"len(list_filter([$stopwList], " +
      "w -> list_contains(string_split(trim(text), ' '), w)))"

  /** t42's quality stage — t22's keep verdict (reasons == 0) as a Spark
    * filter over a docs frame, one rule text with [[gopherQCtesFor]] so
    * the pipeline card can never drift from the t22 verdict query.
    */
  private[queries] def gopherKept(docs: DataFrame): DataFrame =
    docs
      .withColumn("__n_tok", expr(wsTokensSpark))
      .withColumn("__mwl_e2", expr(
        "CAST(round((length(trim(text)) - (__n_tok - 1)) * 100.0 / __n_tok) AS BIGINT)"))
      .withColumn("__n_stopw", expr(stopwPresentSpark))
      .withColumn("__short_e4", expr(
        s"CAST(round($shortTokensSpark * 10000.0 / __n_tok) AS BIGINT)"))
      .filter(expr("__n_tok >= 30 AND __n_tok <= 100000 AND " +
        "__mwl_e2 >= 300 AND __mwl_e2 <= 1000 AND __n_stopw >= 2 AND " +
        "__short_e4 <= 4000"))
      .drop("__n_tok", "__mwl_e2", "__n_stopw", "__short_e4")

  /** [[gopherKept]]'s DuckDB twin: CTE chain over `src(doc_id, text, …)`
    * ending in `gq(doc_id)` = the kept ids.
    */
  private[queries] def gopherQCtesFor(src: String): String =
    s"""gf AS (SELECT doc_id, $wsTokensDuck AS n_tok,
       |    $stopwPresentDuck AS n_stopw, $shortTokensDuck AS n_short,
       |    length(trim(text)) AS glen FROM $src),
       |gq AS (SELECT doc_id FROM gf
       |  WHERE n_tok >= 30 AND n_tok <= 100000
       |    AND CAST(round((glen - (n_tok - 1)) * 100.0 / n_tok) AS BIGINT)
       |      >= 300
       |    AND CAST(round((glen - (n_tok - 1)) * 100.0 / n_tok) AS BIGINT)
       |      <= 1000
       |    AND n_stopw >= 2
       |    AND CAST(round(n_short * 10000.0 / n_tok) AS BIGINT) <= 4000)""".stripMargin

  /** One side of t14's 13-shingle table over an arbitrary doc CTE —
    * `SELECT $idAs, sh` rows (packed BIGINT rolling hashes).
    */
  private[queries] def shingleCteFor(src: String, idAs: String): String =
    s"""SELECT doc_id AS $idAs, unnest($shingleHash13ArrayDuck) AS sh
       |  FROM (SELECT doc_id, text,
       |          list_transform(string_split(text, ''), c -> ascii(c)) AS __chars
       |        FROM $src)""".stripMargin

  // --- t23 boilerplate chunks: packed 2-word chunk keys, both dialects --
  // (two 31-bit token codes packed into one BIGINT — chunk text never
  // leaves the scan; the repo's 8-byte-join-key doctrine, cf. t14)
  private def chunkKeySql(w1: String, w2: String): String = {
    val c1 = Dedup.tokenCodeSql(8, s"rpad($w1, 8, ' ')")
    val c2 = Dedup.tokenCodeSql(8, s"rpad($w2, 8, ' ')")
    s"($c1 * ${HashFunctions.P} + $c2)"
  }
  private val chunkKeySpark = chunkKeySql(
    "toks[2*i]", "if(2*i+1 < size(toks), toks[2*i+1], '')")
  private val chunkKeyDuck = chunkKeySql(
    "toks[CAST(2*i+1 AS INT)]",
    "CASE WHEN CAST(2*i+2 AS INT) <= len(toks) " +
      "THEN toks[CAST(2*i+2 AS INT)] ELSE '' END")

  // --- m07 modality mix: one formula set, both dialects -----------------
  // Modality is assigned deterministically (doc_id % 10: 6 text / 2 image
  // / 1 audio / 1 video — a realistic skew); the per-item training-token
  // equivalent comes from the SAME stub-decode arithmetic m01/m05 use
  // (byte length n → width/height/frames), all integer division.
  // --- m08 perceptual-hash near-dup: 32-bit aHash, 4x8-bit bands, exact
  // Hamming <= PhHamT verify (pigeonhole-lossless: PhHamT < PhBands)
  private val PhBits = 32
  private val PhBands = 4
  private val PhHamT = 3

  // m09: scene cut when the stub frame feature jumps by >= SceneCutT
  private val SceneCutT = 400L

  // t27 BM25: query size and the ONE shared per-term formula text (both
  // engines evaluate this identical expression — k1=1.2, b=0.75, +1 idf)
  private val QTerms = 3
  private[graft] val bm25TermSql: String =
    "ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) / " +
      "(tf + 1.2 * (0.25 + 0.75 * dl * n_docs / CAST(total_len AS DOUBLE))) " +
      "* 1000000"

  /** t20's unigram-NLL table (doc_id, n_tok, sum_nll_e6, avg_nll_e4) —
    * shared by t20 and t26; see t20 for the quantize-before-sum doctrine.
    */
  private def unigramNll(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr("split(trim(text), ' ')")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum(col("cnt")).as("n_corpus"))
    toks.join(freq, "tok")
      .crossJoin(broadcast(tot))
      .withColumn("nll_e6", expr(
        "CAST(round(-ln(cnt / CAST(n_corpus AS DOUBLE)) * 1000000) AS BIGINT)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum(col("nll_e6")).as("sum_nll_e6"))
      .withColumn("avg_nll_e4", expr(
        "CAST(round(sum_nll_e6 / (n_tok * 100.0)) AS BIGINT)"))
  }

  // --- t25 winnowing: window of WinW consecutive 13-gram hashes; the
  // packed selection key is h40 * WinC + (WinC-1-pos), so MIN(key) is
  // (min hash, rightmost position) in one pass — h40 = h % 2^40 keeps
  // h40 * 2^20 < 2^60 (docs are < 2^20 chars)
  private val WinW = 8
  private val WinC = 1048576L // 2^20
  private val WinHMod = 1099511627776L // 2^40
  private val WinMinShared = 10

  /** Winnowing fingerprint selection over (doc_id, text): distinct
    * (doc_id, fp) rows, where fp is the rightmost-minimum 40-bit 13-gram
    * hash of each WinW-window (full windows only). The whole selection is
    * position-local, so it runs inside the scan as one fused codegen
    * expression ([[graft.plans.WinnowFps]], registered with these WinW/
    * WinHMod/WinC constants) — no position explode, no window shuffle;
    * only the ~|positions|/WinW fingerprints leave the projection.
    * [[winnowFpsDeclarative]] is the windowed twin the DuckDB oracle
    * replays; equality is spec-asserted on the corpus (DedupSpec).
    */
  private[graft] def winnowFps(docs: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"), explode(expr("graft_winnow13(text)")).as("fp"))
  }

  /** Declarative window-function twin of [[winnowFps]] (the form the
    * DuckDB oracle replays verbatim): positional hashes -> packed keys ->
    * per-doc windowed MIN -> distinct.
    */
  private[graft] def winnowFpsDeclarative(docs: DataFrame): DataFrame = {
    val h = docs
      .select(col("doc_id"), posexplode(expr(shingleHash13PosArraySpark))
        .as(Seq("p0", "hh")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"),
        expr(s"(hh % $WinHMod) * $WinC + ($WinC - 1) - (p0 + 1)").as("key"))
    val wdoc = Window.partitionBy("doc_id")
    val wseq = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, WinW - 1)
    h.withColumn("npos", count(lit(1)).over(wdoc))
      .withColumn("minkey", min("key").over(wseq))
      .filter(col("pos") <= col("npos") - (WinW - 1)) // full windows only
      .select(col("doc_id"), expr(s"minkey div $WinC").as("fp"))
      .distinct()
  }

  /** Positional, slice-carrying twin of [[winnowFps]]: (doc_id, fp,
    * gpos, s) rows, where gpos is the 1-based gram position of the
    * selected occurrence, recovered from the packed minkey (`fp = key div
    * c`, `gpos = (c-1) - key mod c`), and s is the 27-char confirm
    * CONTEXT SLICE text[st, gpos+18], st = max(gpos - WinW, 0) — every
    * aligned window start behind gpos. t37's position-bounded confirm
    * needs both; t25 keeps the fp-only form. Computing the slice HERE,
    * in the same projection as the winnow explode (text is still in
    * scope — no join, no codegen variant needed), keeps every t37 pass
    * free of a corpus-text join and a collect_set regroup. Space trade:
    * ≤ 27 chars per fingerprint row (~+40%), the standard
    * store-context-with-the-index trade; the fps table stays
    * ∝ positions/WinW.
    */
  private[graft] def winnowFpsPosS(docs: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), col("text"),
        explode(expr("graft_winnow13p(text)")).as("key"))
      .select(col("doc_id"), col("text"),
        expr(s"key div $WinC").as("fp"),
        expr(s"($WinC - 1) - (key % $WinC)").as("gpos"))
      .select(col("doc_id"), col("fp"), col("gpos"), sliceExpr.as("s"))
  }

  /** The slice expression shared by [[winnowFpsPosS]] and spanRemoval's
    * delta-side fps maintenance: requires `text` and `gpos` in scope. */
  private def sliceExpr = expr(
    s"substring(text, CAST(greatest(gpos - $WinW, 0L) + 1 AS INT), " +
      s"CAST(gpos + 19 - greatest(gpos - $WinW, 0L) AS INT))")

  /** Positional declarative twin of [[winnowFpsPosS]]'s (doc_id, fp,
    * gpos) columns (the form the DuckDB oracle's selp CTE replays):
    * positional hashes -> packed keys -> per-doc windowed MIN ->
    * distinct (fp, gpos) recovery from the packed minkey.
    */
  private[graft] def winnowFpsPosDeclarative(docs: DataFrame): DataFrame = {
    val h = docs
      .select(col("doc_id"), posexplode(expr(shingleHash13PosArraySpark))
        .as(Seq("p0", "hh")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"),
        expr(s"(hh % $WinHMod) * $WinC + ($WinC - 1) - (p0 + 1)").as("key"))
    val wdoc = Window.partitionBy("doc_id")
    val wseq = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, WinW - 1)
    h.withColumn("npos", count(lit(1)).over(wdoc))
      .withColumn("minkey", min("key").over(wseq))
      .filter(col("pos") <= col("npos") - (WinW - 1)) // full windows only
      .select(col("doc_id"), expr(s"minkey div $WinC").as("fp"),
        expr(s"($WinC - 1) - (minkey % $WinC)").as("gpos"))
      .distinct()
  }

  /** t25's capped-rare fingerprint table: winnowing
    * fingerprints joined against their corpus document frequency, with
    * boilerplate fps (df > max(20, 1% of corpus)) dropped — the cap
    * that bounds the candidate-pair join fan-out (t25's measured 79%
    * pair mass on 216 fps). Materialization barrier: the table feeds
    * both self-join sides (and t25's per-doc counts) — without it the
    * winnow+df subtree executes once per consumer.
    */
  private[graft] def winnowRare(docs: DataFrame): DataFrame = {
    val fpsAll = winnowFps(docs)
    val dfc = fpsAll.groupBy("fp").agg(count(lit(1)).as("dfc"))
    fpsAll.join(dfc, "fp")
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .filter(col("dfc") <= expr("greatest(CAST(20 AS BIGINT), n_docs div 100)"))
      .select("doc_id", "fp")
      .localCheckpoint()
  }

  /** One detect→cut pass of t37's span removal, from the pass's
    * evidence occurrences: every evidenced span ≥ 20 chars shared
    * between two docs is CUT from the higher doc_id (keep-lowest policy,
    * applied per pair on the pass's INPUT texts, so a doc can
    * simultaneously keep vs a higher partner and lose vs a lower one).
    * `sliced` = (doc_id, fp, gpos, s), the [[winnowFpsPosS]] rows of the
    * evidence; `docs` need only cover the docs that can be MARKED (inner
    * cut join — a superset is identical). Emits (doc_id, text_clean,
    * prev_len), one row per doc this pass CHANGED.
    *
    * Shape — confirm work is LINEAR in evidence occurrences, never
    * ∝ document bytes or ∝ pairs × grams: the winnowing window argument
    * says a shared ≥20-char span selects a COMMON fingerprint from the
    * window of WinW=8 grams it contains, at the SAME relative offset δ
    * in both docs. So a confirmed 20-gram behind an evidence occurrence
    * (fp at 1-based gram position g in its doc) can only start at the
    * aligned char offsets g-k, k ∈ [1, WinW] — all inside the
    * occurrence's 27-char slice s — and two docs confirm each other
    * exactly when they contribute the SAME (fp, k, 20-gram). That turns
    * confirmation into ONE grouping over |occurrences| × WinW candidate
    * rows: per (fp, k, gram) group, every occurrence above the group's
    * min doc_id is a confirmed mark (the min doc itself keeps). No pair
    * self-join, no per-pair probes, no large broadcast — the r7 design
    * gram-exploded whole documents per candidate PAIR (the 208 s
    * catastrophe on the self-similar corpus), the first r8 rewrite still
    * built the df-bounded pair cross-product (quadratic in df per fp);
    * this is linear and its shuffle key (fp, k, gram) is skew-free by
    * the df cap. Spans ALL of whose windows select df-capped boilerplate
    * fps are t23's domain (documented carve-out; on cap-free corpora
    * this equals the all-pairs gram join exactly — OperatorsSpec replays
    * that equivalence). Cut = complement of the union of marked
    * [p, p+19] intervals, assembled per doc with array HOFs (sorted
    * fixed-width intervals: running cover end is last p + 19, so gap i
    * is [ps[i-1]+20, ps[i]-1]).
    */
  private def spanCutFromSliced(docs: DataFrame,
      sliced: DataFrame): DataFrame = {
    val cand = sliced
      .select(col("doc_id"), col("gpos"), col("fp"),
        (col("gpos") - greatest(col("gpos") - lit(WinW.toLong), lit(0L)))
          .as("r"), col("s"),
        explode(expr(s"sequence(1, $WinW)")).as("k"))
      .filter(expr("k <= r AND r - k + 20 <= length(s)"))
      .select(col("doc_id"), col("fp"), col("k"),
        (col("gpos") - col("k")).as("p"),
        expr("substring(s, CAST(r - k + 1 AS INT), 20)").as("g"))
    // Aligned confirmation as ONE map-side-combinable aggregation: a
    // group key (fp, k, gram) collects every doc offering that exact
    // 20-gram at window offset k behind a selection of fp; keep-lowest
    // marks every member above the group min. Group fan-out is bounded
    // by the df cap × selection positions, so collect_list stays small
    // and the shuffle is skew-free. (For k <= WinW-1 the gram CONTAINS
    // the selected 13-shingle, so fp in the key is redundant but free —
    // it keeps k = WinW exact too, where the shingle overhangs.)
    // Shape note (r14, measured and REJECTED alternative): folding the
    // keep-lowest into one groupBy(fp,k,g).agg(min, collect_list) +
    // in-group filter + explode — "one shuffle, no sort" on paper —
    // ran pass 0 at 5.5-7.0 s vs 2.6-3.1 s for this window form at
    // sf0.1: ObjectHashAggregate falls back to sort-based at 128
    // distinct keys per partition (this key space is huge), so it pays
    // the same sort PLUS per-group list-object churn. The window's
    // single sort-shuffle is the cheaper physical plan here.
    val wg = Window.partitionBy("fp", "k", "g")
    val marked = cand
      .withColumn("mn", min(col("doc_id")).over(wg))
      .filter(col("doc_id") > col("mn"))
      .select(col("doc_id").as("b"), col("p"))
    // no .distinct(): duplicate (b, p) marks from different (fp, k)
    // witnesses collapse in the collect_set below — deduping here would
    // add a full extra shuffle of the marked rows for nothing
    val ps = marked.groupBy("b")
      .agg(sort_array(collect_set(col("p"))).as("ps"))
    val cut = docs.join(ps, col("doc_id") === col("b"))
      .withColumn("sg", expr(
        "filter(transform(sequence(0, size(ps)), i -> named_struct(" +
          "'gs', CASE WHEN i = 0 THEN 0 ELSE element_at(ps, i) + 20 END, " +
          "'ge', CASE WHEN i = size(ps) THEN length(text) - 1 " +
          "ELSE element_at(ps, i + 1) - 1 END)), x -> x.gs <= x.ge)"))
      .withColumn("text_clean", expr(
        "array_join(transform(sg, " +
          "x -> substring(text, x.gs + 1, x.ge - x.gs + 1)), '')"))
    // prev_len = the cut-INPUT text's length, read in the same pass over
    // the doc bytes (r21): spanRemoval's delta carries it forward as
    // orig_len so the final removed_chars readout needs no corpus
    // re-scan — see the assembly note there.
    cut.select(col("doc_id"), col("text_clean"),
      length(col("text")).cast("long").as("prev_len"))
  }

  /** t37's detect→REMOVE pipeline: the [[spanCutFromSliced]] pass
    * iterated to the fixed point (early exit when a pass marks nothing,
    * maxPasses cap on both engines so the DuckDB oracle can replay the
    * unrolled passes).
    *
    * A single pass is NOT idempotent on real corpora — newly-changed
    * docs measured per pass (aligned semantics, current driver
    * testdata): sf0.001 409 → 109 → 7 → 0, sf0.01 408 → 91 → 14 → 1,
    * sf0.1 4842 → 801 → 174 → 27 — for two reasons: (1) cutting
    * concatenates the surviving gap pieces, and the junction can
    * re-create a ≥20-char span two cleaned docs share (template text
    * with short varying infixes); (2) the rare-fp df cap is
    * df-DEPENDENT — pass 1's cuts shrink boilerplate fingerprint
    * frequencies below the cap, unlocking candidate pairs the first
    * detection correctly skipped. maxPasses is a SEMANTIC cap, not a
    * convergence guarantee: both engines replay exactly SpanPasses
    * passes, so outputs hash-agree regardless, and the decay is
    * geometric (~4-8x per pass) but reaches an empty pass within 4
    * only at sf0.001 (DedupSpec asserts the fixed point and the
    * no-shared-span survivor property there). Emits one row
    * per doc changed vs the ORIGINAL corpus: (doc_id, removed_chars,
    * text_clean). Only the CHANGED-doc delta is materialized per pass
    * (localCheckpoint; ~1% of docs and decaying) — the pass-k corpus is
    * composed as base ∖ delta ∪ delta on demand. At 100 TB the delta is
    * the only inter-stage table a pipeline persists, and the early-exit
    * count is the only driver-side value (the d26 PageRank loop
    * discipline).
    *
    * The raw fingerprint table is maintained INCREMENTALLY across
    * passes: only pass 1 winnows the whole corpus; pass k+1 re-winnows
    * just the docs pass k changed (~1% and decaying) and anti-joins out
    * their stale fps — identical to a full re-winnow because fps are a
    * deterministic per-doc function of text.
    *
    * Skip proof. Pass 1's evidence is every SHAREABLE rare occurrence
    * (fp present in >= 2 docs — a singleton fp cannot witness a
    * cross-doc span). Pass k >= 2 SKIPS fps that provably cannot yield
    * new marks: only fps occurring in a doc changed last pass, or fps
    * that just dropped under the df cap, can. Any other (fp, k, gram)
    * group consists of unchanged docs whose identical grams were grouped
    * last pass — a mark then would have cut the doc (length strictly
    * decreases), contradicting "unchanged" — so skipping the group is a
    * no-op and pass work is ∝ change, not ∝ corpus. The filter is at fp
    * granularity (coarser than per-group but sound: including a stale
    * group is output-neutral, it just re-derives marks that already
    * cut). r10 fused the per-pass machinery around that same proof:
    * pass 1's df-cap + shareability stats are ONE two-step groupBy (no
    * occurrence-cardinality `rare` checkpoint), later passes recount df
    * only over the broadcast candidate-fp set C = changed docs' fps ∪
    * previously-capped fps (capped status can only change inside C, so
    * the corpus-wide distinct+groupBy runs exactly once), and the
    * confirm/cut text join sees only the marked docs' texts (the cut
    * is inner on the marked doc_ids, so a corpus superset is
    * output-neutral). Later passes therefore cost ∝ last pass's
    * change: two narrow scans of the checkpointed fps table + one
    * corpus scan for the text join. Output-identical by the skip
    * proof (a replay of the unfiltered per-pass loop was
    * byte-identical at sf0.001/0.01 — `git show
    * 4a72e29:src/test/scala/graft/ProfileT37h.scala`); gated by the
    * planted all-pairs replay + idempotence specs and the unrolled
    * DuckDB oracle ([[spanPassCtes]]) at three SFs.
    *
    * r19 job fusion (the r18 verdict item 1 — four consecutive capped
    * driver rolls adjudicated to scheduler-gap exposure at ~17 jobs/
    * pass x 4 passes): the loop now runs TWO actions per pass instead
    * of four. (1) setup's corpus checkpoint and capN count share one
    * job (lazy localCheckpoint + counting materializer); (2) the
    * C-restricted recount checkpoints the whole (fp, dfc) table so the
    * evidence needs one rare-side broadcast semi instead of a
    * semi+anti pair; (3) the pass output, the delta merge, and the
    * convergence count are ONE materialization — changed rows carry a
    * `pass` ordinal, the merge is a union + max_by(pass) supersede
    * (one delta-sized shuffle, replacing an anti-join whose broadcast
    * build re-executed the whole mark/cut pipeline), and the count is
    * a per-partition reduce over the checkpoint RDD's own
    * materializing job; (4) the small fp-keyed checkpoints (stats,
    * dfC) are marked lazily, so their final stage materializes inside
    * their first consumer's job instead of a separate eager-count job.
    * Fewer barriers is also the correct 100x-scale design: stragglers
    * amplify per-barrier. Output-identical — the unfiltered-loop replay
    * and the sf oracle gated the rewrite (measured 67 -> 45 jobs /
    * 194 -> 130 tasks at sf0.1, `git show
    * 4a72e29:src/test/scala/graft/ProfileT37n.scala`; NewQueriesR19Spec
    * pins the job count).
    *
    * Each materializing step runs under [[graft.JobStats.step]] as
    * "setup" (before the loop) or "pN" (pass N): a plain by-name call
    * outside a tag, per-pass walls in Bench's `cold_steps` inside one.
    */
  private[graft] def spanRemoval(docs0: DataFrame,
      maxPasses: Int = SpanPasses): DataFrame = {
    val spark = docs0.sparkSession
    graft.plans.GraftFunctions.register(spark)
    // r19 job fusion (the r18 weak-flip exit): the corpus checkpoint and
    // the capN count share ONE job (LoopConf.barrier). Was 3 jobs (ckpt +
    // 2-stage Dataset.count), now 1.
    val (docs, capN) = JobStats.step(spark, "setup") {
      val (d, n) = graft.operators.LoopConf.barrier(
        docs0.select(col("doc_id"), col("text")))
      // the df cap as a driver-side literal (corpus size is fixed for
      // the whole loop): drops the ndocs checkpoint + a broadcast
      // crossJoin from every cap filter — same driver-scalar class as
      // the convergence counts. NB the literal is INLINED into the
      // generated filter code, so a pre-warm slice with a different
      // corpus size can never hit cache for the cap-filter classes
      // (measured r13) — one of the reasons Bench's pre-warm runs the
      // FULL corpus.
      (d, math.max(20L, n / 100L))
    }
    // slice-borne fps (r10): each occurrence carries its 27-char confirm
    // context, so no pass ever joins corpus text for slicing again.
    // Lazy (r19 fusion #4): shuffle-free plan, so the mark costs no job
    // here — the winnow itself runs (and caches) inside pass 0's first
    // stats stage, which scans it anyway. NB this shifts the winnow's
    // wall from the "setup" step into "p0" (§6b r19 note).
    val fpsBase = JobStats.step(spark, "setup") {
      winnowFpsPosS(docs).localCheckpoint(eager = false)
    }
    // Changed docs only, latest text — the pass-k corpus is the cheap
    // composition base ⧹ delta-keys ∪ delta, so no pass re-materializes
    // the full corpus (the r7 per-pass full localCheckpoint). The ONE
    // checkpointed pass output also carries the cleaned text's winnow
    // `keys` array (computed in the same job — fps maintenance costs no
    // extra barrier and the full fps table is never re-materialized;
    // `fpsCur` composes base ⧹ delta ∪ exploded delta keys on demand,
    // identical to a full re-winnow because fps are a deterministic
    // per-doc function of text).
    var delta: DataFrame = null // (doc_id, text, keys, pass)
    def cur: DataFrame =
      if (delta == null) docs
      else docs.join(delta.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(delta.select("doc_id", "text"))
    def fpsCur: DataFrame =
      if (delta == null) fpsBase
      else fpsBase.join(delta.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(delta
          .select(col("doc_id"), col("text"), explode(col("keys")).as("key"))
          .select(col("doc_id"), col("text"),
            expr(s"key div $WinC").as("fp"),
            expr(s"($WinC - 1) - (key % $WinC)").as("gpos"))
          .select(col("doc_id"), col("fp"), col("gpos"), sliceExpr.as("s")))
    var pass = 0
    var converged = false
    // pass-(k-1) state driving pass k's evidence: the checkpointed pass
    // output (its `keys` are the changed docs' new-text fps), the
    // capped-fp table WITH its maintained doc frequencies, and the
    // (fp, lost, gained) doc-membership deltas of last pass's cuts
    var outPrev: DataFrame = null
    var cappedPrev: DataFrame = null // fps over the df cap at last pass
    var changedPrevN = 0L // docs changed last pass (drives the fsetC hint)
    while (pass < maxPasses && !converged) {
      // Per-pass evidence occurrences, r10 fused shape (was a separate
      // df-cap table + the skip filter: 2 corpus-wide distinct+groupBy
      // shuffles, a full-occurrence `rare` checkpoint and 2 more rare
      // scans per pass — ~5 fps-table passes each round).
      val occ: DataFrame =
        if (pass == 0) {
          // ONE two-step groupBy yields df + shareability per fp
          // ((fp, doc) partial combine, then fp rollup — both map-side
          // combinable); capped is the boilerplate tail filter, occ the
          // occurrences of shareable rare fps. No occurrence-cardinality
          // checkpoint: stats is fp-cardinality, strictly smaller than
          // the old `rare` materialization.
          // lazy checkpoint (r19 fusion #4): the two shuffle stages run
          // here; the fp-rollup output materializes (and caches) inside
          // its first consumer's job — shareRare's join below — instead
          // of a separate eager-count job.
          val stats = JobStats.step(spark, "p0") {
            fpsBase.groupBy("fp", "doc_id")
              .agg(count(lit(1)).as("np"))
              .groupBy("fp").agg(count(lit(1)).as("dfc"),
                min("doc_id").as("mn"), max("doc_id").as("mx"))
              .localCheckpoint(eager = false)
          }
          cappedPrev = stats.filter(col("dfc") > capN).select("fp")
          val shareRare = stats
            .filter(col("dfc") <= capN && col("mn") < col("mx"))
            .select("fp")
          // shuffled semi-join, deliberately un-hinted: shareRare is
          // fp-cardinality (grows with the corpus) — a broadcast here
          // would be a corpus-proportional build at scale; AQE still
          // broadcasts it when it is actually small
          fpsBase.join(shareRare, Seq("fp"), "left_semi")
        } else {
          // Candidate fps C: new-text fps of docs changed last pass
          // (outPrev's `keys`, winnowed in the checkpoint job) ∪ fps
          // capped last pass — exactly the skip proof's set, both parts
          // broadcast-size (superset argument: keys ⊇ the rare fps of
          // changed docs, extras are capped and drop out of the rare
          // side below).
          // un-checkpointed and un-distinct'd on purpose: both consumer
          // joins read only checkpointed small tables (outPrev + the
          // capped set), and duplicate fps in a semi/anti hash build are
          // harmless — a distinct would add a shuffle + barrier per pass
          // for nothing. Broadcast is ADAPTIVE (r10 scale audit):
          // changed-doc fps are ∝ last pass's delta — ~1% of the corpus
          // at pass 1 and decaying, which at extreme scale is NOT
          // broadcast-size — so the hint applies only while the KNOWN
          // changed-doc count bounds the set. Un-hinted AQE still
          // broadcasts a small set, but only after materializing the
          // shuffle stage first (measured +0.85 s/run at sf0.1). The
          // evidence join's rare side below is gated the same way —
          // since the r19 fusion it carries the |C|-proportional rare
          // fps, not just the scale-invariant capped set (≤ sum(df)/cap
          // = 100 × avg fps per doc) the old anti-join shape pinned.
          val fsetC0 = outPrev
            .select(explode(col("keys")).as("key"))
            .select(expr(s"key div $WinC").as("fp"))
            .unionByName(cappedPrev)
          val fsetC =
            if (changedPrevN <= FsetBroadcastMaxDocs) broadcast(fsetC0)
            else fsetC0
          // df recount restricted to C (SURVEY §7 r9(a)'s "fold the
          // df cap into the evidence scan"): df can only have RISEN
          // for fps a changed doc gained (⊆ keys) and capped-status can
          // only turn off for fps that were capped (⊆ cappedPrev), so
          // the C-restricted recount IS the full new capped set — the
          // corpus-wide distinct+groupBy is gone from passes >= 2. (An
          // incremental (fp, dfc) maintenance variant — membership
          // deltas per pass, no distinct at all — measured SLOWER at
          // local[32]: its two extra fps-composition scans + checkpoints
          // cost more than this one C-restricted shuffle. r10 note.)
          // r19 job fusion: checkpoint the WHOLE C-restricted (fp, dfc)
          // recount, not just its capped side. The evidence join below
          // then needs only ONE broadcast semi against the rare side
          // (dfc <= capN), replacing the old semi-on-C + anti-on-capped
          // pair — identical set by complement (occ = (fpsCur semi C)
          // anti capped == fpsCur semi {fp in C : dfc <= capN}, because
          // every fp of C with an occurrence is in dfC), one fewer
          // broadcast build job per pass. dfC is fp-cardinality (|C|),
          // strictly smaller than the old capped-only table plus the
          // rare fps it now also carries — still broadcast-size.
          // lazy checkpoint (r19 fusion #4): the distinct and rollup
          // shuffles run here; the final fp-rollup output materializes
          // inside the rare-side broadcast build of the evidence join
          // below, not a separate eager-count job.
          val dfC = JobStats.step(spark, s"p$pass") {
            fpsCur
              .join(fsetC, Seq("fp"), "left_semi")
              .select("doc_id", "fp").distinct()
              .groupBy("fp").agg(count(lit(1)).as("dfc"))
              .localCheckpoint(eager = false)
          }
          cappedPrev = dfC.filter(col("dfc") > capN).select("fp")
          // the evidence: now-rare occurrences of C fps — one more
          // narrow fps scan. Un-checkpointed (r10 slice-borne form):
          // its only consumer is the out job's candidate explode.
          // Broadcast gated like fsetC (r20, the r19 ADVICE): dfC's
          // rare side is |C|-proportional — ∝ the previous pass's
          // changed-doc fps, NOT the scale-invariant capped set the old
          // anti-join shape pinned — so an unconditional hint would
          // bypass AQE's size check and OOM the broadcast build at
          // extreme scale. Under the bound the pinned hint skips AQE's
          // materialize-first step (the measured +0.85 s/run); over it
          // AQE decides from actual sizes.
          val rareC = dfC.filter(col("dfc") <= capN).select("fp")
          fpsCur.join(
            if (changedPrevN <= FsetBroadcastMaxDocs) broadcast(rareC)
            else rareC,
            Seq("fp"), "left_semi")
        }
      // keys feed only the NEXT pass's candidate set — on the final pass
      // the re-winnow is dead work, so it degenerates to an empty array.
      // The winnow of the cleaned texts rides the same checkpoint job as
      // the pass output itself (delta-sized; never a separate corpus
      // job). Corpus text is touched exactly ONCE per pass now — the cut
      // join (inner on the marked-doc ps, AQE-broadcast small) — because
      // occ rows carry their own confirm slices.
      val keysCol =
        if (pass < maxPasses - 1) expr("graft_winnow13p(text_clean)")
        else expr("CAST(array() AS ARRAY<BIGINT>)")
      // r19 job fusion (the r18 weak-flip exit — was 3 actions/pass:
      // out ckpt, 2-job count, delta-merge ckpt): ONE action per pass
      // materializes the MERGED delta directly and the convergence
      // count rides the same job. Structure:
      //  - the pass's changed rows are tagged with a `pass` ordinal, so
      //    "docs changed this pass" stays identifiable inside the
      //    merged table (outPrev = filter(pass = k), cached rows);
      //  - the supersede is union + max_by(pass) — see mergedDelta's
      //    comment for why the anti-join form was rejected;
      //  - the count is the localCheckpoint's own materializing job
      //    (eager checkpointing runs an internal count and discards
      //    it): mark lazily, then one per-partition reduce over the
      //    checkpoint RDD counts this pass's tag while persisting the
      //    blocks. Driver-side scalar, the d26 discipline (the only
      //    driver-side values in the loop are this count and capN).
      val k = pass
      // prev_len (r21): each changed row carries the length of the
      // text it was cut FROM, read in the cut's own pass over the doc
      // bytes. The merge folds it to orig_len = the ORIGINAL corpus
      // length (max over the doc's rows: a doc's first-change row reads
      // the original text, later rows read an already-cut — strictly
      // shorter — text, so max picks the original), and the final
      // assembly then needs NO corpus join: the old readout re-scanned
      // the full corpus text a 5th time just to compute
      // length(o.text) for ~1% of docs.
      val outNew = spanCutFromSliced(cur, occ)
        .select(col("doc_id"), col("text_clean").as("text"),
          keysCol.as("keys"), lit(k).as("pass"),
          col("prev_len").as("orig_len"))
      // supersede-by-latest as ONE union + max_by aggregation instead of
      // the old anti-join + union: the anti-join needed the pass's
      // changed-doc ids a second time (measured: the whole mark/cut
      // pipeline re-executed for the anti's broadcast build — no
      // exchange reuse across the union's branches), while the union
      // form touches outNew once and pays one delta-sized shuffle. At
      // 100 TB the delta (~1% of docs, decaying) was never
      // broadcast-size either, so the old merge shuffled the same rows
      // through a sort-merge anti — scale-equivalent, minus a whole
      // pipeline re-execution. max_by is deterministic here: a doc
      // appears at most once per side with distinct pass ordinals.
      val mergedDelta =
        if (delta == null) outNew
        else delta.unionByName(outNew)
          .groupBy("doc_id")
          .agg(max_by(
            struct(col("text"), col("keys"), col("pass")),
            col("pass")).as("w"),
            max(col("orig_len")).as("orig_len"))
          .select(col("doc_id"), col("w.text").as("text"),
            col("w.keys").as("keys"), col("w.pass").as("pass"),
            col("orig_len"))
      val (deltaCkpt, changedN) =
        JobStats.step(spark, s"p$pass") {
          val d = mergedDelta.localCheckpoint(eager = false)
          val ord = d.schema.fieldIndex("pass")
          val n = d.queryExecution.toRdd.mapPartitions { it =>
            var a = 0L
            it.foreach(r => if (r.getInt(ord) == k) a += 1)
            Iterator.single(a)
          }.fold(0L)(_ + _)
          (d, n)
        }
      changedPrevN = changedN
      if (changedPrevN == 0L) converged = true
      else {
        delta = deltaCkpt
        outPrev = deltaCkpt.filter(col("pass") === k) // cached rows;
        // its keys drive the next pass's candidate set
      }
      pass += 1
    }
    // only docs in delta can differ from the original corpus, and the
    // delta carries each doc's ORIGINAL length (orig_len, see the merge
    // note) — so the readout is delta-sized with no corpus join: the
    // pre-r21 assembly joined the full docs scan (a 5th corpus text
    // pass per execution) against the ~1% delta just to re-read
    // length(o.text). removed_chars and the shrank-only filter are
    // value-identical: orig_len == length(o.text) by the merge's
    // max fold.
    val changedAll =
      if (delta == null)
        docs.select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("orig_len")).limit(0)
      else delta.select(col("doc_id"), col("text"), col("orig_len"))
    changedAll
      .filter(length(col("text")) < col("orig_len"))
      .select(col("doc_id"),
        (col("orig_len") - length(col("text")))
          .cast("long").as("removed_chars"),
        col("text").as("text_clean"))
      .orderBy("doc_id")
  }

  /** Pass cap for [[spanRemoval]] — measured fixed point + 1 at all
    * tested SFs; the oracle unrolls exactly this many passes. */
  private[graft] val SpanPasses = 4

  /** spanRemoval broadcasts the per-pass candidate-fp set only while the
    * changed-doc count stays under this bound (≈ docs × avg fps/doc ≈
    * 250k × 40 = 10M 8-byte fps ≈ 80 MB build side — comfortably inside
    * an executor broadcast budget); beyond it the semi-joins go through
    * AQE's runtime choice. Join strategy only — outputs are identical
    * either way. */
  private val FsetBroadcastMaxDocs = 250000L

  // --- t36/t38 quality classifier: trained weights (r7 verdict ask) -----
  // The FineWeb-Edu shape end to end: an expensive rule cascade (t22's
  // gopher stack) plays the TEACHER; a 4-weight linear STUDENT over t36's
  // cheap fixed-point features is trained to mimic it, then serving is a
  // pure per-row projection at scan speed. Training is a BATCH integer
  // perceptron — fixed TrainEpochs epochs, no early exit, no RNG — so
  // every iteration is deterministic exact-BIGINT arithmetic the DuckDB
  // oracle replays as chained CTEs (the d10 Lloyd discipline).
  private[graft] val TrainEpochs = 8
  private val BiasX = 100L // bias feature value: lets wb move under div-n lr

  /** Feature+teacher table for t36/t38: t36's three fixed-point features
    * (stop/short ratio e4, mean token length e2, all integer div) plus the
    * t22 gopher verdict as the ±1 label. One documents scan; callers
    * localCheckpoint it (it feeds every training epoch AND serving).
    */
  private[graft] def classifierFeatures(docs: DataFrame): DataFrame = docs
    .withColumn("n_tok", expr(wsTokensSpark))
    .withColumn("n_stop", expr(scoreSpark(langMarkers.head._2)))
    .withColumn("n_short", expr(shortTokensSpark))
    .withColumn("stop_ratio_e4", expr("n_stop * 10000 div (n_tok + 1)"))
    .withColumn("short_ratio_e4", expr("n_short * 10000 div (n_tok + 1)"))
    .withColumn("mean_len_e2", expr("n_chars * 100 div (n_tok + 1)"))
    // teacher = t22's rule stack, replicated expression-for-expression
    .withColumn("mwl_e2", expr(
      "CAST(round((length(trim(text)) - (n_tok - 1)) * 100.0 / n_tok) AS BIGINT)"))
    .withColumn("n_stopw", expr(stopwPresentSpark))
    .withColumn("short_e4", expr(
      "CAST(round(n_short * 10000.0 / n_tok) AS BIGINT)"))
    .withColumn("y", expr(
      "CASE WHEN n_tok < 30 OR n_tok > 100000 OR mwl_e2 < 300 " +
        "OR mwl_e2 > 1000 OR n_stopw < 2 OR short_e4 > 4000 " +
        "THEN CAST(-1 AS BIGINT) ELSE CAST(1 AS BIGINT) END"))
    .select("doc_id", "n_tok", "stop_ratio_e4", "short_ratio_e4",
      "mean_len_e2", "y")

  private val misCondSql =
    s"y * (w1 * stop_ratio_e4 + w2 * short_ratio_e4 + w3 * mean_len_e2 " +
      s"+ wb * $BiasX) <= 0"
  // floor(sx/n) in pure integers (the d12 convention): subtract the
  // non-negative remainder so truncating and flooring division agree
  private def floorDivSql(sx: String, n: String, div: String): String =
    s"($sx - (($sx % $n + $n) % $n)) $div $n"

  /** Batch perceptron over [[classifierFeatures]] output: w starts at 0;
    * each epoch adds floor(Σ_misclassified y·x / n_docs) per weight (lr =
    * 1/n keeps weights ~feature-scale; zero-init makes epoch 1's update
    * the class-mean difference). Emits one row per epoch: (epoch, w_stop,
    * w_short, w_mlen, w_bias, n_mis) where n_mis counts misclassifications
    * ENTERING the epoch (epoch 1's n_mis = n_docs: y·0 ≤ 0 for all).
    * Shape at 100 TB: each epoch is ONE map-side-combined aggregate over
    * the persisted feature table; weights ride along as a broadcast 1-row
    * table — no window, no driver-side values, lineage cut per epoch.
    */
  private[graft] def trainPerceptron(feat: DataFrame): DataFrame = {
    def upd(sx: String) = floorDivSql(sx, "n", "div")
    // r21 (the r20 verdict item 6): ProfileR21 measured this tail class
    // (`git show 420a545:src/test/scala/graft/ProfileR21.scala`)
    // at wall ≈ jobs × ~60 ms scheduler fixed cost — t38 ran 31 jobs
    // for ~0.7 s of task compute. n now comes from the checkpointed
    // feat's own RDD count (one cached-blocks job) and drives BOTH a
    // literal 1-row init (replacing the old count-agg job + checkpoint)
    // and the r20 size-adaptive loop conf: AQE off inside collapses
    // each epoch's per-stage re-plan jobs into the eager checkpoint's
    // one; a corpus-scale feat keeps the caller's conf via the gate.
    // Values are unchanged: toRdd.count() == the old agg's count(1).
    val spark = feat.sparkSession
    val n0 = feat.queryExecution.toRdd.count()
    graft.operators.LoopConf.withSized(spark, n0) {
    var w: DataFrame = spark.range(1)
      .select(lit(0L).as("w1"), lit(0L).as("w2"), lit(0L).as("w3"),
        lit(0L).as("wb"), lit(n0).as("n"))
    val epochs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (e <- 1 to TrainEpochs) {
      val step = feat.crossJoin(broadcast(w))
        .groupBy("w1", "w2", "w3", "wb", "n")
        .agg(
          sum(expr(s"CASE WHEN $misCondSql THEN y * stop_ratio_e4 " +
            "ELSE CAST(0 AS BIGINT) END")).as("s1"),
          sum(expr(s"CASE WHEN $misCondSql THEN y * short_ratio_e4 " +
            "ELSE CAST(0 AS BIGINT) END")).as("s2"),
          sum(expr(s"CASE WHEN $misCondSql THEN y * mean_len_e2 " +
            "ELSE CAST(0 AS BIGINT) END")).as("s3"),
          sum(expr(s"CASE WHEN $misCondSql THEN y * $BiasX " +
            "ELSE CAST(0 AS BIGINT) END")).as("s0"),
          count(expr(s"CASE WHEN $misCondSql THEN 1 END")).as("n_mis"))
        .select(expr(s"w1 + ${upd("s1")}").as("w1"),
          expr(s"w2 + ${upd("s2")}").as("w2"),
          expr(s"w3 + ${upd("s3")}").as("w3"),
          expr(s"wb + ${upd("s0")}").as("wb"),
          col("n"), col("n_mis"))
        .localCheckpoint()
      epochs += step.select(lit(e.toLong).as("epoch"),
        col("w1").as("w_stop"), col("w2").as("w_short"),
        col("w3").as("w_mlen"), col("wb").as("w_bias"), col("n_mis"))
      w = step.select("w1", "w2", "w3", "wb", "n")
    }
    // lazy union over eager-checkpointed steps — the LoopConf-legal
    // escape shape (rooted on state materialized inside the scope)
    epochs.reduce(_.unionByName(_))
    } // LoopConf
  }

  /** Serve the trained classifier: score `feat` against a 1-row weight
    * table (read back from the persisted store in t36) — broadcast cross
    * join + pure projection, no aggregate, scan speed at 100 TB
    * (PlanShapeSpec asserts no training appears in this subplan).
    */
  private[graft] def serveClassifier(feat: DataFrame, w: DataFrame): DataFrame = {
    val logit = s"w_stop * stop_ratio_e4 + w_short * short_ratio_e4 " +
      s"+ w_mlen * mean_len_e2 + w_bias * $BiasX"
    feat.crossJoin(broadcast(w))
      .select(col("doc_id"), col("n_tok"), col("stop_ratio_e4"),
        col("short_ratio_e4"), col("mean_len_e2"),
        expr(logit).as("logit"), expr(s"$logit >= 0").as("keep"))
  }

  private val modalityCase =
    "CASE WHEN doc_id % 10 < 6 THEN 'text' WHEN doc_id % 10 < 8 THEN 'image' " +
      "WHEN doc_id % 10 < 9 THEN 'audio' ELSE 'video' END"
  private def modalityTokens(n: String, divOp: String): String = {
    val w = s"(64 + $n % 512)"
    val h = s"(64 + ($n * 7) % 512)"
    val patches = s"(($w $divOp 16) * ($h $divOp 16))"
    s"CASE WHEN doc_id % 10 < 6 THEN $n $divOp 4 " +
      s"WHEN doc_id % 10 < 8 THEN $patches " +
      s"WHEN doc_id % 10 < 9 THEN $n $divOp 40 " +
      s"ELSE (1 + $n % 24) * $patches END"
  }

  /** The (modality, doc_id, toks) item table m14/m15 pack — one shared
    * derivation (r11) so the batch queries and the streaming twin's spec
    * ([[graft.streaming.EventStreams.packSegments]]) provably pack the
    * SAME items: deterministic modality assignment + per-modality
    * training-token equivalents over the payload stub.
    */
  private[graft] def packItems(s: SparkSession, d: String): DataFrame =
    Multimodal.withPayload(Tables.documents(s, d))
      .withColumn("n", octet_length(col("payload")).cast("long"))
      .withColumn("modality", expr(modalityCase))
      .withColumn("toks", expr(modalityTokens("n", "div")).cast("long"))
      .select("modality", "doc_id", "toks")

  // t29 BPE: number of pair-merge iterations learned over the word
  // histogram (each is O(|vocab|) work; the corpus is scanned exactly once)
  private val BpeIters = 6

  // t30: systematic-sampling tick count (the target sample size; the
  // realized count is total_w div step >= WsTicks by floor arithmetic)
  private val WsTicks = 50

  /** Greedy leftmost non-overlapping application of merge (lhs, rhs) to a
    * symbol array `syms`, as a string-accumulator fold: a merged symbol
    * lhs||rhs never equals lhs (rhs nonempty), so the "last symbol ==
    * lhs" suffix test can never re-match a symbol created in the same
    * pass — the fold IS the greedy scan. Spec-checked against a reference
    * Scala implementation (OperatorsSpec), replayed verbatim by the
    * DuckDB oracle via `list_reduce` with a prepended seed.
    */
  private[graft] val bpeMergeSpark: String =
    "filter(split(aggregate(syms, '', (acc, x) -> " +
      "CASE WHEN endswith(acc, concat('|', lhs)) AND x = rhs " +
      "THEN concat(acc, x) ELSE concat(acc, '|', x) END), '[|]'), " +
      "s -> s <> '')"

  /** The char-symbolized word histogram (w, cnt, syms) — BPE's training
    * input and encoding target; the one corpus-scale pass.
    */
  private[graft] def bpeWords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(expr("split(trim(text), ' ')")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("syms", expr("split(w, '')"))

  /** t29's SERVING half: apply a PERSISTED merge table (it, lhs, rhs) to
    * a symbolized word table in learned order — what a tokenizer
    * deployment runs (train once, persist the merges, encode every
    * corpus from the store; the merge table is the broadcast-scale model
    * artifact, exactly like IvfIndex's codebook). Spec proves encoding
    * from the store equals inline training (BpeSpec).
    */
  private[graft] def bpeApply(merges: DataFrame, words: DataFrame,
      iters: Int): DataFrame =
    (1 to iters).foldLeft(words) { (seq, i) =>
      seq.crossJoin(broadcast(
          merges.filter(col("it") === i).select("lhs", "rhs")))
        .withColumn("syms", expr(bpeMergeSpark))
        .select("w", "cnt", "syms")
    }

  /** Shared t29/t32 trainer: the BpeIters pair-merge loop over the word
    * histogram. Returns (per-iteration best-pair rows, final symbolized
    * word table); see t29 for the algorithm notes.
    */
  private def bpeTrain(s: SparkSession, d: String)
      : (Seq[DataFrame], DataFrame) = {
    // one barrier job both persists the word histogram and measures it
    // for the sized loop conf — ProfileR21 (the r20 verdict item 6;
    // `git show 420a545:src/test/scala/graft/ProfileR21.scala`)
    // measured t29/t32's wall at ≈ jobs × ~60 ms scheduler fixed cost
    // (30-31 jobs for ~0.3 s of task compute); AQE off inside the
    // vocab-sized loop collapses each iteration's per-stage re-plan
    // jobs into its two eager checkpoints' own.
    val (words, n0) = graft.operators.LoopConf.barrier(bpeWords(s, d))
    var seq = words
    graft.operators.LoopConf.withSized(s, n0) {
    val merges = (1 to BpeIters).map { i =>
      val best = seq
        .select(col("cnt"), explode(expr(
          "zip_with(slice(syms, 1, size(syms) - 1), " +
            "slice(syms, 2, size(syms) - 1), (x, y) -> concat(x, '|', y))"))
          .as("p"))
        .groupBy(expr("split_part(p, '|', 1)").as("lhs"),
          expr("split_part(p, '|', 2)").as("rhs"))
        .agg(sum(col("cnt")).as("pair_n"))
        .orderBy(col("pair_n").desc, col("lhs").asc, col("rhs").asc)
        .limit(1)
        .localCheckpoint() // feeds BOTH the output row and the merge join
      seq = seq.crossJoin(broadcast(best.select("lhs", "rhs")))
        .withColumn("syms", expr(bpeMergeSpark))
        .select("w", "cnt", "syms")
        .localCheckpoint()
      best.select(lit(i.toLong).as("it"), col("lhs"), col("rhs"),
        col("pair_n"))
    }
    // both escapes are LoopConf-legal: merges rows select over the
    // eager-checkpointed best tables, seq is the last eager checkpoint
    (merges, seq)
    } // LoopConf
  }

  val queries: Map[String, Q] = Map(
    "t29_bpe_merges" -> { (s, d) =>
      // BPE tokenizer training (the Sennrich 2016 algorithm) as a
      // distributed pipeline: the ONLY corpus-scale pass is the
      // token-count groupBy (map-side combined) — the merge loop then
      // runs entirely over the compact word-frequency table (O(|vocab|)
      // rows; this corpus→histogram→iterate split is exactly how
      // production BPE trainers scale, the histogram being the mergeable
      // sufficient statistic). Each iteration counts adjacent symbol
      // pairs weighted by word frequency, picks the argmax pair (count
      // desc, lexicographic tie-break), and applies it with greedy
      // leftmost non-overlapping semantics via a string-accumulator fold
      // over the symbol array: a merged symbol L||R never equals L (R is
      // nonempty), so the "last symbol == L" test can never re-match a
      // symbol created in the same pass — the fold IS the greedy scan,
      // and replays verbatim in the oracle (Spark `aggregate` / DuckDB
      // `list_reduce` with a prepended seed, the t04 fold convention).
      // 1-row best-pair broadcast per iteration, lineage-cut like the
      // Lloyd/PageRank loops. Output: the learned merge table — the
      // artifact a tokenizer run pins.
      bpeTrain(s, d)._1.reduce(_ unionByName _).orderBy("it")
    },

    "t32_bpe_vocab" -> { (s, d) =>
      // The tokenizer APPLIED (t29 trains once; this is what the
      // pipeline then runs over every corpus): the learned merges
      // re-segment the word histogram, and the resulting symbol table —
      // each surviving symbol with its corpus occurrence count and
      // length — is the vocab/fertility report context-window budgeting
      // reads (corpus tokens = Σcount; merged symbols' share = how much
      // the 6 merges compressed the stream). Same corpus→histogram
      // split: the only corpus-scale pass is the token count; encoding
      // touches O(|vocab|) rows and real deployments join the encoded
      // vocab back to documents by word — never re-fold per document.
      val seqFinal = bpeTrain(s, d)._2
      seqFinal.select(col("cnt"), explode(col("syms")).as("symbol"))
        .groupBy("symbol")
        .agg(sum(col("cnt")).as("corpus_count"))
        .withColumn("sym_len", length(col("symbol")).cast("long"))
        .select(col("symbol"), col("sym_len"), col("corpus_count"))
        .orderBy(col("corpus_count").desc, col("symbol").asc)
    },

    "t35_tokenizer_fertility" -> { (s, d) =>
      // Tokenizer FERTILITY per language — the eval that decides vocab
      // allocation in multilingual training (a language whose words
      // fragment into many symbols pays more context budget per word;
      // fertility = symbols/word, compression = chars/symbol). Encoding
      // rides the t29/t32 split: the trained segmentation lives on the
      // O(|vocab|) word histogram, so per-lang accounting is one corpus
      // word pass joined to the broadcast word→n_syms table — never a
      // per-document re-fold.
      val enc = bpeTrain(s, d)._2
        .select(col("w"), expr("CAST(size(syms) AS BIGINT)").as("n_syms"))
        .localCheckpoint() // O(|vocab|) rows
      Tables.documents(s, d)
        .select(col("lang"), explode(expr("split(trim(text), ' ')")).as("w"))
        .join(broadcast(enc), "w")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_syms")).as("total_syms"),
          sum(length(col("w")).cast("long")).as("total_chars"))
        .withColumn("fertility_e4", expr(
          "CAST(round(total_syms * 10000.0 / n_words) AS BIGINT)"))
        .withColumn("compression_e4", expr(
          "CAST(round(total_chars * 10000.0 / total_syms) AS BIGINT)"))
        .orderBy("lang")
    },

    "t30_weighted_sample" -> { (s, d) =>
      // Systematic weighted sampling (importance sampling for data
      // mixing): every document gets probability proportional to its
      // weight (chars here — a quality score in production) by laying
      // all weights end-to-end in the t21 deterministic-shuffle order
      // and selecting the documents whose weight interval contains a
      // multiple of step = total_w/50 — the classic systematic sampler,
      // exact integers, no RNG (heavy docs can be drawn >1 time via
      // n_ticks, the with-replacement accounting a mixture loader uses).
      // The global prefix sum is computed the way a 1000-executor job
      // must: a 64-shard within-shard running total plus broadcast
      // per-shard offsets (two corpus scans, O(shards) driver-side
      // state) — NOT a single-partition global window; the oracle's
      // global ORDER BY cumsum replays the identical total order
      // (shard, h, doc_id), which is what the hash match proves.
      val o = Tables.documents(s, d).select(col("doc_id"),
        col("n_chars").as("w"),
        expr("(doc_id * 2654435761) % 1000000007").as("h"))
        .withColumn("shard", expr("h % 64"))
      // pass 1: per-shard totals -> offsets (exclusive prefix over 64
      // rows) + grand total; tiny table, materialized once
      val sw = o.groupBy("shard").agg(sum(col("w")).as("sw"))
        .localCheckpoint()
      val offsets = sw.withColumn("off", coalesce(
        sum(col("sw")).over(Window.orderBy("shard")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("shard", "off")
      val tot = sw.agg(sum(col("sw")).as("total_w"))
      // pass 2: within-shard running total + offset = global prefix sum
      o.withColumn("cw_local", sum(col("w")).over(
        Window.partitionBy("shard").orderBy(col("h").asc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(offsets), "shard")
        .crossJoin(broadcast(tot))
        .withColumn("cw", expr("off + cw_local"))
        // greatest(1, ·) guards total_w < WsTicks (step would be 0 and
        // the div fails) — no-op at every shipped SF, mirrored in the
        // oracle (r6 ADVICE)
        .withColumn("n_ticks", expr(
          s"cw div greatest(1, total_w div $WsTicks) " +
            s"- (cw - w) div greatest(1, total_w div $WsTicks)"))
        .filter(col("n_ticks") > 0)
        .select("doc_id", "shard", "w", "cw", "n_ticks")
        .orderBy("cw", "doc_id")
    },

    "t31_repeat_factor" -> { (s, d) =>
      // Repeat-factor upsampling (the LVIS/detection-style materialized
      // twin of t17's weights): each document repeats floor(weight)
      // times plus one stochastic-rounding extra decided by its hash
      // fraction (deterministic, no RNG — E[r] equals the real-valued
      // weight, so the epoch hits the uniform-language target mix in
      // expectation and exactly in the hash-uniform limit). The epoch is
      // actually MATERIALIZED: `sequence(1, r)` + explode (r >= 1
      // filtered first — Spark's sequence DESCENDS on an empty range),
      // which at 100 TB is a pure executor-side row expansion with no
      // shuffle; the rollup then proves the realized epoch equals the
      // plan (n_epoch = Σr). Weights are t17's exact integer formula; a
      // real run writes the exploded epoch instead of rolling it up.
      val byLang = Tables.documents(s, d)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val tot = byLang.agg(sum(col("n_docs")).as("total"),
        count(lit(1)).as("n_langs"))
      val wt = byLang.crossJoin(broadcast(tot))
        .withColumn("weight_e6", expr(
          "(1000000 div n_langs) * 1000000 div (n_docs * 1000000 div total)"))
        .select("lang", "weight_e6")
      val reps = Tables.documents(s, d).select("doc_id", "lang")
        .join(broadcast(wt), "lang")
        .withColumn("r", expr(
          // least(..., 10): the LVIS repeat-factor CAP — a vanishing
          // domain would otherwise explode to weight-sized fan-out
          "least(weight_e6 div 1000000 + " +
            "CASE WHEN ((doc_id * 2654435761) % 1000000007) % 1000000 " +
            "< weight_e6 % 1000000 THEN 1 ELSE 0 END, CAST(10 AS BIGINT))"))
      val epoch = reps.filter(col("r") >= 1)
        .select(col("doc_id"), col("lang"), col("r"),
          explode(expr("sequence(1L, r)")).as("rep"))
      epoch.groupBy("lang")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_epoch"),
          min(col("r")).as("min_r"), max(col("r")).as("max_r"))
        .orderBy("lang")
    },

    "t33_dataset_card" -> { (s, d) =>
      // The dataset CARD (Datasheets-for-Datasets / release-notes
      // rollup — the one-page summary a corpus ships with): doc count,
      // language count, byte/char mass, token totals, vocabulary size,
      // exact-duplicate mass (d01's normalized keys), and mean document
      // length, as one (metric, value) verdict table of exact BIGINTs.
      // Two corpus passes (doc-level aggregate + token explode), both
      // map-side combined — deliberately two SCANS, not a checkpoint:
      // at 100 TB re-reading the store twice is the honest shape,
      // materializing the corpus is not (the checkpoint doctrine is for
      // small/mid shared subtrees).
      val docs = Tables.documents(s, d)
      val docAgg = docs.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(expr(graft.operators.Dedup.normKeySql)).as("n_uniq"))
      val tokAgg = docs
        .select(explode(expr("split(trim(text), ' ')")).as("tok"))
        .agg(count(lit(1)).as("total_tokens"),
          countDistinct(col("tok")).as("vocab_size"))
      docAgg.crossJoin(tokAgg).selectExpr(
        "stack(7, 'n_docs', n_docs, 'n_langs', n_langs, " +
          "'total_chars', total_chars, 'total_tokens', total_tokens, " +
          "'vocab_size', vocab_size, " +
          "'exact_dup_docs', n_docs - n_uniq, " +
          "'mean_doc_chars', total_chars div n_docs) AS (metric, value)")
        .orderBy("metric")
    },

    "t36_quality_classifier" -> { (s, d) =>
      // Model-based quality filtering, now the full FineWeb-Edu story
      // (r7 verdict ask — r6's offline-trained stub constants are gone):
      // the t22 gopher rule stack teaches a 4-weight linear student over
      // cheap fixed-point features (see classifierFeatures /
      // trainPerceptron), the trained weights are installed to a
      // persisted store (atomic rename — the q36/q39 serving-split
      // pattern), and SERVING reads the store back and scores the corpus
      // as a broadcast-1-row projection: no training job, no aggregate in
      // the serving subplan (PlanShapeSpec). Training runs inline here so
      // the query stays self-contained and the oracle replays every
      // epoch; production pays it once per refresh (t38 is the training
      // query exposing the per-epoch trajectory).
      val sfName = new java.io.File(d).getName
      val path = s"/tmp/graft_stores/t36_weights_$sfName"
      val feat = classifierFeatures(Tables.documents(s, d)).localCheckpoint()
      val wFinal = trainPerceptron(feat)
        .filter(col("epoch") === TrainEpochs.toLong)
        .select("w_stop", "w_short", "w_mlen", "w_bias")
      graft.sources.ParquetStore.installOverwrite(wFinal, path)
      serveClassifier(feat, graft.sources.ParquetStore.read(s, path)).orderBy("doc_id")
    },

    "t43_classifier_eval" -> { (s, d) =>
      // The student-vs-teacher EVAL CARD every distilled quality
      // classifier ships (the FineWeb-Edu accounting step after t36's
      // distillation): t36's served linear verdict against t22's rule
      // stack as a 2×2 confusion with integer precision/recall/accuracy
      // (×1e4, -1 sentinel for empty denominators — the d33 convention).
      // The number a curator reads before swapping rules for the model:
      // how much of the rule behavior did the 4-weight student actually
      // capture. Training runs inline (the self-contained-trainer class,
      // oracle-replayed per epoch); the confusion is one broadcast join
      // + a 1-row fold.
      val docs = Tables.documents(s, d)
      val feat = classifierFeatures(docs).localCheckpoint()
      val wFinal = trainPerceptron(feat)
        .filter(col("epoch") === TrainEpochs.toLong)
        .select("w_stop", "w_short", "w_mlen", "w_bias")
      val st = serveClassifier(feat, wFinal)
        .select(col("doc_id"), col("keep").as("pred"))
      val kept = gopherKept(docs).select(col("doc_id"))
        .withColumn("tk", lit(true))
      st.join(kept, Seq("doc_id"), "left")
        .select(col("pred"), coalesce(col("tk"), lit(false)).as("t"))
        .agg(
          sum(when(col("pred") && col("t"), 1L).otherwise(0L)).as("n_tp"),
          sum(when(col("pred") && !col("t"), 1L).otherwise(0L)).as("n_fp"),
          sum(when(!col("pred") && col("t"), 1L).otherwise(0L)).as("n_fn"),
          sum(when(!col("pred") && !col("t"), 1L).otherwise(0L)).as("n_tn"))
        .withColumn("precision_e4", expr(
          "CASE WHEN n_tp + n_fp = 0 THEN CAST(-1 AS BIGINT) " +
            "ELSE n_tp * 10000 div (n_tp + n_fp) END"))
        .withColumn("recall_e4", expr(
          "CASE WHEN n_tp + n_fn = 0 THEN CAST(-1 AS BIGINT) " +
            "ELSE n_tp * 10000 div (n_tp + n_fn) END"))
        .withColumn("accuracy_e4", expr(
          "(n_tp + n_tn) * 10000 div (n_tp + n_fp + n_fn + n_tn)"))
    },

    "t38_classifier_train" -> { (s, d) =>
      // The training twin of t36: the batch-perceptron trajectory itself
      // — one row per epoch with the weight vector and the misclassified
      // count entering the epoch (vs the t22 teacher). Deterministic
      // exact-BIGINT arithmetic end to end (zero init, floor-div 1/n
      // learning rate, no RNG, fixed epoch count), so the oracle replays
      // every epoch as a chained CTE — the training is hash-checked, not
      // just the final weights (the d10 Lloyd discipline).
      val feat = classifierFeatures(Tables.documents(s, d)).localCheckpoint()
      trainPerceptron(feat).orderBy("epoch")
    },

    "t34_dsir_select" -> { (s, d) =>
      // DSIR data selection (Xie et al. 2023): importance-weight every
      // document by how much its hashed n-gram features look like a
      // TARGET distribution vs the RAW corpus — the published method for
      // steering a 100 TB crawl toward a quality domain without a neural
      // scorer. Features are unigram Horner codes folded into 256
      // buckets (the q33 token-code discipline); target = the 'en'
      // slice. Per-bucket log-likelihood ratios (+1 smoothing) are
      // computed once on the 256-row table and quantized to e6 BEFORE
      // the per-doc sum (t20's order-independent integer-SUM doctrine).
      // Shape: ONE corpus token pass builds raw and target counts
      // together (FILTER aggregate — not two scans), the 256-row llr
      // table broadcasts back, one doc-keyed map-side-combined sum; at
      // scale this is two token passes and zero wide shuffles.
      val P = 2147483647L
      val codeSql = "aggregate(transform(split(tok, ''), " +
        "c -> CAST(ascii(c) AS BIGINT)), CAST(0 AS BIGINT), " +
        s"(acc, c) -> (c + 31 * acc) % $P)"
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(expr("split(trim(text), ' ')")).as("tok"))
        .withColumn("b", expr(s"($codeSql) % 256"))
      val freq = toks.groupBy("b").agg(
        count(lit(1)).as("r_f"),
        expr("count(1) FILTER (WHERE lang = 'en')").as("t_f"))
      val tot = freq.agg(sum(col("r_f")).as("r_tot"),
        sum(col("t_f")).as("t_tot"))
      val llr = freq.crossJoin(broadcast(tot))
        .withColumn("llr_e6", expr(
          "CAST(round((ln((t_f + 1.0) / (t_tot + 256.0)) - " +
            "ln((r_f + 1.0) / (r_tot + 256.0))) * 1000000) AS BIGINT)"))
        .select("b", "llr_e6")
        .localCheckpoint() // ≤256 rows; stops the token-pass re-execution
      toks.join(broadcast(llr), "b")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_tok"), sum(col("llr_e6")).as("score_e6"))
        .withColumn("avg_llr_e4", expr(
          "CAST(round(score_e6 / (n_tok * 100.0)) AS BIGINT)"))
        .withColumn("keep", col("score_e6") > 0)
        .orderBy("doc_id")
    },

    "t16_pii_scrub" -> { (s, d) =>
      // PII redaction (training-data hygiene): count and replace emails /
      // phones / IPs with typed placeholder tokens. Pure per-row codegen'd
      // regex projection — no shuffle at all; at 100 TB this runs at scan
      // speed and the only cost is the regex engine.
      Tables.documents(s, d)
        .withColumn("pii", expr(piiSparkSql))
        .select(col("doc_id"),
          size(expr(s"regexp_extract_all(pii, '$piiEmailPat', 0)"))
            .cast("long").as("n_email"),
          size(expr(s"regexp_extract_all(pii, '$piiPhonePat', 0)"))
            .cast("long").as("n_phone"),
          size(expr(s"regexp_extract_all(pii, '$piiIpPat', 0)"))
            .cast("long").as("n_ip"),
          expr(s"regexp_replace(regexp_replace(regexp_replace(pii, " +
            s"'$piiEmailPat', '<EMAIL>'), '$piiPhonePat', '<PHONE>'), " +
            s"'$piiIpPat', '<IP>')").as("scrubbed"))
        .withColumn("scrub_len", length(col("scrubbed")).cast("long"))
        .orderBy("doc_id")
    },

    "t17_domain_mix" -> { (s, d) =>
      // Training-mix rebalancing: per-language corpus share and the
      // resampling weight that moves the mix to a uniform target
      // (weight_e6 = target_share / actual_share, integer 1e-6 units —
      // >1e6 means upsample). One map-side-combined groupBy + a 1-row
      // broadcast of the totals; the weights then drive a t05-style
      // hash-mod sampler without any further shuffle.
      val byLang = Tables.documents(s, d)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val tot = byLang.agg(sum(col("n_docs")).as("total"),
        count(lit(1)).as("n_langs"))
      byLang.crossJoin(broadcast(tot))
        .withColumn("share_e6", expr("n_docs * 1000000 div total"))
        .withColumn("weight_e6", expr(
          "(1000000 div n_langs) * 1000000 div (n_docs * 1000000 div total)"))
        .select(col("lang"), col("n_docs"), col("share_e6"), col("weight_e6"))
        .orderBy("lang")
    },

    "t18_leakfree_split" -> { (s, d) =>
      // Leakage-free train/valid/test split: exact-duplicate GROUPS move
      // atomically (hash the group representative, not the doc), so no
      // split ever sees a copy of another split's document — the
      // train/eval hygiene t14 then audits. Same normalized key as d01,
      // same multiplicative hash as t05; one groupBy-min + one key join,
      // both on the normalized-text key, no RNG.
      val docs = Tables.documents(s, d)
      val rep = docs.groupBy(expr(graft.operators.Dedup.normKeySql).as("__key"))
        .agg(min(col("doc_id")).as("rep_id"))
      docs.withColumn("__key", expr(graft.operators.Dedup.normKeySql))
        .join(rep, "__key")
        .withColumn("split", expr(
          "CASE WHEN (rep_id * 2654435761) % 100 < 80 THEN 'train' " +
            "WHEN (rep_id * 2654435761) % 100 < 90 THEN 'valid' " +
            "ELSE 'test' END"))
        .select(col("doc_id"), col("rep_id"), col("split"))
        .orderBy("doc_id")
    },

    "t19_adaptive_length_filter" -> { (s, d) =>
      // Adaptive (distribution-driven) length filtering: instead of fixed
      // cutoffs, drop each language's shortest/longest 5% — per-language
      // exact p5/p95 of n_chars (q15's ×20 fixed-point BIGINT convention:
      // p ∈ {1/20, 19/20} over integer lengths makes value×20 a
      // mathematical integer), broadcast back, count survivors. The keep
      // compare is pure integers (20·n_chars vs the ×20 threshold —
      // exactly equivalent to the rational compare). Thresholds are
      // O(langs) rows: one percentile groupBy + one broadcast join + one
      // rollup; the per-doc verdict never shuffles the corpus.
      val docs = Tables.documents(s, d)
      val thresholds = docs.groupBy("lang")
        .agg(expr("CAST(round(percentile(n_chars, 0.05) * 20) AS BIGINT)").as("p5_x20"),
          expr("CAST(round(percentile(n_chars, 0.95) * 20) AS BIGINT)").as("p95_x20"))
      docs.join(broadcast(thresholds), "lang")
        .withColumn("keep",
          col("n_chars") * 20 >= col("p5_x20") && col("n_chars") * 20 <= col("p95_x20"))
        .groupBy("lang", "p5_x20", "p95_x20")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy("lang")
    },

    "t20_unigram_nll" -> { (s, d) =>
      // Unigram-LM negative log likelihood per document — the model-free
      // stand-in for the perplexity quality filter (docs of improbable
      // tokens score high). Doctrine note: each token's -ln(p) is
      // quantized to integer 1e-6 units BEFORE summing (per-element
      // double→BIGINT, then order-independent integer SUM — a double SUM
      // would be summation-order-dependent across engines); the final
      // division is integer/integer in IEEE doubles, which is exactly
      // rounded, hence portable. Two shuffles: token-frequency groupBy +
      // per-doc reduce; the 1-row total broadcasts.
      unigramNll(s, d).orderBy("doc_id")
    },

    "t26_ppl_partition" -> { (s, d) =>
      // CCNet-style perplexity partitioning: the corpus split into
      // head/middle/tail terciles of the t20 unigram NLL (head = most
      // fluent; CCNet trains on head+middle and uses tail as the noisy
      // bucket). Tercile boundaries are corpus percentiles in ×3
      // fixed-point BIGINTs (p ∈ {1/3, 2/3} over integer 1e-4 NLL units
      // makes value×3 a mathematical integer — the q15 r6 convention;
      // the bucket compare is then pure integers, 3·avg_nll_e4 vs the ×3
      // boundary, one 1-row broadcast); per-bucket
      // rollup is map-side combined. At 100 TB the NLL pass is t20 and
      // the partition adds one broadcast compare — no extra corpus
      // shuffle beyond the bucket rollup.
      val nll = unigramNll(s, d).select(col("doc_id"), col("avg_nll_e4"))
      val th = nll.agg(
        expr("CAST(round(percentile(avg_nll_e4, 1.0/3) * 3) AS BIGINT)").as("b1_x3"),
        expr("CAST(round(percentile(avg_nll_e4, 2.0/3) * 3) AS BIGINT)").as("b2_x3"))
      nll.crossJoin(broadcast(th))
        .withColumn("bucket", expr(
          "CASE WHEN avg_nll_e4 * 3 <= b1_x3 THEN 'head' " +
            "WHEN avg_nll_e4 * 3 <= b2_x3 THEN 'middle' ELSE 'tail' END"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          min(col("avg_nll_e4")).as("min_nll_e4"),
          max(col("avg_nll_e4")).as("max_nll_e4"),
          sum(col("avg_nll_e4")).as("sum_nll_e4"))
        .orderBy("bucket")
    },

    "t24_bigram_nll" -> { (s, d) =>
      // Interpolated bigram-LM perplexity proxy — t20's unigram NLL with
      // one order of context (the KenLM-style quality filter, one model
      // order up): p(w2|w1) = 0.75·c(w1w2)/c(w1) + 0.25·c(w2)/N, so
      // unseen-bigram mass backs off to the unigram term and no token
      // scores -ln(0). Bigram formation is a zip_with over the split
      // array — a pure scan projection, no self-join and no window, so
      // the only shuffles are the two count groupBys (map-side combined)
      // and the per-doc reduce; the LM joins are token-keyed equi-joins
      // (broadcast-able vocab at this scale, AQE-splittable beyond).
      // Doctrine: per-bigram -ln(p) quantized to 1e-6 BEFORE the
      // order-independent integer SUM; docs with <2 tokens carry no
      // bigrams and drop out on both engines.
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), expr("split(trim(text), ' ')").as("a"))
      val bigs = docs.select(col("doc_id"), explode(expr(
        "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1), " +
          "(x, y) -> struct(x AS w1, y AS w2))")).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      // the vocab table feeds three consumers (total, w1 lookup, w2
      // lookup) — materialize once (it is |vocab|-sized, tiny next to the
      // bigram instance stream)
      val uni = docs.select(explode(col("a")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cu"))
        .localCheckpoint()
      val tot = uni.agg(sum(col("cu")).as("n_corpus"))
      val bc = bigs.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      bigs
        .join(bc, Seq("w1", "w2"))
        .join(uni.select(col("tok").as("w1"), col("cu").as("cw1")), "w1")
        .join(uni.select(col("tok").as("w2"), col("cu").as("cu2")), "w2")
        .crossJoin(broadcast(tot))
        .withColumn("nll_e6", expr(
          "CAST(round(-ln(0.75 * (cb / CAST(cw1 AS DOUBLE)) + " +
            "0.25 * (cu2 / CAST(n_corpus AS DOUBLE))) * 1000000) AS BIGINT)"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_big"), sum(col("nll_e6")).as("sum_nll_e6"))
        .withColumn("avg_nll_e4", expr(
          "CAST(round(sum_nll_e6 / (n_big * 100.0)) AS BIGINT)"))
        .orderBy("doc_id")
    },

    "t25_winnow_overlap" -> { (s, d) =>
      // Exact substring-overlap detection via winnowing fingerprints
      // (Schleimer et al., the MOSS scheme — the scalable stand-in for
      // suffix-array substring dedup a la Lee et al. 2022): each doc's
      // positional 13-gram rolling hashes are windowed (WinW=8), each
      // window selects its rightmost-minimum hash, and the guarantee is
      // HARD: any substring shared by two docs of length >= 13+8-1 = 20
      // chars selects at least one common fingerprint in both (identical
      // hash windows select identically — content-defined, offset-free).
      // The rightmost-argmin needs no self-join: key = h40*2^20 +
      // (2^20-1-pos) makes one windowed MIN return (min hash, rightmost
      // pos) packed — a single per-doc window pass, then a fingerprint
      // equi-join (linear, AQE-splittable, never all-pairs). Pairs with
      // n_shared >= 10 are reported with a containment score; the
      // measured corpus separates cleanly (true overlaps share 38-110
      // fingerprints, phrase-level noise 2-5).
      // boilerplate cap (the t23 relative-threshold move, and the reason
      // the pair join survives scale): a fingerprint in more than
      // max(20, 1% of corpus) docs is shared phrasing, not copied
      // content — it contributes O(df²) candidate pairs and ~0 evidence
      // (measured sf0.1: 216 such fps carried 79% of the 7.5M raw pairs).
      // Dropping them bounds per-fingerprint join fan-out by the cap.
      // capped-rare fp table factored as winnowRare; the localCheckpoint
      // barrier there is the d11/KMeans pattern — it feeds BOTH
      // self-join sides and the per-doc counts (measured: the winnow+df
      // subtree ran 4x without it). At 100 TB this is the table a
      // pipeline persists.
      val fps = winnowRare(Tables.documents(s, d))
      val cnt = fps.groupBy("doc_id").agg(count(lit(1)).as("nf"))
      val x = fps.join(cnt, "doc_id")
        .select(col("fp"), col("doc_id").as("a"), col("nf").as("na"))
      val y = fps.join(cnt, "doc_id")
        .select(col("fp").as("fp2"), col("doc_id").as("b"), col("nf").as("nb"))
      x.join(y, col("fp") === col("fp2") && col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_shared"),
          first(col("na")).as("na"), first(col("nb")).as("nb"))
        .filter(col("n_shared") >= WinMinShared)
        .withColumn("containment_e4",
          expr("CAST(round(n_shared * 10000.0 / least(na, nb)) AS BIGINT)"))
        .select(col("a"), col("b"), col("n_shared"), col("containment_e4"))
        .orderBy("a", "b")
    },

    "t37_span_removal" -> { (s, d) =>
      // Exact substring-dedup REMOVAL (r7 verdict ask): t25 detects the
      // ≥20-char cross-doc overlaps; this emits the cleaned corpus with
      // the duplicated spans cut (keep-lowest-doc-id per pair) — the
      // step a Lee-et-al.-style substring-dedup pipeline actually
      // ships. All semantics + the scale argument live on
      // [[spanRemoval]]; DedupSpec asserts the independent Scala replay
      // (conservation) and idempotence (a second pass removes nothing).
      spanRemoval(Tables.documents(s, d))
    },

    "t27_bm25" -> { (s, d) =>
      // BM25 ranked retrieval (k1=1.2, b=0.75) — the lexical-search twin
      // of the d05 embedding path (a jane-like service and a RAG stack
      // both need it): query = the corpus's top-QTerms tokens by DF
      // (deterministic, data-derived — no out-of-band query string),
      // per-(doc, term) score quantized to 1e-6 BIGINT BEFORE the
      // per-doc SUM (t20 doctrine: the only doubles are one shared
      // formula text per instance, never a float accumulation), dl/avgdl
      // formed as dl·n_docs/total_len so the only division is the final
      // shared-text one. Shapes: DF + length tables are map-side-combined
      // groupBys, query terms broadcast, postings equi-join on token —
      // the inverted-index scan shape.
      // tokenized table feeds three consumers — materialize once
      val t = Tables.documents(s, d)
        .select(col("doc_id"), explode(expr("split(trim(text), ' ')")).as("tok"))
        .localCheckpoint()
      val dl = t.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
      val dfT = t.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
      val qt = dfT.orderBy(col("df").desc, col("tok").asc).limit(QTerms)
      val tf = t.join(broadcast(qt), "tok")
        .groupBy("doc_id", "tok", "df").agg(count(lit(1)).as("tf"))
      // top-20 FIRST via TakeOrderedAndProject, THEN rank the 20 rows:
      // the old partition-less rank window pushed EVERY candidate doc
      // matching a query term (corpus-scale for common terms) through one
      // task (r6 verdict). Same total order => same rows, same rn.
      tf.join(dl, "doc_id").crossJoin(broadcast(stats))
        .withColumn("s_e6", expr(s"CAST(round($bm25TermSql) AS BIGINT)"))
        .groupBy("doc_id").agg(sum(col("s_e6")).as("score_e6"))
        .orderBy(col("score_e6").desc, col("doc_id").asc).limit(20)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("score_e6").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("score_e6"), col("rn"))
        .orderBy("rn")
    },

    "t28_shard_manifest" -> { (s, d) =>
      // Reproducibility manifest per training shard (the artifact a
      // dataloader pins a run to): t21's deterministic shard assignment +
      // per-shard doc count, byte mass, and an ORDER-INDEPENDENT content
      // fingerprint — sum of per-doc rolling fingerprints mod P, so any
      // permutation of the same docs yields the same manifest row and a
      // single changed byte changes it. One scan + one 64-key
      // map-side-combined rollup; per-doc fp reduced mod P BEFORE the sum
      // (overflow-safe to ~9e9 docs/shard).
      graft.plans.GraftFunctions.register(s)
      Tables.documents(s, d)
        .withColumn("shard", expr("((doc_id * 2654435761) % 1000000007) % 64"))
        .withColumn("fp", expr("graft_fingerprint(text)"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          expr("CAST(SUM(fp % 1000000007) % 1000000007 AS BIGINT)")
            .as("manifest_fp"))
        .orderBy("shard")
    },

    "t21_global_shuffle" -> { (s, d) =>
      // Deterministic global shuffle + shard layout: order the corpus by
      // a multiplicative hash (reproducible "random" order, no RNG),
      // assign each doc to one of 64 shards, position it within its
      // shard — the (shard, pos) layout a training dataloader reads for
      // IID batches. One hash projection + one shard-keyed window; at
      // 100 TB each shard is written by its own task, and re-runs
      // produce byte-identical shards.
      val h = "(doc_id * 2654435761) % 1000000007"
      Tables.documents(s, d)
        .withColumn("h", expr(h))
        .withColumn("shard", expr("h % 64"))
        .withColumn("pos", row_number().over(
          Window.partitionBy("shard").orderBy(col("h").asc, col("doc_id").asc))
          .cast("long"))
        .select(col("shard"), col("pos"), col("doc_id"))
        .orderBy("shard", "pos")
    },

    "t01_lang_id" -> { (s, d) =>
      val scored = langMarkers.foldLeft(Tables.documents(s, d)) {
        case (df, (l, words)) => df.withColumn(s"s_$l", expr(scoreSpark(words)))
      }
      scored.withColumn("predicted", expr(predictCaseSql))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    },

    "t02_quality_score" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("n_tok", expr(wsTokensSpark))
        .withColumn("n_stop", expr(scoreSpark(langMarkers.head._2)))
        .withColumn("n_short", expr(shortTokensSpark))
        .withColumn("quality",
          round(lit(1.0) - (col("n_stop") + col("n_short")) / (col("n_tok") + 1), 4))
        .select(col("doc_id"), col("n_tok"), col("n_stop"), col("n_short"),
          col("quality"))
        .orderBy("doc_id")
    },

    "t03_token_count" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("ws", expr(wsTokensSpark))
        .withColumn("bpe", expr(bpeTokensSpark))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
          sum(col("bpe")).as("bpe_tokens"),
          // mean as integer 1e-4 units: no float output column to hash
          round(sum(col("ws")) * lit(10000.0) / count(lit(1)))
            .cast("long").as("avg_ws_e4"))
        .orderBy("source")
    },

    "t04_fingerprint" -> { (s, d) =>
      // Single-pass codegen expression; the DuckDB oracle replays the
      // declarative list_reduce formulation — their hash match proves the
      // fused loop equivalent (see also TextFunctions.fingerprintSpark).
      graft.plans.GraftFunctions.register(s)
      Tables.documents(s, d)
        .select(col("doc_id"), expr("graft_fingerprint(text)").as("fp"))
        .orderBy("doc_id")
    },

    "t05_stratified_sample" -> { (s, d) =>
      // Deterministic hash-mod stratified sampling (reproducible training
      // splits): per-language keep rates, no RNG, engine-exact.
      Tables.documents(s, d)
        .withColumn("rate", expr(
          "CASE WHEN lang = 'en' THEN 10 ELSE 50 END"))
        .filter(expr("(doc_id * 2654435761) % 100 < rate"))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    "t06_vocab_topk" -> { (s, d) =>
      // Vocabulary building: term + document frequency, top 50.
      Tables.documents(s, d)
        .select(col("doc_id"), explode(expr("split(trim(text), ' ')")).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(50)
    },

    "t07_bigrams" -> { (s, d) =>
      // n-gram LM preparation: top bigrams by count. Spark arrays are
      // 0-indexed in SQL, DuckDB lists 1-indexed — dialects differ, the
      // pairs don't.
      Tables.documents(s, d)
        .withColumn("toks", expr("split(trim(text), ' ')"))
        .select(explode(expr(
          "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
          .as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(30)
    },

    "t08_length_histogram" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy(expr("n_chars div 50").as("bin"))
        .agg(count(lit(1)).as("n"), min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("bin")
    },

    "m02_attachment_stats" -> { (s, d) =>
      // Attachment inventory (Jane: binary attachments per index row):
      // byte accounting over the payload column, per source.
      Multimodal.withPayload(Tables.documents(s, d))
        .withColumn("bytes", octet_length(col("payload")).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("bytes")).as("total_bytes"),
          max(col("bytes")).as("max_bytes"))
        .orderBy("source")
    },

    "m06_attachment_inventory" -> { (s, d) =>
      // Per-content-type inventory over the attachments TABLE (m02 counts
      // payload bytes per document; this is the store-level rollup of the
      // 0..n-attachments-per-document model): one map-side-combined
      // groupBy on content_type.
      graft.operators.DocumentStore.Attachments.inventory(
        graft.operators.DocumentStore.Attachments.build(Tables.documents(s, d)))
        .orderBy("content_type")
    },

    "t10_clean" -> { (s, d) =>
      // Cleaning transform (training-data normalization): lowercase,
      // strip non-alphanumerics, redact digit runs, collapse whitespace.
      Tables.documents(s, d)
        .withColumn("cleaned", expr(
          "trim(regexp_replace(regexp_replace(regexp_replace(lower(text), " +
            "'[0-9]+', '#'), '[^a-z0-9# ]', ''), ' +', ' '))"))
        .select(col("doc_id"), col("cleaned"),
          length(col("cleaned")).cast("long").as("clean_len"))
        .orderBy("doc_id")
    },

    "t11_tfidf" -> { (s, d) =>
      // TF-IDF over the corpus vocabulary: ranking stays on exact integers
      // (n desc, tok); the ln-based score is output-only and rounded, so
      // libm ulp differences can't flip anything.
      // Corpus size N enters as a broadcast scalar-aggregate cross join —
      // ONE plan, no eager driver-side count() job (a second full corpus
      // scan at 100 TB).
      val docs = Tables.documents(s, d)
      val toks = docs
        .select(col("doc_id"), explode(expr("split(trim(text), ' ')")).as("tok"))
      val n = docs.agg(count(lit(1)).as("__n_total"))
      toks.groupBy("tok")
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .crossJoin(broadcast(n))
        .withColumn("tfidf4",
          round(col("tf") * log(col("__n_total").cast("double") / col("df")), 4))
        .drop("__n_total")
        .orderBy(col("tf").desc, col("tok").asc)
        .limit(40)
    },

    "q27_fuzzy_match" -> { (s, d) =>
      // Fuzzy key matching by edit distance (pipeline record linkage).
      Tables.documents(s, d)
        .withColumn("dist", levenshtein(col("source"), lit("src1")))
        .filter(col("dist") <= 1)
        .groupBy("source", "dist")
        .agg(count(lit(1)).as("n"))
        .orderBy("dist", "source")
    },

    "t12_chunking" -> { (s, d) =>
      // Context-window chunking: 200-char windows with 100-char stride
      // (overlapping halves), the standard long-document training prep.
      Tables.documents(s, d)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, greatest(cast(ceil((length(text) - 200) / 100.0) as int), 0)), " +
            "i -> substring(text, i * 100 + 1, 200))")).as(Seq("chunk_id", "chunk")))
        .withColumn("chunk_len", length(col("chunk")).cast("long"))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("chunk_len"))
        .orderBy("doc_id", "chunk_id")
    },

    "t13_sequence_packing" -> { (s, d) =>
      // Deterministic sample packing: documents stream per source in
      // doc_id order; cumulative token counts assign each doc to a
      // ~1000-token bin (no greedy state). `source` has O(1) distinct
      // values, so the running sum runs as PrefixSum's two-phase sharded
      // plan — (source, doc_id-range-shard) local cumsums + broadcast
      // offsets — instead of streaming the corpus through ~4 window
      // tasks; the oracle keeps the global SUM() OVER form, proving the
      // shapes hash-identical.
      val base = Tables.documents(s, d)
        .withColumn("n_tok", expr(wsTokensSpark))
        .select("source", "doc_id", "n_tok")
      PrefixSum.runningSum(base, Seq("source"), "doc_id", "n_tok", "cum")
        .withColumn("bin", expr("(cum - n_tok) div 1000"))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
        .orderBy("source", "bin")
    },

    "t14_decontamination" -> { (s, d) =>
      // Eval-set contamination scan: eval docs (hash-mod split) sharing
      // any 13-gram character shingle with a train doc are flagged, with
      // the count of distinct contaminated shingles. 13 is the
      // conventional decontamination n-gram size — and measured 8x fewer
      // candidate join rows than 8-grams on this corpus. Shingles are
      // packed to BIGINT rolling hashes mod 2^56 (engine-replayable Horner
      // over ascii codes): the contamination join shuffles fixed 8-byte
      // keys and the distinct count runs on longs instead of 13-char
      // strings — the 100 TB-safe key shape (collision odds at 2^56 are
      // ~1e-5 even for 10^9 distinct shingles).
      graft.plans.GraftFunctions.register(s)
      val docs = Tables.documents(s, d)
        .withColumn("is_eval", expr("(doc_id * 2654435761) % 100 < 10"))
      // graft_shingles13: fused one-pass form of shingleHash13ArraySpark
      // (bit-equality spec-proven in CodegenOnlySpec)
      def sh(df: DataFrame, idAs: String) = df.select(col("doc_id").as(idAs),
        explode(expr("graft_shingles13(text)")).as(s"sh_$idAs"))
      sh(docs.filter(col("is_eval")), "eval_id").as("e")
        .join(sh(docs.filter(!col("is_eval")), "train_id").as("t"),
          col("e.sh_eval_id") === col("t.sh_train_id"))
        .groupBy("eval_id")
        .agg(countDistinct(col("e.sh_eval_id")).as("n_contaminated_shingles"))
        .orderBy("eval_id")
    },

    "t09_profile" -> { (s, d) =>
      // ANALYZE-style column profiling of the corpus (data-quality gate
      // before a training run): null/distinct/extent stats per column.
      Tables.documents(s, d)
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("text").isNull, 1L).otherwise(0L)).as("null_text"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("sum_chars"))
    },

    "m01_multimodal_meta" -> { (s, d) =>
      // Real plumbing path: binary payload column → partition-batched
      // typed decode (stub codec) → DataFrame. Oracle replays the stub's
      // arithmetic on octet_length.
      Multimodal.extractMeta(s, Multimodal.withPayload(Tables.documents(s, d)))
        .toDF()
        .orderBy("doc_id")
    },

    "m04_thumbnail" -> { (s, d) =>
      // Resize planning: aspect-preserving integer fit of each image's
      // stub dimensions into a 128x128 box (never upscaled) + projected
      // thumbnail byte cost. Oracle replays the fit arithmetic.
      Multimodal.planThumbnails(s, Multimodal.withPayload(Tables.documents(s, d)),
        box = 128L)
        .toDF()
        .orderBy("doc_id")
    },

    "t15_repetition" -> { (s, d) =>
      // Repetition-based quality filters (the Gopher/MassiveText family):
      // duplicate-token fraction and top-bigram fraction per document,
      // with the keep/drop verdict at the published-style thresholds.
      // Shape: one (doc, bigram)-keyed shuffle (map-side combined) + one
      // doc-keyed reduce — no self-joins, linear at 100 TB. Fractions are
      // integer 1e-4 units on both engines (no float output columns).
      val toks = Tables.documents(s, d)
        .withColumn("toks", expr("split(trim(text), ' ')"))
      val base = toks.select(col("doc_id"),
        expr("size(toks)").cast("long").as("n_tok"),
        expr("size(array_distinct(toks))").cast("long").as("n_dist"))
      val top = toks.filter(expr("size(toks) >= 2"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
          .as("bigram"))
        .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max(col("c")).as("topc"), sum(col("c")).as("n_bg"))
      base.join(top, Seq("doc_id"), "left")
        .withColumn("dup_tok_e4",
          expr("CAST(round((n_tok - n_dist) * 10000.0 / n_tok) AS BIGINT)"))
        .withColumn("top_bigram_e4",
          expr("CAST(round(coalesce(topc * 10000.0 / n_bg, 0.0)) AS BIGINT)"))
        .withColumn("keep",
          col("dup_tok_e4") <= 3000 && col("top_bigram_e4") <= 2000)
        .select(col("doc_id"), col("n_tok"), col("dup_tok_e4"),
          col("top_bigram_e4"), col("keep"))
        .orderBy("doc_id")
    },

    "t22_gopher_rules" -> { (s, d) =>
      // Composite quality-rule VERDICT (the Gopher/C4 rule-stack shape):
      // the published word-count / mean-word-length / stopword-presence /
      // short-word-ratio rules evaluated together, with a reason BITMASK
      // so a pipeline can report per-rule rejection rates, not just a
      // boolean. Distinct from t02 (feature extraction) and t15 (the
      // repetition rules, which need a shuffle): this is the pure-scan
      // rule composition — zero shuffle, runs at scan speed at 100 TB.
      Tables.documents(s, d)
        .withColumn("n_tok", expr(wsTokensSpark))
        .withColumn("mwl_e2", expr(
          "CAST(round((length(trim(text)) - (n_tok - 1)) * 100.0 / n_tok) AS BIGINT)"))
        .withColumn("n_stopw", expr(stopwPresentSpark))
        .withColumn("short_e4", expr(
          s"CAST(round($shortTokensSpark * 10000.0 / n_tok) AS BIGINT)"))
        .withColumn("reasons", expr(
          "CASE WHEN n_tok < 30 OR n_tok > 100000 THEN 1 ELSE 0 END + " +
            "CASE WHEN mwl_e2 < 300 OR mwl_e2 > 1000 THEN 2 ELSE 0 END + " +
            "CASE WHEN n_stopw < 2 THEN 4 ELSE 0 END + " +
            "CASE WHEN short_e4 > 4000 THEN 8 ELSE 0 END").cast("long"))
        .withColumn("keep", col("reasons") === 0L)
        .select(col("doc_id"), col("n_tok"), col("mwl_e2"), col("n_stopw"),
          col("short_e4"), col("reasons"), col("keep"))
        .orderBy("doc_id")
    },

    "t23_boilerplate_chunks" -> { (s, d) =>
      // CCNet-style boilerplate removal: each document is cut into
      // non-overlapping 2-word chunks, each chunk keyed by an explicit
      // 8-byte packed hash (two 31-bit token codes — chunk STRINGS never
      // shuffle), and a chunk is boilerplate when it appears in >= 3% of
      // documents — a RELATIVE document-frequency threshold, so the rule
      // is scale-invariant (an absolute count would flip meaning between
      // a 1 GB shard and the full corpus). Shape: one key-grouped
      // distinct-doc count, one key equi-join back, one doc-keyed reduce
      // — all linear; the corpus size is a 1-row broadcast.
      val docs = Tables.documents(s, d)
      val ch = docs
        .withColumn("toks", expr("split(trim(text), ' ')"))
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(0, (size(toks)+1) div 2 - 1), i -> $chunkKeySpark)"))
          .as("ckey"))
      val dfreq = ch.groupBy("ckey")
        .agg(countDistinct(col("doc_id")).as("dfreq"))
      val nd = docs.agg(count(lit(1)).as("ndocs"))
      val flagged = dfreq.crossJoin(broadcast(nd))
        .withColumn("boiler",
          (col("dfreq") * 100 >= col("ndocs") * 3).cast("long"))
        .select("ckey", "boiler")
      ch.join(flagged, "ckey")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"), sum(col("boiler")).as("n_boiler"))
        .withColumn("boiler_e4",
          expr("CAST(round(n_boiler * 10000.0 / n_chunks) AS BIGINT)"))
        .withColumn("keep", col("boiler_e4") <= 7000)
        .select(col("doc_id"), col("n_chunks"), col("n_boiler"),
          col("boiler_e4"), col("keep"))
        .orderBy("doc_id")
    },

    "m07_modality_mix" -> { (s, d) =>
      // Multimodal training-mix accounting: per modality, how many items,
      // bytes, and TRAINING-TOKEN equivalents the corpus contributes
      // (text → bytes/4, image → 16x16 patches of the stub dims, audio →
      // 40-byte hops, video → frames × patches — swap the arithmetic when
      // a real tokenizer/codec lands; the shares are what a data-mix
      // config consumes). One map-side-combined rollup + a 1-row grand-
      // total broadcast, O(modalities) output — t17's mix shape extended
      // across modalities.
      val base = Multimodal.withPayload(Tables.documents(s, d))
        .withColumn("n", octet_length(col("payload")).cast("long"))
        .withColumn("modality", expr(modalityCase))
        .withColumn("toks", expr(modalityTokens("n", "div")).cast("long"))
      val agg = base.groupBy("modality")
        .agg(count(lit(1)).as("n_items"), sum(col("n")).as("total_bytes"),
          sum(col("toks")).as("total_tokens"))
      val grand = agg.agg(sum(col("total_tokens")).as("grand_tokens"))
      agg.crossJoin(broadcast(grand))
        .withColumn("share_e6", expr(
          "CAST(round(total_tokens * 1000000.0 / grand_tokens) AS BIGINT)"))
        .select(col("modality"), col("n_items"), col("total_bytes"),
          col("total_tokens"), col("share_e6"))
        .orderBy("modality")
    },

    "m05_audio_energy" -> { (s, d) =>
      // Audio-style windowed feature extraction: payload bytes as 8-bit
      // PCM, 100-sample frames every 40 samples, integer energy + peak per
      // frame. Executor-side row expansion (flatMap per partition); the
      // oracle replays the window arithmetic over ascii codes.
      Multimodal.audioWindows(s, Multimodal.withPayload(Tables.documents(s, d)),
        win = 100, hop = 40)
        .toDF()
        .orderBy("doc_id", "win_id")
    },

    "m03_frame_sample" -> { (s, d) =>
      // Video-style frame sampling: every 5th frame of the stub container
      // decoded to a byte-sum feature; executor-side row expansion via
      // flatMap (the real frame-sample batch shape). Oracle replays the
      // frame-extent and byte-sum arithmetic over ascii codes.
      Multimodal.sampleFrames(s, Multimodal.withPayload(Tables.documents(s, d)),
        stride = 5)
        .toDF()
        .orderBy("doc_id", "frame_id")
    },

    "m09_scene_cuts" -> { (s, d) =>
      // Video scene-boundary detection: every frame's feature (stub
      // byte-sum decode — a real deployment swaps in a frame-histogram
      // or embedding distance) compared against its predecessor via a
      // per-doc lag window; a jump >= SceneCutT marks a cut. Shape:
      // executor-side frame expansion (Multimodal.sampleFrames stride=1)
      // + ONE doc-keyed window shuffle; emitted rows are only the cuts.
      // The monitoring twin of the m03 sampling path.
      Multimodal.sampleFrames(s, Multimodal.withPayload(Tables.documents(s, d)),
        stride = 1)
        .toDF()
        .withColumn("prev_feature", lag(col("feature"), 1).over(
          Window.partitionBy("doc_id").orderBy("frame_id")))
        .filter(col("prev_feature").isNotNull &&
          abs(col("feature") - col("prev_feature")) >= SceneCutT)
        .select(col("doc_id"), col("frame_id"), col("prev_feature"),
          col("feature"), abs(col("feature") - col("prev_feature")).as("delta"))
        .orderBy("doc_id", "frame_id")
    },

    "m14_multimodal_pack" -> { (s, d) =>
      // Multimodal BATCH PACKING — t13's sequence packing over m07's
      // training-token equivalents: items stream per modality in doc_id
      // order, cumulative token-equivalents assign each item to a
      // ~4096-token training bin (window cumsum, no greedy state), and
      // the readout carries the FILL ratio per bin — the padding-waste
      // number packing exists to minimize (oversized single items
      // overflow their bin and read as fill > 1; a production packer
      // splits them, the accounting shows exactly where). One
      // `modality` has 4 distinct values, so the running sum uses
      // PrefixSum's two-phase sharded plan (t13's fix applied here) —
      // parallelism |modalities|·64 instead of 4 window tasks; the
      // oracle keeps the global SUM() OVER form.
      PrefixSum.runningSum(packItems(s, d), Seq("modality"), "doc_id",
          "toks", "cum")
        .withColumn("bin", expr("(cum - toks) div 4096"))
        .groupBy("modality", "bin")
        .agg(count(lit(1)).as("n_items"), sum(col("toks")).as("bin_tokens"))
        .withColumn("fill_e4", expr("bin_tokens * 10000 div 4096"))
        .orderBy("modality", "bin")
    },

    "m15_pack_split" -> { (s, d) =>
      // m14's SERVING twin with oversized-item SPLITTING (the r8 verdict
      // carry): the token stream per modality is cut at every 4096
      // boundary — an item spanning a boundary contributes one SEGMENT
      // per bin it touches, so every bin is exactly full (fill_e4 =
      // 10000) except the final partial per modality, and fill > 1
      // cannot occur. Same sharded prefix sum as m14, then a per-item
      // bin-range explode (executor-side, fan-out = ceil(toks/4096), no
      // extra shuffle) and one map-side-combined rollup. `sequence`
      // guarded for toks = 0 items (Spark descends on empty ranges).
      PrefixSum.runningSum(packItems(s, d), Seq("modality"), "doc_id",
          "toks", "cum")
        .withColumn("b0", expr("(cum - toks) div 4096"))
        .withColumn("b1", expr(
          "CASE WHEN toks > 0 THEN (cum - 1) div 4096 ELSE b0 END"))
        .select(col("modality"), col("toks"), col("cum"),
          explode(expr("sequence(b0, b1)")).as("bin"))
        .withColumn("seg_tokens", expr(
          "least(cum, (bin + 1) * 4096) - greatest(cum - toks, bin * 4096)"))
        .groupBy("modality", "bin")
        .agg(count(lit(1)).as("n_segments"),
          sum(expr("CASE WHEN toks > seg_tokens THEN 1 ELSE 0 END"))
            .as("n_split_segments"),
          sum(col("seg_tokens")).as("bin_tokens"))
        .withColumn("fill_e4", expr("bin_tokens * 10000 div 4096"))
        .orderBy("modality", "bin")
    },

    "m13_shot_stats" -> { (s, d) =>
      // Per-video SHOT statistics — the readout a video pipeline derives
      // from m09's boundaries before allocating a per-shot sampling
      // budget (one keyframe per shot, longer shots get more): frames
      // partition into shots at the m09 cut points via the cumulative-
      // cut-count island key, shots roll up to per-video count / total
      // frames / longest / floored mean length. Shape: the m03/m09
      // executor-side frame expansion, ONE doc-keyed window shuffle
      // (cut flag + running cut count in the same window), then two
      // map-side-combined rollups — no extra shuffle beyond m09's own.
      val f = Multimodal.sampleFrames(
        s, Multimodal.withPayload(Tables.documents(s, d)), stride = 1)
        .toDF()
      val wDoc = Window.partitionBy("doc_id").orderBy("frame_id")
      val flagged = f
        .withColumn("prev_feature", lag(col("feature"), 1).over(wDoc))
        .withColumn("cut", when(col("prev_feature").isNotNull &&
          abs(col("feature") - col("prev_feature")) >= SceneCutT, 1L)
          .otherwise(0L))
        .withColumn("shot", sum(col("cut")).over(
          wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      flagged.groupBy("doc_id", "shot").agg(count(lit(1)).as("len"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shots"), sum(col("len")).as("n_frames"),
          max(col("len")).as("longest"))
        .withColumn("mean_len_fl", expr("n_frames div n_shots"))
        .orderBy("doc_id")
    },

    "m10_audio_vad" -> { (s, d) =>
      // Voice-activity segmentation over the m05 analysis windows — the
      // gaps-and-islands idiom: a window is ACTIVE when its energy is >=
      // the document mean (cross-multiplied exact integers,
      // energy·n_win >= total — no float threshold), and consecutive
      // active windows merge into one segment via the win_id −
      // row_number() island key. Per-doc window shuffle + map-side-
      // combined segment rollup; the VAD step an audio pipeline runs
      // before transcription (energy is the declared 8-bit-PCM stub).
      val wins = Multimodal.audioWindows(
        s, Multimodal.withPayload(Tables.documents(s, d)), win = 100, hop = 40)
        .toDF()
      val m = wins.groupBy("doc_id")
        .agg(sum(col("energy")).as("tot"), count(lit(1)).as("nw"))
      val isl = wins.join(m, "doc_id")
        .filter(col("energy") * col("nw") >= col("tot"))
        .withColumn("grp", col("win_id") - row_number().over(
          Window.partitionBy("doc_id").orderBy("win_id")))
      isl.groupBy("doc_id", "grp")
        .agg(min(col("win_id")).as("first_win"), max(col("win_id")).as("last_win"),
          count(lit(1)).as("n_win"), sum(col("energy")).as("seg_energy"))
        .select(col("doc_id"), col("first_win"), col("last_win"),
          col("n_win"), col("seg_energy"))
        .orderBy("doc_id", "first_win")
    },

    "m08_phash_neardup" -> { (s, d) =>
      // Image near-dup detection — the multimodal twin of d04's SimHash:
      // a 32-bit average-hash per payload (executor-side typed decode,
      // Multimodal.pHashes), banded into 4x8-bit keys for the candidate
      // self-join, exact Hamming verify at <= PhHamT. The banding is
      // LOSSLESS here by pigeonhole: 3 differing bits cannot touch all 4
      // bands, so every qualifying pair shares at least one band key —
      // candidate generation is linear in n (equi-join per band,
      // AQE-splittable), never all-pairs, with recall exactly 1.0
      // (asserted against brute force in MultimodalSpec). Hamming is
      // computed per candidate instance (cheap bit_count) and pairs
      // dedupe AFTER the threshold — the d08 lesson.
      phashPairs(s, d).orderBy("a", "b")
    },

    "m12_phash_clusters" -> { (s, d) =>
      // Image near-dup CLUSTERS — m08's pairwise verdicts closed into
      // connected components (the d11 shape applied to the multimodal
      // family): the same banded phash pairs feed Dedup.components'
      // O(diameter) min-label propagation, and the readout is one
      // cluster row (representative = min doc_id label, size, max
      // member). The composition every dedup pipeline actually ships —
      // pairs alone over-count when near-dups chain A~B~C.
      val pairs = phashPairs(s, d).select("a", "b")
      graft.operators.Dedup.components(pairs)
        .groupBy(col("label").as("rep_id"))
        .agg(count(lit(1)).as("cluster_size"), max(col("id")).as("max_id"))
        .orderBy("rep_id")
    },

    "t39_domain_divergence" -> { (s, d) =>
      // Pairwise source-domain DRIFT matrix: Jensen–Shannon divergence
      // between every two sources' unigram distributions — the dataset-
      // shift readout a mixing pipeline consults before reweighting
      // (complements t17's share table and t34's DSIR scoring with a
      // symmetric, bounded [0, ln 2] distance). Per-token contributions
      // are computed from integer counts via ONE shared double formula
      // ([[jsContribSql]], identical text both engines) and quantized to
      // e9 integers BEFORE summing, so the aggregate is an order-
      // independent BIGINT sum (§4: never sum raw doubles). Plan: one
      // token-explode groupBy(source, tok), a zero-filled |V| x S grid
      // (S sources is small; the grid join and the pair join are keyed
      // by tok — skew-free, work ∝ |V| x S^2, the honest cost of a
      // pairwise matrix), one final groupBy(a, b).
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(expr("split(trim(text), ' ')")).as("tok"))
      val counts = toks.groupBy("source", "tok")
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // feeds totals, vocab, and the grid
      val totals = counts.groupBy("source").agg(sum(col("c")).as("n"))
      val vocab = counts.select("tok").distinct()
      val grid = totals.crossJoin(broadcast(vocab))
        .join(counts, Seq("source", "tok"), "left")
        .select(col("source"), col("tok"),
          coalesce(col("c"), lit(0L)).as("c"), col("n"))
      val ga = grid.select(col("tok"), col("source").as("a"),
        col("c").as("ca"), col("n").as("na"))
      val gb = grid.select(col("tok").as("tok2"), col("source").as("b"),
        col("c").as("cb"), col("n").as("nb"))
      ga.join(gb, col("tok") === col("tok2") && col("a") < col("b"))
        .select(col("a"), col("b"), col("na"), col("nb"),
          expr(jsContribSql).as("contrib_e9"))
        .groupBy("a", "b", "na", "nb")
        .agg(sum(col("contrib_e9")).as("js_e9"))
        .select("a", "b", "na", "nb", "js_e9")
        .orderBy("a", "b")
    },

    "t40_ngram_novelty" -> { (s, d) =>
      // Per-document n-gram NOVELTY — the dataset-growth analytic of the
      // WIMBD/data-scaling literature: how much of each document's
      // 8-gram vocabulary is seen here FIRST (by doc_id order) vs already
      // contributed by an earlier document. The curve's decay is the
      // honest measure of a corpus's marginal value as it grows — flat ≈
      // fresh text, collapsing ≈ the crawl is re-reading itself. Shape:
      // one gram-type explode (distinct per doc), ONE map-side-combined
      // groupBy(gram) → min(doc_id) — first-seen via aggregation, NOT a
      // sort or window over the corpus — and a gram-keyed join back;
      // work ∝ gram occurrences, the same budget d02/t25 already pay.
      // Docs under 8 tokens have no 8-gram and are absent on both sides
      // (Spark's size-guard vs DuckDB's empty range — never an empty
      // sequence(), which DESCENDS).
      val g = Tables.documents(s, d)
        .select(col("doc_id"), expr("split(trim(text), ' ')").as("toks"))
        .filter(expr("size(toks) >= 8"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks) - 8), " +
            "i -> array_join(slice(toks, i + 1, 8), ' '))")).as("gram"))
        .distinct()
        .localCheckpoint() // feeds first-seen AND the join-back
      val fd = g.groupBy("gram").agg(min(col("doc_id")).as("first_doc"))
      g.join(fd, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_types"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty_e4", expr("n_novel * 10000 div n_types"))
        .orderBy("doc_id")
    })

  /** m09/m13's shared DuckDB CTE body replaying the stride-1
    * Multimodal.sampleFrames features, ending in
    * `lagged (doc_id, frame_id, feature, prev_feature)`.
    */
  private def frameLagCtes: String =
    s"""d AS (SELECT doc_id,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS n,
       |    CAST(1 + octet_length(encode(text)) % 24 AS BIGINT) AS frames,
       |    list_transform(string_split(text, ''), c -> ascii(c)) AS chars
       |  FROM documents),
       |f AS (SELECT doc_id, n, frames, chars,
       |    unnest(range(0, frames)) AS frame_id FROM d),
       |feat AS (SELECT doc_id, frame_id,
       |    CAST(coalesce(list_sum(list_slice(chars,
       |      CAST((frame_id * n) // frames + 1 AS INT),
       |      CAST(((frame_id + 1) * n) // frames AS INT))), 0) % 997 AS BIGINT)
       |      AS feature
       |  FROM f),
       |lagged AS (SELECT doc_id, frame_id, feature,
       |    lag(feature) OVER (PARTITION BY doc_id ORDER BY frame_id) AS prev_feature
       |  FROM feat)""".stripMargin

  /** m08/m12's shared DuckDB CTE body replaying [[phashPairs]], ending in
    * `ph_pairs (a, b, hamming)`. Per-bit term: extent mean vs global
    * mean, cross-multiplied exact.
    */
  private def phashPairCtes: String = {
    val phashTerms = (0 until PhBits).map { b =>
      val lo = s"(($b * n) // $PhBits + 1)"
      val hi = s"((${b + 1} * n) // $PhBits)"
      val len = s"($hi - (($b * n) // $PhBits))"
      val es = s"coalesce(list_sum(list_slice(chars, CAST($lo AS INT), " +
        s"CAST($hi AS INT))), 0)"
      s"(CASE WHEN $es * n >= total * $len THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
    }.mkString("\n    + ")
    s"""d AS (SELECT doc_id,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS n,
       |    list_transform(string_split(text, ''), c -> ascii(c)) AS chars,
       |    CAST(coalesce(list_sum(
       |      list_transform(string_split(text, ''), c -> ascii(c))), 0) AS BIGINT) AS total
       |  FROM documents),
       |p AS (SELECT doc_id, CAST($phashTerms AS BIGINT) AS phash FROM d),
       |bands AS (SELECT doc_id, phash, unnest(range(0, $PhBands)) AS j FROM p),
       |bv AS (SELECT doc_id, phash, j,
       |    (phash // CAST(power(256, j) AS BIGINT)) % 256 AS v FROM bands),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |    x.phash AS pa, y.phash AS pb
       |  FROM bv x JOIN bv y ON x.j = y.j AND x.v = y.v AND x.doc_id < y.doc_id),
       |ph_pairs AS (SELECT a, b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
       |  FROM cand WHERE bit_count(xor(pa, pb)) <= $PhHamT)""".stripMargin
  }

  /** m08/m12's shared banded-phash candidate pairs: 32-bit average-hash
    * per payload (Multimodal.pHashes), 4×8-bit bands for the equi-join
    * (lossless at the ≤3-bit threshold by pigeonhole — MultimodalSpec),
    * exact Hamming verify, deduped after the threshold. Returns
    * (a, b, hamming), unordered.
    */
  private def phashPairs(s: SparkSession, d: String): DataFrame = {
    val p = Multimodal
      .pHashes(s, Multimodal.withPayload(Tables.documents(s, d)), PhBits)
      .toDF()
    val bandArr = (0 until PhBands)
      .map(j => s"struct(CAST($j AS BIGINT) AS j, " +
        s"(phash div ${1L << (8 * j)}L) % 256 AS v)")
      .mkString(", ")
    val bands = p.select(col("doc_id"), col("phash"),
      explode(expr(s"array($bandArr)")).as("bj"))
      .select(col("doc_id"), col("phash"), col("bj.j").as("j"), col("bj.v").as("v"))
    val x = bands.select(col("j"), col("v"), col("doc_id").as("a"), col("phash").as("pa"))
    val y = bands.select(col("j").as("j2"), col("v").as("v2"),
      col("doc_id").as("b"), col("phash").as("pb"))
    x.join(y, col("j") === col("j2") && col("v") === col("v2") && col("a") < col("b"))
      .withColumn("hamming", expr("CAST(bit_count(pa ^ pb) AS BIGINT)"))
      .filter(col("hamming") <= PhHamT)
      .select(col("a"), col("b"), col("hamming"))
      .distinct()
  }

  /** t39's per-token Jensen–Shannon contribution over integer count
    * columns (ca, na, cb, nb) — ONE formula text spliced into both
    * engines, so every double op runs on the same parse tree (IEEE-
    * identical), then rounded to an e9 integer: the only double that
    * ever crosses an aggregate is already a BIGINT. 0.5 x 1e9 folds
    * into the 5e8 literal; a side with zero count contributes 0 (the
    * p·ln p limit).
    */
  private[graft] val jsContribSql: String =
    "CAST(round((" +
      "(CASE WHEN ca = 0 THEN 0.0 ELSE (CAST(ca AS DOUBLE) / na) * " +
      "ln(2.0 * (CAST(ca AS DOUBLE) / na) / " +
      "(CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb)) END) + " +
      "(CASE WHEN cb = 0 THEN 0.0 ELSE (CAST(cb AS DOUBLE) / nb) * " +
      "ln(2.0 * (CAST(cb AS DOUBLE) / nb) / " +
      "(CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb)) END)" +
      ") * 500000000.0) AS BIGINT)"

  /** 13-gram → BIGINT rolling hash (Horner base 31, mod 2^56): identical
    * arithmetic in Spark and DuckDB over `ascii()` codes; 31*(2^56) + 127
    * stays far below 2^63, so no overflow on either engine.
    */
  private val shingleHashMod = 72057594037927936L // 2^56

  // Spark side: Horner as a zip_with fold over 13 shifted slices of the
  // char-code array — linear in doc length (substring(text, i, …) is O(i)
  // on UTF8 strings, so per-position substrings are quadratic: measured
  // 27 s vs 7 s at sf0.1) and deliberately alias-free: optimizer rules
  // substitute column aliases into inferred predicates, where a
  // per-element alias reference re-executes the split per lambda
  // iteration (see Dedup.shingleCodesArraySql).
  private[graft] val shingleHash13PosArraySpark: String = {
    val codes = graft.operators.Dedup.charCodesSql
    val n = "greatest(length(text) - 12, 0)"
    val init = s"transform(slice($codes, 1, $n), c -> CAST(c AS BIGINT))"
    (1 until 13).foldLeft(init) { (acc, j) =>
      s"zip_with($acc, slice($codes, ${j + 1}, $n), (a, c) -> (c + 31 * a) % $shingleHashMod)"
    }
  }

  private[graft] val shingleHash13ArraySpark: String =
    s"array_distinct($shingleHash13PosArraySpark)"

  // DuckDB side replays the identical Horner arithmetic over a chars CTE
  // (1-indexed list access; binding the list in a subquery is safe there —
  // no alias-inlining hazard).
  private def horner13Duck: String =
    (0 until 13).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
      s"((__chars[CAST(i AS INT) + $j] + 31 * $acc) % $shingleHashMod)"
    }

  /** t20's NLL table as a WITH-body fragment ending in
    * `nll (doc_id, n_tok, sum_nll_e6, avg_nll_e4)` — shared by t20/t26.
    */
  private val unigramNllDuckCtes: String =
    """toks AS (SELECT doc_id,
      |    unnest(string_split(trim(text), ' ')) AS tok FROM documents),
      |freq AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_corpus FROM freq),
      |nll AS (SELECT doc_id, COUNT(*) AS n_tok,
      |  CAST(SUM(CAST(round(-ln(cnt / CAST(n_corpus AS DOUBLE)) * 1000000)
      |    AS BIGINT)) AS BIGINT) AS sum_nll_e6,
      |  CAST(round(CAST(SUM(CAST(round(-ln(cnt / CAST(n_corpus AS DOUBLE))
      |    * 1000000) AS BIGINT)) AS BIGINT) / (COUNT(*) * 100.0)) AS BIGINT)
      |    AS avg_nll_e4
      |FROM toks JOIN freq USING (tok) CROSS JOIN tot
      |GROUP BY doc_id)""".stripMargin

  private val shingleHash13PosArrayDuck: String =
    s"list_transform(range(1, length(text) - 11), i -> $horner13Duck)"

  /** t25/t37's shared detection CTE prefix — the DuckDB replay of
    * [[winnowRare]] (via [[winnowFpsDeclarative]]'s windowed form) over
    * source table `src` (doc_id, text), ending in `rare$x (doc_id,
    * fp)`. All CTE names carry suffix `x` so t37 can unroll one block
    * per pass; `d$x` stays in scope for the consumers' text lookups.
    * Multi-consumer CTEs are MATERIALIZED: DuckDB otherwise inlines
    * each reference, and t37's 4-pass chain (d referenced 5×/pass)
    * re-expands the whole upstream pipeline per reference —
    * exponentially many documents.parquet scans (measured: blows the
    * 20k fd limit at sf0.01).
    */
  private def winnowRareCtes(src: String = "documents",
      x: String = "", withPos: Boolean = false): String = {
    val posCtes = if (!withPos) "" else s""",
       |rarep$x AS MATERIALIZED (
       |  SELECT s.doc_id, s.fp, s.gpos FROM selp$x s JOIN dfc$x USING (fp), nd$x
       |  WHERE dfc$x.dfc <= greatest(CAST(20 AS BIGINT), nd$x.n_docs // 100))"""
    s"""d$x AS MATERIALIZED (SELECT doc_id, text,
       |    list_transform(string_split(text, ''), c -> ascii(c)) AS __chars
       |  FROM $src),
       |hs0$x AS (SELECT doc_id, $shingleHash13PosArrayDuck AS hl FROM d$x),
       |h$x AS (SELECT doc_id, unnest(hl) AS hh,
       |    unnest(range(1, len(hl) + 1)) AS pos FROM hs0$x),
       |k$x AS (SELECT doc_id, pos,
       |    (hh % $WinHMod) * $WinC + ($WinC - 1) - pos AS key,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS npos FROM h$x),
       |w$x AS (SELECT doc_id, pos,
       |    MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING) AS minkey,
       |    npos FROM k$x),
       |selp$x AS MATERIALIZED (SELECT DISTINCT doc_id, minkey // $WinC AS fp,
       |    ($WinC - 1) - (minkey % $WinC) AS gpos
       |  FROM w$x WHERE pos <= npos - ${WinW - 1}),
       |sel$x AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM selp$x),
       |nd$x AS (SELECT COUNT(*) AS n_docs FROM d$x),
       |dfc$x AS (SELECT fp, COUNT(*) AS dfc FROM sel$x GROUP BY fp),
       |rare$x AS MATERIALIZED (
       |  SELECT doc_id, s.fp FROM sel$x s JOIN dfc$x USING (fp), nd$x
       |  WHERE dfc$x.dfc <= greatest(CAST(20 AS BIGINT), nd$x.n_docs // 100))$posCtes""".stripMargin
  }

  /** One unrolled [[spanRemoval]] pass: detection prefix over `src`,
    * evidence occurrences at threshold >= 1 shared rare fp, ALIGNED
    * position-bounded exact 20-gram confirm (only the WinW aligned
    * window starts (ga-k, gb-k) behind each shared-fp occurrence — the
    * winnowing window argument, see [[spanCutFromSliced]]),
    * interval-complement cut, ending in `nxt$x (doc_id, text)` — the
    * pass's cleaned corpus. See spanRemoval for the engine-parity notes (coalesce:
    * duckdb array_to_string([]) is NULL where spark array_join([])
    * is '').
    */
  private def spanPassCtes(src: String, x: String): String =
    s"""${winnowRareCtes(src, x, withPos = true)},
       |ev$x AS (SELECT p.doc_id AS a, q.doc_id AS b,
       |    p.gpos AS ga, q.gpos AS gb
       |  FROM rarep$x p JOIN rarep$x q
       |    ON p.fp = q.fp AND p.doc_id < q.doc_id),
       |fs$x AS (SELECT fp, MIN(doc_id) AS mn, MAX(doc_id) AS mx
       |  FROM rarep$x GROUP BY fp),
       |s27$x AS MATERIALIZED (SELECT r.doc_id, r.gpos,
       |    greatest(r.gpos - $WinW, 0) AS st,
       |    substr(d.text, CAST(greatest(r.gpos - $WinW, 0) + 1 AS INT),
       |      CAST(r.gpos + 19 - greatest(r.gpos - $WinW, 0) AS INT)) AS s
       |  FROM rarep$x r JOIN fs$x f USING (fp)
       |  JOIN d$x d ON d.doc_id = r.doc_id
       |  WHERE f.mn < f.mx),
       |mk$x AS (SELECT e.b, unnest(list_transform(list_filter(
       |    range(1, ${WinW + 1}), k ->
       |      e.gb - k >= 0 AND e.ga - k >= 0
       |      AND e.gb - k - s2.st + 20 <= length(s2.s)
       |      AND e.ga - k - s1.st + 20 <= length(s1.s)
       |      AND substr(s2.s, CAST(e.gb - k - s2.st + 1 AS INT), 20)
       |        = substr(s1.s, CAST(e.ga - k - s1.st + 1 AS INT), 20)),
       |    k -> e.gb - k)) AS p
       |  FROM ev$x e
       |  JOIN s27$x s2 ON s2.doc_id = e.b AND s2.gpos = e.gb
       |  JOIN s27$x s1 ON s1.doc_id = e.a AND s1.gpos = e.ga),
       |marked$x AS (SELECT DISTINCT b, p FROM mk$x),
       |mp$x AS (SELECT b, list_sort(array_agg(DISTINCT p)) AS ps
       |  FROM marked$x GROUP BY b),
       |cut$x AS (SELECT d.doc_id, d.text, list_filter(
       |    list_transform(range(0, len(mp.ps) + 1), i -> {
       |      'gs': CASE WHEN i = 0 THEN 0
       |            ELSE mp.ps[CAST(i AS INT)] + 20 END,
       |      'ge': CASE WHEN i = len(mp.ps) THEN length(d.text) - 1
       |            ELSE mp.ps[CAST(i + 1 AS INT)] - 1 END}),
       |    x -> x.gs <= x.ge) AS sg
       |  FROM d$x d JOIN mp$x mp ON d.doc_id = mp.b),
       |fin$x AS (SELECT doc_id,
       |  coalesce(array_to_string(list_transform(sg,
       |    x -> substr(text, CAST(x.gs + 1 AS INT),
       |      CAST(x.ge - x.gs + 1 AS INT))), ''), '') AS text_clean FROM cut$x),
       |nxt$x AS MATERIALIZED (
       |  SELECT d.doc_id, coalesce(f.text_clean, d.text) AS text
       |  FROM d$x d LEFT JOIN fin$x f ON d.doc_id = f.doc_id)""".stripMargin

  /** t36/t38's oracle training replay: feature+teacher table `pfeat`
    * (MATERIALIZED — every epoch scans it) then one chained CTE pair
    * (pu$e aggregate, pe$e update) per perceptron epoch — the exact
    * integer twin of [[trainPerceptron]]. Epoch sums go HUGEINT in
    * DuckDB, so each pe$e CASTs the updated weights back to BIGINT
    * (check.py is type-sensitive). Ends in `pe{TrainEpochs}`.
    */
  private def perceptronCtes: String = {
    val mis = s"f.y * (w.w1 * f.stop_ratio_e4 + w.w2 * f.short_ratio_e4 " +
      s"+ w.w3 * f.mean_len_e2 + w.wb * $BiasX) <= 0"
    def upd(pw: String, sx: String) =
      s"CAST($pw + ${floorDivSql(sx, "n", "//")} AS BIGINT)"
    val epochs = (1 to TrainEpochs).map { e =>
      s"""pu$e AS (SELECT w.w1 AS pw1, w.w2 AS pw2, w.w3 AS pw3,
         |    w.wb AS pwb, w.n AS n,
         |    SUM(CASE WHEN $mis THEN f.y * f.stop_ratio_e4 ELSE 0 END) AS s1,
         |    SUM(CASE WHEN $mis THEN f.y * f.short_ratio_e4 ELSE 0 END) AS s2,
         |    SUM(CASE WHEN $mis THEN f.y * f.mean_len_e2 ELSE 0 END) AS s3,
         |    SUM(CASE WHEN $mis THEN f.y * $BiasX ELSE 0 END) AS s0,
         |    COUNT(*) FILTER (WHERE $mis) AS n_mis
         |  FROM pfeat f, pe${e - 1} w GROUP BY w.w1, w.w2, w.w3, w.wb, w.n),
         |pe$e AS (SELECT ${upd("pw1", "s1")} AS w1, ${upd("pw2", "s2")} AS w2,
         |    ${upd("pw3", "s3")} AS w3, ${upd("pwb", "s0")} AS wb,
         |    n, n_mis FROM pu$e)""".stripMargin
    }.mkString(",\n")
    s"""pf0 AS (SELECT doc_id, $wsTokensDuck AS n_tok,
       |    ${scoreDuck(langMarkers.head._2)} AS n_stop,
       |    $shortTokensDuck AS n_short, n_chars,
       |    length(trim(text)) AS tchars, $stopwPresentDuck AS n_stopw
       |  FROM documents),
       |pf1 AS (SELECT doc_id, n_tok, n_stop, n_short, n_chars, n_stopw,
       |    CAST(round((tchars - (n_tok - 1)) * 100.0 / n_tok) AS BIGINT)
       |      AS mwl_e2,
       |    CAST(round(n_short * 10000.0 / n_tok) AS BIGINT) AS short_e4
       |  FROM pf0),
       |pfeat AS MATERIALIZED (SELECT doc_id, n_tok,
       |    CAST(n_stop AS BIGINT) * 10000 // (n_tok + 1) AS stop_ratio_e4,
       |    CAST(n_short AS BIGINT) * 10000 // (n_tok + 1) AS short_ratio_e4,
       |    CAST(n_chars AS BIGINT) * 100 // (n_tok + 1) AS mean_len_e2,
       |    CASE WHEN n_tok < 30 OR n_tok > 100000 OR mwl_e2 < 300
       |      OR mwl_e2 > 1000 OR n_stopw < 2 OR short_e4 > 4000
       |      THEN CAST(-1 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS y
       |  FROM pf1),
       |pe0 AS (SELECT CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
       |    CAST(0 AS BIGINT) AS w3, CAST(0 AS BIGINT) AS wb,
       |    (SELECT COUNT(*) FROM pfeat) AS n),
       |$epochs""".stripMargin
  }

  private val shingleHash13ArrayDuck: String =
    s"list_distinct($shingleHash13PosArrayDuck)"

  private val langScoresDuck: String =
    langMarkers.map { case (l, ws) => s"${scoreDuck(ws)} AS s_$l" }.mkString(",\n    ")

  // t29 oracle: one CTE triple (pair counts, argmax pair, merged seqs)
  // per iteration — the d26/d10 replay-the-loop discipline.
  private def bpeIterCtes(i: Int): String =
    s"""pc$i AS (SELECT split_part(p, '|', 1) AS lhs, split_part(p, '|', 2) AS rhs,
       |    CAST(SUM(cnt) AS BIGINT) AS pair_n
       |  FROM (SELECT unnest(list_transform(range(1, len(syms)),
       |      j -> syms[CAST(j AS INT)] || '|' || syms[CAST(j + 1 AS INT)])) AS p, cnt
       |    FROM seq${i - 1})
       |  GROUP BY lhs, rhs),
       |b$i AS (SELECT lhs, rhs, pair_n FROM pc$i
       |  ORDER BY pair_n DESC, lhs ASC, rhs ASC LIMIT 1),
       |seq$i AS (SELECT w, cnt,
       |    list_filter(string_split(list_reduce(list_prepend('', syms), (acc, x) ->
       |      CASE WHEN ends_with(acc, '|' || lhs) AND x = rhs THEN acc || x
       |           ELSE acc || '|' || x END), '|'), s -> s <> '') AS syms
       |  FROM seq${i - 1}, b$i)""".stripMargin

  val oracle: Map[String, String] = Map(
    "t33_dataset_card" ->
      s"""WITH d AS (SELECT COUNT(*) AS n_docs,
         |    COUNT(DISTINCT lang) AS n_langs,
         |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |    COUNT(DISTINCT ${graft.operators.Dedup.normKeyOracleSql}) AS n_uniq
         |  FROM documents),
         |t AS (SELECT COUNT(*) AS total_tokens, COUNT(DISTINCT tok) AS vocab_size
         |  FROM (SELECT unnest(string_split(trim(text), ' ')) AS tok
         |        FROM documents))
         |SELECT metric, value FROM (
         |  SELECT 'n_docs' AS metric, n_docs AS value FROM d
         |  UNION ALL SELECT 'n_langs', n_langs FROM d
         |  UNION ALL SELECT 'total_chars', total_chars FROM d
         |  UNION ALL SELECT 'total_tokens', total_tokens FROM t
         |  UNION ALL SELECT 'vocab_size', vocab_size FROM t
         |  UNION ALL SELECT 'exact_dup_docs', n_docs - n_uniq FROM d
         |  UNION ALL SELECT 'mean_doc_chars', total_chars // n_docs FROM d)
         |ORDER BY metric""".stripMargin,

    "t35_tokenizer_fertility" ->
      s"""WITH toks AS (SELECT unnest(string_split(trim(text), ' ')) AS w
         |  FROM documents),
         |wf AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
         |seq0 AS (SELECT w, cnt, string_split(w, '') AS syms FROM wf),
         |${(1 to BpeIters).map(bpeIterCtes).mkString(",\n")},
         |enc AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_syms
         |  FROM seq$BpeIters),
         |cw AS (SELECT lang, unnest(string_split(trim(text), ' ')) AS w
         |  FROM documents)
         |SELECT lang, COUNT(*) AS n_words,
         |  CAST(SUM(n_syms) AS BIGINT) AS total_syms,
         |  CAST(SUM(length(w)) AS BIGINT) AS total_chars,
         |  CAST(round(CAST(SUM(n_syms) AS BIGINT) * 10000.0 / COUNT(*))
         |    AS BIGINT) AS fertility_e4,
         |  CAST(round(CAST(SUM(length(w)) AS BIGINT) * 10000.0 /
         |    CAST(SUM(n_syms) AS BIGINT)) AS BIGINT) AS compression_e4
         |FROM cw JOIN enc USING (w)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "t31_repeat_factor" ->
      """WITH b AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
        |    COUNT(*) AS n_langs FROM b),
        |wt AS (SELECT lang,
        |    (1000000 // n_langs) * 1000000 // (n_docs * 1000000 // total)
        |      AS weight_e6
        |  FROM b, t),
        |r AS (SELECT d.doc_id, d.lang,
        |    least(weight_e6 // 1000000 +
        |      CASE WHEN ((d.doc_id * 2654435761) % 1000000007) % 1000000
        |           < weight_e6 % 1000000 THEN 1 ELSE 0 END,
        |      CAST(10 AS BIGINT)) AS r
        |  FROM documents d JOIN wt USING (lang))
        |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(r) AS BIGINT) AS n_epoch,
        |  CAST(MIN(r) AS BIGINT) AS min_r, CAST(MAX(r) AS BIGINT) AS max_r
        |FROM r WHERE r >= 1 GROUP BY lang ORDER BY lang""".stripMargin,

    "t30_weighted_sample" ->
      s"""WITH o AS (SELECT doc_id, n_chars AS w,
         |    (doc_id * 2654435761) % 1000000007 AS h FROM documents),
         |c AS (SELECT doc_id, h % 64 AS shard, w,
         |    CAST(SUM(w) OVER (ORDER BY h % 64, h, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw FROM o),
         |t AS (SELECT CAST(SUM(w) AS BIGINT) AS total_w FROM o),
         |s AS (SELECT doc_id, shard, w, cw,
         |    CAST(cw // greatest(1, total_w // $WsTicks)
         |      - (cw - w) // greatest(1, total_w // $WsTicks) AS BIGINT) AS n_ticks
         |  FROM c, t)
         |SELECT doc_id, shard, w, cw, n_ticks FROM s
         |WHERE n_ticks > 0 ORDER BY cw, doc_id""".stripMargin,

    "t29_bpe_merges" ->
      s"""WITH toks AS (SELECT unnest(string_split(trim(text), ' ')) AS w
         |  FROM documents),
         |wf AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
         |seq0 AS (SELECT w, cnt, string_split(w, '') AS syms FROM wf),
         |${(1 to BpeIters).map(bpeIterCtes).mkString(",\n")}
         |${(1 to BpeIters)
            .map(i => s"SELECT CAST($i AS BIGINT) AS it, lhs, rhs, pair_n FROM b$i")
            .mkString("\nUNION ALL ")}
         |ORDER BY it""".stripMargin,

    "t32_bpe_vocab" ->
      s"""WITH toks AS (SELECT unnest(string_split(trim(text), ' ')) AS w
         |  FROM documents),
         |wf AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
         |seq0 AS (SELECT w, cnt, string_split(w, '') AS syms FROM wf),
         |${(1 to BpeIters).map(bpeIterCtes).mkString(",\n")}
         |SELECT symbol, CAST(length(symbol) AS BIGINT) AS sym_len,
         |  CAST(SUM(cnt) AS BIGINT) AS corpus_count
         |FROM (SELECT unnest(syms) AS symbol, cnt FROM seq$BpeIters)
         |GROUP BY symbol
         |ORDER BY corpus_count DESC, symbol ASC""".stripMargin,
    // t36/t38 replay the perceptron training CTE chain; t36 then scores
    // pfeat with pe{TrainEpochs}'s weights (Spark reads them back from
    // the persisted store — same values by the training-replay identity)
    "t36_quality_classifier" -> {
      val logit = s"w.w1 * f.stop_ratio_e4 + w.w2 * f.short_ratio_e4 " +
        s"+ w.w3 * f.mean_len_e2 + w.wb * $BiasX"
      s"""WITH $perceptronCtes
         |SELECT f.doc_id, f.n_tok, f.stop_ratio_e4, f.short_ratio_e4,
         |  f.mean_len_e2, $logit AS logit, $logit >= 0 AS keep
         |FROM pfeat f, pe$TrainEpochs w ORDER BY f.doc_id""".stripMargin
    },

    "t43_classifier_eval" -> {
      val logit = s"w.w1 * f.stop_ratio_e4 + w.w2 * f.short_ratio_e4 " +
        s"+ w.w3 * f.mean_len_e2 + w.wb * $BiasX"
      s"""WITH $perceptronCtes,
         |st AS (SELECT f.doc_id, $logit >= 0 AS pred
         |  FROM pfeat f, pe$TrainEpochs w),
         |${gopherQCtesFor("documents")},
         |j AS (SELECT st.pred, (gq.doc_id IS NOT NULL) AS t
         |  FROM st LEFT JOIN gq ON gq.doc_id = st.doc_id),
         |c AS (SELECT
         |    CAST(SUM(CASE WHEN pred AND t THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_tp,
         |    CAST(SUM(CASE WHEN pred AND NOT t THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_fp,
         |    CAST(SUM(CASE WHEN NOT pred AND t THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_fn,
         |    CAST(SUM(CASE WHEN NOT pred AND NOT t THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_tn
         |  FROM j)
         |SELECT n_tp, n_fp, n_fn, n_tn,
         |  CASE WHEN n_tp + n_fp = 0 THEN CAST(-1 AS BIGINT)
         |    ELSE n_tp * 10000 // (n_tp + n_fp) END AS precision_e4,
         |  CASE WHEN n_tp + n_fn = 0 THEN CAST(-1 AS BIGINT)
         |    ELSE n_tp * 10000 // (n_tp + n_fn) END AS recall_e4,
         |  (n_tp + n_tn) * 10000 // (n_tp + n_fp + n_fn + n_tn)
         |    AS accuracy_e4
         |FROM c""".stripMargin
    },

    "t38_classifier_train" ->
      s"""WITH $perceptronCtes
         |SELECT * FROM (
         |${(1 to TrainEpochs).map(e =>
             s"  SELECT CAST($e AS BIGINT) AS epoch, w1 AS w_stop, " +
               s"w2 AS w_short, w3 AS w_mlen, wb AS w_bias, n_mis FROM pe$e")
             .mkString("\n  UNION ALL\n")}
         |) ORDER BY epoch""".stripMargin,

    "t34_dsir_select" -> {
      val codeDuck = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))), " +
        "(a, b) -> (b + 31 * a) % 2147483647)"
      s"""WITH t0 AS (SELECT doc_id, lang,
         |    unnest(string_split(trim(text), ' ')) AS tok FROM documents),
         |toks AS (SELECT doc_id, lang, ($codeDuck) % 256 AS b FROM t0),
         |freq AS (SELECT b, COUNT(*) AS r_f,
         |    COUNT(*) FILTER (WHERE lang = 'en') AS t_f
         |  FROM toks GROUP BY b),
         |tot AS (SELECT CAST(SUM(r_f) AS BIGINT) AS r_tot,
         |    CAST(SUM(t_f) AS BIGINT) AS t_tot FROM freq),
         |llr AS (SELECT b,
         |    CAST(round((ln((t_f + 1.0) / (t_tot + 256.0)) -
         |      ln((r_f + 1.0) / (r_tot + 256.0))) * 1000000) AS BIGINT)
         |      AS llr_e6
         |  FROM freq, tot)
         |SELECT doc_id, lang, COUNT(*) AS n_tok,
         |  CAST(SUM(llr_e6) AS BIGINT) AS score_e6,
         |  CAST(round(CAST(SUM(llr_e6) AS BIGINT) / (COUNT(*) * 100.0))
         |    AS BIGINT) AS avg_llr_e4,
         |  CAST(SUM(llr_e6) AS BIGINT) > 0 AS keep
         |FROM toks JOIN llr USING (b)
         |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin
    },

    "t16_pii_scrub" ->
      s"""WITH p AS (SELECT doc_id, $piiDuckSql AS pii FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pii, '$piiEmailPat')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(pii, '$piiPhonePat')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(pii, '$piiIpPat')) AS BIGINT) AS n_ip,
         |  regexp_replace(regexp_replace(regexp_replace(pii,
         |    '$piiEmailPat', '<EMAIL>', 'g'), '$piiPhonePat', '<PHONE>', 'g'),
         |    '$piiIpPat', '<IP>', 'g') AS scrubbed,
         |  CAST(length(regexp_replace(regexp_replace(regexp_replace(pii,
         |    '$piiEmailPat', '<EMAIL>', 'g'), '$piiPhonePat', '<PHONE>', 'g'),
         |    '$piiIpPat', '<IP>', 'g')) AS BIGINT) AS scrub_len
         |FROM p ORDER BY doc_id""".stripMargin,

    "t17_domain_mix" ->
      """WITH b AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
        |    COUNT(*) AS n_langs FROM b)
        |SELECT lang, n_docs, n_docs * 1000000 // total AS share_e6,
        |  (1000000 // n_langs) * 1000000 // (n_docs * 1000000 // total)
        |    AS weight_e6
        |FROM b, t ORDER BY lang""".stripMargin,

    "t21_global_shuffle" ->
      """SELECT shard, pos, doc_id FROM (
        |  SELECT doc_id, h % 64 AS shard,
        |    row_number() OVER (PARTITION BY h % 64 ORDER BY h ASC, doc_id ASC)
        |      AS pos
        |  FROM (SELECT doc_id, (doc_id * 2654435761) % 1000000007 AS h
        |        FROM documents))
        |ORDER BY shard, pos""".stripMargin,

    "t20_unigram_nll" ->
      s"""WITH $unigramNllDuckCtes
         |SELECT doc_id, n_tok, sum_nll_e6, avg_nll_e4
         |FROM nll ORDER BY doc_id""".stripMargin,

    "t26_ppl_partition" ->
      s"""WITH $unigramNllDuckCtes,
         |th AS (SELECT
         |    CAST(round(quantile_cont(avg_nll_e4, 1.0/3) * 3) AS BIGINT) AS b1_x3,
         |    CAST(round(quantile_cont(avg_nll_e4, 2.0/3) * 3) AS BIGINT) AS b2_x3
         |  FROM nll),
         |bucketed AS (SELECT
         |    CASE WHEN avg_nll_e4 * 3 <= b1_x3 THEN 'head'
         |         WHEN avg_nll_e4 * 3 <= b2_x3 THEN 'middle' ELSE 'tail' END AS bucket,
         |    avg_nll_e4
         |  FROM nll CROSS JOIN th)
         |SELECT bucket, COUNT(*) AS n_docs,
         |  MIN(avg_nll_e4) AS min_nll_e4, MAX(avg_nll_e4) AS max_nll_e4,
         |  CAST(SUM(avg_nll_e4) AS BIGINT) AS sum_nll_e4
         |FROM bucketed GROUP BY bucket ORDER BY bucket""".stripMargin,

    "t27_bm25" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
         |  FROM documents),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
         |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         |dft AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY tok),
         |qt AS (SELECT tok, df FROM dft ORDER BY df DESC, tok ASC LIMIT $QTerms),
         |tf AS (SELECT doc_id, t.tok, df, COUNT(*) AS tf
         |  FROM t JOIN qt USING (tok) GROUP BY doc_id, t.tok, df),
         |sc AS (SELECT doc_id,
         |    CAST(round($bm25TermSql) AS BIGINT) AS s_e6
         |  FROM tf JOIN dl USING (doc_id) CROSS JOIN stats),
         |agg AS (SELECT doc_id, CAST(SUM(s_e6) AS BIGINT) AS score_e6
         |  FROM sc GROUP BY doc_id),
         |ranked AS (SELECT *, row_number() OVER (
         |    ORDER BY score_e6 DESC, doc_id ASC) AS rn FROM agg)
         |SELECT doc_id, score_e6, rn FROM ranked WHERE rn <= 20
         |ORDER BY rn""".stripMargin,

    // spanRemoval unrolled: SpanPasses detect→cut blocks, each reading
    // the previous pass's cleaned corpus (nxt_i), then the final diff
    // against the original texts — see spanPassCtes/spanRemoval
    "t37_span_removal" ->
      s"""WITH ${(1 to SpanPasses).map(i =>
             spanPassCtes(if (i == 1) "documents" else s"nxt_${i - 1}", s"_$i"))
             .mkString(",\n")}
         |SELECT o.doc_id,
         |  CAST(length(o.text) - length(n.text) AS BIGINT) AS removed_chars,
         |  n.text AS text_clean
         |FROM d_1 o JOIN nxt_$SpanPasses n ON o.doc_id = n.doc_id
         |WHERE length(n.text) < length(o.text)
         |ORDER BY o.doc_id""".stripMargin,

    "t25_winnow_overlap" ->
      s"""WITH ${winnowRareCtes()},
         |cnt AS (SELECT doc_id, COUNT(*) AS nf FROM rare GROUP BY doc_id),
         |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_shared
         |  FROM rare x JOIN rare y ON x.fp = y.fp AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT a, b, n_shared,
         |  CAST(round(n_shared * 10000.0 / least(ca.nf, cb.nf)) AS BIGINT)
         |    AS containment_e4
         |FROM pairs
         |JOIN cnt ca ON ca.doc_id = a
         |JOIN cnt cb ON cb.doc_id = b
         |WHERE n_shared >= $WinMinShared ORDER BY a, b""".stripMargin,

    "t24_bigram_nll" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS a
        |  FROM documents),
        |bg AS (SELECT doc_id, a[CAST(i - 1 AS INT)] AS w1, a[CAST(i AS INT)] AS w2
        |  FROM (SELECT doc_id, a, unnest(range(2, len(a) + 1)) AS i FROM t)),
        |uni AS (SELECT tok, COUNT(*) AS cu FROM
        |    (SELECT unnest(a) AS tok FROM t) GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_corpus FROM uni),
        |bc AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY w1, w2),
        |inst AS (SELECT doc_id,
        |    CAST(round(-ln(0.75 * (cb / CAST(cw1 AS DOUBLE)) +
        |      0.25 * (cu2 / CAST(n_corpus AS DOUBLE))) * 1000000) AS BIGINT)
        |      AS nll_e6
        |  FROM bg
        |  JOIN bc USING (w1, w2)
        |  JOIN (SELECT tok AS w1, cu AS cw1 FROM uni) USING (w1)
        |  JOIN (SELECT tok AS w2, cu AS cu2 FROM uni) USING (w2)
        |  CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_big,
        |  CAST(SUM(nll_e6) AS BIGINT) AS sum_nll_e6,
        |  CAST(round(CAST(SUM(nll_e6) AS BIGINT) / (COUNT(*) * 100.0)) AS BIGINT)
        |    AS avg_nll_e4
        |FROM inst GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t19_adaptive_length_filter" ->
      """WITH th AS (SELECT lang,
        |    CAST(round(quantile_cont(n_chars, 0.05) * 20) AS BIGINT) AS p5_x20,
        |    CAST(round(quantile_cont(n_chars, 0.95) * 20) AS BIGINT) AS p95_x20
        |  FROM documents GROUP BY lang)
        |SELECT d.lang, p5_x20, p95_x20, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN n_chars * 20 >= p5_x20 AND n_chars * 20 <= p95_x20
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents d JOIN th ON d.lang = th.lang
        |GROUP BY d.lang, p5_x20, p95_x20 ORDER BY d.lang""".stripMargin,

    "t18_leakfree_split" ->
      s"""WITH rep AS (SELECT ${graft.operators.Dedup.normKeyOracleSql} AS key,
         |    MIN(doc_id) AS rep_id
         |  FROM documents GROUP BY 1)
         |SELECT doc_id, rep_id,
         |  CASE WHEN (rep_id * 2654435761) % 100 < 80 THEN 'train'
         |       WHEN (rep_id * 2654435761) % 100 < 90 THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM documents d
         |JOIN rep ON ${graft.operators.Dedup.normKeyOracleSql} = rep.key
         |ORDER BY doc_id""".stripMargin,

    "t01_lang_id" ->
      s"""WITH scored AS (SELECT lang,
         |    $langScoresDuck
         |  FROM documents)
         |SELECT lang, $predictCaseSql AS predicted, COUNT(*) AS n
         |FROM scored GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,

    "t02_quality_score" ->
      s"""SELECT doc_id, $wsTokensDuck AS n_tok,
         |  ${scoreDuck(langMarkers.head._2)} AS n_stop,
         |  $shortTokensDuck AS n_short,
         |  round(1.0 - ($shortTokensDuck + ${scoreDuck(langMarkers.head._2)}) /
         |        ($wsTokensDuck + 1), 4) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,

    "t03_token_count" ->
      s"""SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM($wsTokensDuck) AS BIGINT) AS ws_tokens,
         |  CAST(SUM($bpeTokensDuck) AS BIGINT) AS bpe_tokens,
         |  CAST(round(SUM($wsTokensDuck) * 10000.0 / COUNT(*)) AS BIGINT) AS avg_ws_e4
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "t04_fingerprint" ->
      s"""SELECT doc_id, $fingerprintDuck AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "t28_shard_manifest" ->
      s"""WITH f AS (SELECT
         |    ((doc_id * 2654435761) % 1000000007) % 64 AS shard,
         |    n_chars, $fingerprintDuck AS fp
         |  FROM documents)
         |SELECT shard, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  CAST(SUM(fp % 1000000007) % 1000000007 AS BIGINT) AS manifest_fp
         |FROM f GROUP BY shard ORDER BY shard""".stripMargin,

    "t05_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (doc_id * 2654435761) % 100 <
        |      (CASE WHEN lang = 'en' THEN 10 ELSE 50 END)
        |ORDER BY doc_id""".stripMargin,

    "t06_vocab_topk" ->
      """SELECT tok, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
        |      FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 50""".stripMargin,

    "t07_bigrams" ->
      """SELECT bigram, COUNT(*) AS n
        |FROM (SELECT unnest(list_transform(range(1, len(toks)),
        |        i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1])) AS bigram
        |      FROM (SELECT string_split(trim(text), ' ') AS toks FROM documents))
        |GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 30""".stripMargin,

    "t08_length_histogram" ->
      """SELECT n_chars // 50 AS bin, COUNT(*) AS n,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY bin ORDER BY bin""".stripMargin,

    "m02_attachment_stats" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(octet_length(encode(text)) AS BIGINT)) AS BIGINT) AS total_bytes,
        |  MAX(CAST(octet_length(encode(text)) AS BIGINT)) AS max_bytes
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "m06_attachment_inventory" ->
      s"""WITH att AS (${graft.operators.DocumentStore.Attachments.oracleCte})
         |SELECT content_type, COUNT(*) AS n_atts,
         |  COUNT(DISTINCT doc_id) AS n_docs,
         |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
         |FROM att GROUP BY content_type ORDER BY content_type""".stripMargin,

    "t10_clean" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
        |    '[0-9]+', '#', 'g'), '[^a-z0-9# ]', '', 'g'), ' +', ' ', 'g')) AS cleaned,
        |  length(trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
        |    '[0-9]+', '#', 'g'), '[^a-z0-9# ]', '', 'g'), ' +', ' ', 'g'))) AS clean_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t11_tfidf" ->
      """SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df,
        |  round(COUNT(*) * ln((SELECT COUNT(*) FROM documents) /
        |        CAST(COUNT(DISTINCT doc_id) AS DOUBLE)), 4) AS tfidf4
        |FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
        |      FROM documents)
        |GROUP BY tok ORDER BY tf DESC, tok ASC LIMIT 40""".stripMargin,

    "q27_fuzzy_match" ->
      """SELECT source, levenshtein(source, 'src1') AS dist, COUNT(*) AS n
        |FROM documents WHERE levenshtein(source, 'src1') <= 1
        |GROUP BY source, dist ORDER BY dist, source""".stripMargin,

    "t12_chunking" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  CAST(length(substring(text, CAST(i * 100 + 1 AS INT), 200)) AS BIGINT) AS chunk_len
        |FROM (SELECT doc_id, text,
        |        unnest(range(0, greatest(CAST(ceil((length(text) - 200) / 100.0) AS INT), 0) + 1)) AS i
        |      FROM documents)
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "t13_sequence_packing" ->
      """SELECT source, bin, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
        |FROM (SELECT source, (cum - n_tok) // 1000 AS bin, n_tok
        |      FROM (SELECT source, doc_id, n_tok,
        |              CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |            FROM (SELECT source, doc_id,
        |                    len(regexp_extract_all(text, '[^ ]+')) AS n_tok
        |                  FROM documents)))
        |GROUP BY source, bin ORDER BY source, bin""".stripMargin,

    "t14_decontamination" ->
      s"""WITH docs AS (SELECT *, (doc_id * 2654435761) % 100 < 10 AS is_eval
        |  FROM documents),
        |es AS (SELECT doc_id AS eval_id,
        |    unnest($shingleHash13ArrayDuck) AS sh
        |  FROM (SELECT doc_id, text,
        |          list_transform(string_split(text, ''), c -> ascii(c)) AS __chars
        |        FROM docs WHERE is_eval)),
        |ts AS (SELECT doc_id AS train_id,
        |    unnest($shingleHash13ArrayDuck) AS sh
        |  FROM (SELECT doc_id, text,
        |          list_transform(string_split(text, ''), c -> ascii(c)) AS __chars
        |        FROM docs WHERE NOT is_eval))
        |SELECT eval_id, COUNT(DISTINCT es.sh) AS n_contaminated_shingles
        |FROM es JOIN ts ON es.sh = ts.sh
        |GROUP BY eval_id ORDER BY eval_id""".stripMargin,

    "t09_profile" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  COUNT(DISTINCT source) AS n_sources,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents""".stripMargin,

    "m01_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  CAST(64 + octet_length(encode(text)) % 512 AS BIGINT) AS width,
        |  CAST(64 + (octet_length(encode(text)) * 7) % 512 AS BIGINT) AS height,
        |  CAST(1 + octet_length(encode(text)) % 24 AS BIGINT) AS frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m04_thumbnail" ->
      """SELECT doc_id, width, height, thumb_w, thumb_h,
        |  thumb_w * thumb_h * 3 AS thumb_bytes
        |FROM (SELECT doc_id, width, height,
        |    CASE WHEN width <= 128 AND height <= 128 THEN width
        |         WHEN width >= height THEN 128
        |         ELSE greatest(1, (width * 128) // height) END AS thumb_w,
        |    CASE WHEN width <= 128 AND height <= 128 THEN height
        |         WHEN width >= height THEN greatest(1, (height * 128) // width)
        |         ELSE 128 END AS thumb_h
        |  FROM (SELECT doc_id,
        |      CAST(64 + octet_length(encode(text)) % 512 AS BIGINT) AS width,
        |      CAST(64 + (octet_length(encode(text)) * 7) % 512 AS BIGINT) AS height
        |    FROM documents))
        |ORDER BY doc_id""".stripMargin,

    "t15_repetition" ->
      """WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
        |  FROM documents),
        |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_dist FROM tok),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1])) AS bigram
        |  FROM tok WHERE len(toks) >= 2),
        |bgc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram),
        |top AS (SELECT doc_id, MAX(c) AS topc, CAST(SUM(c) AS BIGINT) AS n_bg
        |  FROM bgc GROUP BY doc_id),
        |scored AS (SELECT b.doc_id, b.n_tok,
        |    CAST(round((b.n_tok - b.n_dist) * 10000.0 / b.n_tok) AS BIGINT) AS dup_tok_e4,
        |    CAST(round(coalesce(t.topc * 10000.0 / t.n_bg, 0.0)) AS BIGINT) AS top_bigram_e4
        |  FROM base b LEFT JOIN top t USING (doc_id))
        |SELECT doc_id, n_tok, dup_tok_e4, top_bigram_e4,
        |  (dup_tok_e4 <= 3000 AND top_bigram_e4 <= 2000) AS keep
        |FROM scored ORDER BY doc_id""".stripMargin,

    "t22_gopher_rules" ->
      s"""WITH f AS (SELECT doc_id, $wsTokensDuck AS n_tok,
         |    $stopwPresentDuck AS n_stopw, $shortTokensDuck AS n_short,
         |    length(trim(text)) AS n_chars
         |  FROM documents),
         |g AS (SELECT doc_id, n_tok, n_stopw,
         |    CAST(round((n_chars - (n_tok - 1)) * 100.0 / n_tok) AS BIGINT)
         |      AS mwl_e2,
         |    CAST(round(n_short * 10000.0 / n_tok) AS BIGINT) AS short_e4
         |  FROM f),
         |r AS (SELECT *,
         |    CAST(CASE WHEN n_tok < 30 OR n_tok > 100000 THEN 1 ELSE 0 END +
         |      CASE WHEN mwl_e2 < 300 OR mwl_e2 > 1000 THEN 2 ELSE 0 END +
         |      CASE WHEN n_stopw < 2 THEN 4 ELSE 0 END +
         |      CASE WHEN short_e4 > 4000 THEN 8 ELSE 0 END AS BIGINT) AS reasons
         |  FROM g)
         |SELECT doc_id, n_tok, mwl_e2, n_stopw, short_e4, reasons,
         |  (reasons = 0) AS keep
         |FROM r ORDER BY doc_id""".stripMargin,

    "t23_boilerplate_chunks" ->
      s"""WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
         |  FROM documents),
         |ch AS (SELECT doc_id, unnest(list_transform(
         |    range(0, (len(toks)+1)//2), i -> $chunkKeyDuck)) AS ckey
         |  FROM tok),
         |df AS (SELECT ckey, count(distinct doc_id) AS dfreq
         |  FROM ch GROUP BY ckey),
         |fl AS (SELECT ckey, CASE WHEN dfreq * 100 >=
         |      (SELECT count(*) FROM documents) * 3
         |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS boiler
         |  FROM df),
         |per AS (SELECT c.doc_id, count(*) AS n_chunks,
         |    CAST(sum(f.boiler) AS BIGINT) AS n_boiler
         |  FROM ch c JOIN fl f USING (ckey) GROUP BY c.doc_id)
         |SELECT doc_id, n_chunks, n_boiler,
         |  CAST(round(n_boiler * 10000.0 / n_chunks) AS BIGINT) AS boiler_e4,
         |  (CAST(round(n_boiler * 10000.0 / n_chunks) AS BIGINT) <= 7000)
         |    AS keep
         |FROM per ORDER BY doc_id""".stripMargin,

    "m14_multimodal_pack" ->
      s"""WITH b AS (SELECT doc_id,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents),
         |m AS (SELECT doc_id, $modalityCase AS modality,
         |    CAST(${modalityTokens("n", "//")} AS BIGINT) AS toks FROM b),
         |c AS (SELECT modality, toks,
         |    SUM(toks) OVER (PARTITION BY modality ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM m),
         |g AS (SELECT modality, CAST((cum - toks) // 4096 AS BIGINT) AS bin,
         |    COUNT(*) AS n_items, CAST(SUM(toks) AS BIGINT) AS bin_tokens
         |  FROM c GROUP BY modality, bin)
         |SELECT modality, bin, n_items, bin_tokens,
         |  bin_tokens * 10000 // 4096 AS fill_e4
         |FROM g ORDER BY modality, bin""".stripMargin,

    "m15_pack_split" ->
      s"""WITH b AS (SELECT doc_id,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents),
         |m AS (SELECT doc_id, $modalityCase AS modality,
         |    CAST(${modalityTokens("n", "//")} AS BIGINT) AS toks FROM b),
         |c AS (SELECT modality, doc_id, toks,
         |    CAST(SUM(toks) OVER (PARTITION BY modality ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM m),
         |e AS (SELECT modality, toks, cum,
         |    unnest(range((cum - toks) // 4096,
         |      CASE WHEN toks > 0 THEN (cum - 1) // 4096 + 1
         |        ELSE (cum - toks) // 4096 + 1 END)) AS bin
         |  FROM c),
         |s AS (SELECT modality, toks, CAST(bin AS BIGINT) AS bin,
         |    least(cum, (bin + 1) * 4096)
         |      - greatest(cum - toks, bin * 4096) AS seg_tokens
         |  FROM e),
         |g AS (SELECT modality, bin, COUNT(*) AS n_segments,
         |    CAST(SUM(CASE WHEN toks > seg_tokens THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_split_segments,
         |    CAST(SUM(seg_tokens) AS BIGINT) AS bin_tokens
         |  FROM s GROUP BY modality, bin)
         |SELECT modality, bin, n_segments, n_split_segments, bin_tokens,
         |  bin_tokens * 10000 // 4096 AS fill_e4
         |FROM g ORDER BY modality, bin""".stripMargin,

    "m07_modality_mix" ->
      s"""WITH b AS (SELECT doc_id,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents),
         |m AS (SELECT doc_id, n, $modalityCase AS modality,
         |    CAST(${modalityTokens("n", "//")} AS BIGINT) AS toks FROM b),
         |a AS (SELECT modality, COUNT(*) AS n_items,
         |    CAST(SUM(n) AS BIGINT) AS total_bytes,
         |    CAST(SUM(toks) AS BIGINT) AS total_tokens
         |  FROM m GROUP BY modality)
         |SELECT modality, n_items, total_bytes, total_tokens,
         |  CAST(round(total_tokens * 1000000.0 /
         |    (SELECT SUM(total_tokens) FROM a)) AS BIGINT) AS share_e6
         |FROM a ORDER BY modality""".stripMargin,

    "m05_audio_energy" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n,
        |    list_transform(string_split(text, ''), c -> ascii(c)) AS chars
        |  FROM documents),
        |w AS (SELECT doc_id, n, chars,
        |    unnest(range(0, CASE WHEN n >= 100 THEN (n - 100) // 40 + 1
        |                         ELSE 0 END)) AS win_id
        |  FROM d)
        |SELECT doc_id, win_id, win_id * 40 AS start,
        |  CAST(list_sum(list_transform(
        |    list_slice(chars, CAST(win_id * 40 + 1 AS INT), CAST(win_id * 40 + 100 AS INT)),
        |    x -> (x - 64) * (x - 64))) AS BIGINT) AS energy,
        |  CAST(list_max(
        |    list_slice(chars, CAST(win_id * 40 + 1 AS INT), CAST(win_id * 40 + 100 AS INT))
        |    ) AS BIGINT) AS peak
        |FROM w ORDER BY doc_id, win_id""".stripMargin,

    "m03_frame_sample" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n,
        |    CAST(1 + octet_length(encode(text)) % 24 AS BIGINT) AS frames,
        |    list_transform(string_split(text, ''), c -> ascii(c)) AS chars
        |  FROM documents),
        |f AS (SELECT doc_id, n, frames, chars,
        |    unnest(range(0, frames)) AS frame_id
        |  FROM d)
        |SELECT doc_id, frame_id,
        |  (frame_id * n) // frames AS frame_start,
        |  ((frame_id + 1) * n) // frames - (frame_id * n) // frames AS frame_len,
        |  CAST(coalesce(list_sum(list_slice(chars,
        |    CAST((frame_id * n) // frames + 1 AS INT),
        |    CAST(((frame_id + 1) * n) // frames AS INT))), 0) % 997 AS BIGINT) AS feature
        |FROM f WHERE frame_id % 5 = 0
        |ORDER BY doc_id, frame_id""".stripMargin,

    "m10_audio_vad" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n,
        |    list_transform(string_split(text, ''), c -> ascii(c)) AS chars
        |  FROM documents),
        |w AS (SELECT doc_id, n, chars,
        |    unnest(range(0, CASE WHEN n >= 100 THEN (n - 100) // 40 + 1
        |                         ELSE 0 END)) AS win_id
        |  FROM d),
        |f AS (SELECT doc_id, win_id,
        |    CAST(list_sum(list_transform(
        |      list_slice(chars, CAST(win_id * 40 + 1 AS INT),
        |        CAST(win_id * 40 + 100 AS INT)),
        |      x -> (x - 64) * (x - 64))) AS BIGINT) AS energy
        |  FROM w),
        |m AS (SELECT doc_id, CAST(SUM(energy) AS BIGINT) AS tot,
        |    COUNT(*) AS nw FROM f GROUP BY doc_id),
        |isl AS (SELECT f.doc_id, win_id, energy,
        |    win_id - row_number() OVER (PARTITION BY f.doc_id
        |      ORDER BY win_id) AS grp
        |  FROM f JOIN m USING (doc_id) WHERE energy * nw >= tot)
        |SELECT doc_id, MIN(win_id) AS first_win, MAX(win_id) AS last_win,
        |  COUNT(*) AS n_win, CAST(SUM(energy) AS BIGINT) AS seg_energy
        |FROM isl GROUP BY doc_id, grp
        |ORDER BY doc_id, first_win""".stripMargin,

    "m09_scene_cuts" ->
      s"""WITH $frameLagCtes
         |SELECT doc_id, frame_id, prev_feature, feature,
         |  abs(feature - prev_feature) AS delta
         |FROM lagged
         |WHERE prev_feature IS NOT NULL AND abs(feature - prev_feature) >= $SceneCutT
         |ORDER BY doc_id, frame_id""".stripMargin,

    "m13_shot_stats" ->
      s"""WITH $frameLagCtes,
         |flagged AS (SELECT doc_id, frame_id,
         |    CASE WHEN prev_feature IS NOT NULL
         |      AND abs(feature - prev_feature) >= $SceneCutT
         |      THEN 1 ELSE 0 END AS cut
         |  FROM lagged),
         |shotted AS (SELECT doc_id, frame_id,
         |    SUM(cut) OVER (PARTITION BY doc_id ORDER BY frame_id
         |      ROWS UNBOUNDED PRECEDING) AS shot
         |  FROM flagged),
         |shots AS (SELECT doc_id, shot, COUNT(*) AS len
         |  FROM shotted GROUP BY doc_id, shot)
         |SELECT doc_id, COUNT(*) AS n_shots,
         |  CAST(SUM(len) AS BIGINT) AS n_frames, MAX(len) AS longest,
         |  CAST(CAST(SUM(len) AS BIGINT) // COUNT(*) AS BIGINT) AS mean_len_fl
         |FROM shots GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "m08_phash_neardup" ->
      s"""WITH $phashPairCtes
         |SELECT a, b, hamming FROM ph_pairs ORDER BY a, b""".stripMargin,

    "m12_phash_clusters" ->
      s"""WITH RECURSIVE $phashPairCtes,
         |edges AS (SELECT a, b FROM ph_pairs
         |          UNION ALL SELECT b AS a, a AS b FROM ph_pairs),
         |reach AS (
         |  SELECT a AS id, a AS r FROM edges
         |  UNION
         |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b
         |)
         |SELECT label AS rep_id, COUNT(*) AS cluster_size, MAX(id) AS max_id
         |FROM (SELECT id, MIN(r) AS label FROM reach GROUP BY id)
         |GROUP BY label ORDER BY rep_id""".stripMargin,

    "t39_domain_divergence" ->
      s"""WITH t AS (SELECT source,
         |    unnest(string_split(trim(text), ' ')) AS tok FROM documents),
         |counts AS (SELECT source, tok, COUNT(*) AS c
         |  FROM t GROUP BY source, tok),
         |totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
         |  FROM counts GROUP BY source),
         |vocab AS (SELECT DISTINCT tok FROM counts),
         |grid AS (SELECT s.source, v.tok,
         |    CAST(coalesce(c.c, 0) AS BIGINT) AS c, s.n
         |  FROM totals s CROSS JOIN vocab v
         |  LEFT JOIN counts c ON c.source = s.source AND c.tok = v.tok),
         |pr AS (SELECT ga.source AS a, gb.source AS b,
         |    ga.c AS ca, ga.n AS na, gb.c AS cb, gb.n AS nb
         |  FROM grid ga JOIN grid gb
         |    ON ga.tok = gb.tok AND ga.source < gb.source)
         |SELECT a, b, na, nb,
         |  CAST(SUM($jsContribSql) AS BIGINT) AS js_e9
         |FROM pr GROUP BY a, b, na, nb ORDER BY a, b""".stripMargin,

    "t40_ngram_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t
        |    FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |    array_to_string(t[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' ')
        |      AS gram
        |  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 7)) AS i
        |        FROM toks)),
        |fd AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
        |SELECT g.doc_id, COUNT(*) AS n_types,
        |  CAST(SUM(CASE WHEN fd.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  CAST(CAST(SUM(CASE WHEN fd.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) * 10000 // COUNT(*) AS BIGINT) AS novelty_e4
        |FROM g JOIN fd USING (gram)
        |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin)
}
