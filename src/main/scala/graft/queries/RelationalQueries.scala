package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.ExactNum.{cents, sumCents}

/** Relational analytics core (SURVEY.md §2.D).
  *
  * Jane's query surface is attribute search + aggregation over document
  * indices; these queries exercise the same relational shapes on the
  * driver's TPC-H-ish tables. Every query is declared with the DataFrame
  * API so Catalyst handles pushdown/pruning/join selection; dims are
  * broadcast explicitly where the 100 TB plan wants a map-side join.
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q18's sketch-verdict expressions, shared with the tripwire spec
    * (r15 ADVICE): the oracle emits CONSTANT-1 verdicts by design, so
    * the hash compare can confirm an estimate is in-band but cannot
    * detect a verdict expression degenerating to always-true (a
    * band-widening typo would silently stop checking the sketches while
    * the hash stays green). Q18VerdictSpec feeds these exact strings
    * out-of-band estimates and asserts the verdict flips to 0 — shared
    * symbols so the spec can never drift from the shipped expressions
    * (the j46/j47 lesson). Bands: HLL++ at rsd 0.02 → ±10% ≈ 5σ;
    * approx_percentile ±1 quantity unit (±2 on the ×2-quantized scale).
    */
  private[graft] val Q18PartsOkExpr: String =
    "CASE WHEN abs(ap - n_parts_exact) * 10 <= n_parts_exact " +
      "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"
  private[graft] val Q18MedianOkExpr: String =
    "CASE WHEN abs(am * 2 - median_x2) <= 2 " +
      "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"

  // q32 CMS row hashes: (a, b) pairs for ((a·u + b) % P) % 256
  private val CmsRows: Seq[(Long, Long)] =
    Seq((2654435761L, 17L), (2246822519L, 101L),
      (3266489917L, 419L), (668265263L, 1009L))
  private val CmsP = 2147483647L

  /** q31/q44's HLL estimate from an integer harmonic sum + empty-register
    * count: raw = α·m²·2^26 div S, linear counting below the 2.5m
    * threshold — ONE generator for both dialects (`divOp` = `div`/`//`)
    * so the selector logic can never desynchronize.
    */
  private def hllEstSql(ss: String, v: String, divOp: String): String = {
    val raw = s"(CAST(709 AS BIGINT) * 4096 * 67108864) $divOp (1000 * $ss)"
    s"CASE WHEN ($raw) <= 160 AND $v > 0 " +
      s"THEN CAST(round(64 * ln(64.0 / $v)) AS BIGINT) ELSE ($raw) END"
  }

  private val SkewOracle: String =
    """WITH dim AS (SELECT unnest(range(0, 100)) AS k),
      |f AS (SELECT CAST(CASE WHEN l_orderkey % 100 < 90 THEN 0
      |         ELSE l_orderkey % 100 END AS BIGINT) AS hk,
      |       l_extendedprice FROM lineitem)
      |SELECT k % 7 AS grp, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS rev_c
      |FROM f JOIN dim ON hk = k
      |GROUP BY 1 ORDER BY grp""".stripMargin

  /** The q32 counter build: events → ≤1024-row (i, c, n) counter table —
    * the mergeable CMS state (elementwise +). Shared by q32's audited
    * eval twin and q36's persisted serving split.
    */
  private[graft] def cmsCounterTable(s: SparkSession, d: String): DataFrame = {
    val hashes = CmsRows.zipWithIndex.map { case ((a, b), i) =>
      (i, s"((user_id * ${a}L + ${b}L) % $CmsP) % 256")
    }
    val rowArr = hashes.map { case (i, h) =>
      s"struct(CAST($i AS BIGINT) AS i, $h AS c)"
    }.mkString(", ")
    Tables.events(s, d).select(col("user_id"))
      .select(explode(expr(s"array($rowArr)")).as("rc"))
      .groupBy(col("rc.i").as("i"), col("rc.c").as("c"))
      .agg(count(lit(1)).as("n"))
  }

  /** q39's serving half: the HLL cardinality estimate computed from the
    * PERSISTED register table alone — a 64-row fold with no events scan
    * anywhere in the plan (spec-asserted in PlanShapeSpec). Same
    * estimate arithmetic as q31.
    */
  private[graft] def hllServe(s: SparkSession, storePath: String): DataFrame = {
    val stored = graft.sources.ParquetStore.read(s, storePath)
    s.range(0, 64).toDF("r")
      .join(stored, col("r") === col("reg"), "left")
      .select(expr("coalesce(rho_max, 0)").as("rho_max"))
      .agg(
        expr("CAST(SUM(CAST(power(2, 26 - rho_max) AS BIGINT)) AS BIGINT)").as("ss"),
        expr("CAST(SUM(CASE WHEN rho_max = 0 THEN 1 ELSE 0 END) AS BIGINT)").as("v_empty"))
      .withColumn("est_raw",
        expr("(CAST(709 AS BIGINT) * 4096 * 67108864) div (1000 * ss)"))
      .withColumn("est_lc", expr(
        "CASE WHEN v_empty > 0 THEN CAST(round(64 * ln(64.0 / v_empty)) AS BIGINT) ELSE -1 END"))
      .withColumn("est_used", expr(
        "CASE WHEN est_raw <= 160 AND v_empty > 0 THEN est_lc ELSE est_raw END"))
      .select(lit(64L).as("m"), col("ss"), col("v_empty"), col("est_raw"),
        col("est_lc"), col("est_used"))
  }

  /** The skew-measurement join (q37/q38): a DELIBERATE hot key — 90% of
    * lineitem rows land on hk=0, the remaining 10% on hk ∈ {90..99} —
    * joined to a 100-row dim FORCED onto the sort-merge path
    * (`hint("merge")`; a broadcastable dim would hide the disease — the
    * production setting this simulates is a dim too big to broadcast).
    * Unsalted: the fact shuffles on hk and ONE task sorts
    * and joins 90% of the table. Salted: the dim replicates ×16 and the
    * fact adds a deterministic salt, so the hot key spreads over 16
    * tasks; results are bit-identical (each fact row still matches
    * exactly one dim replica) and both variants share one oracle.
    */
  private[graft] def skewJoinAgg(s: SparkSession, d: String,
      salted: Boolean): DataFrame = {
    val fact = Tables.lineitem(s, d).withColumn("hk", expr(
      "CAST(CASE WHEN l_orderkey % 100 < 90 THEN 0 ELSE l_orderkey % 100 END AS BIGINT)"))
    val dim = s.range(0, 100).select(col("id").as("k"), (col("id") % 7).as("grp"))
    val joined = if (salted) {
      val salts = 16
      val sf = fact.withColumn("fsalt",
        expr(s"(l_orderkey * 7 + l_linenumber) % $salts"))
      val sd = dim.withColumn("dsalt", explode(expr(s"sequence(0L, ${salts - 1}L)")))
      sf.join(sd.hint("merge"),
        col("hk") === col("k") && col("fsalt") === col("dsalt"))
    } else {
      fact.join(dim.hint("merge"), col("hk") === col("k"))
    }
    joined.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(cents(col("l_extendedprice"))).as("rev_c"))
      .orderBy("grp")
  }

  /** CMS point-estimate serving over a PERSISTED counter store: the
    * lookup set joins the ≤1024-row stored table per hash row — no
    * events scan anywhere in this plan (spec-asserted). Absent cells are
    * true zeros (left join + coalesce): the CMS estimate for a never-
    * observed key.
    */
  private[graft] def cmsServe(s: SparkSession, storePath: String,
      lookups: DataFrame): DataFrame = {
    val stored = graft.sources.ParquetStore.read(s, storePath)
    val hashes = CmsRows.zipWithIndex.map { case ((a, b), i) =>
      (i, s"((user_id * ${a}L + ${b}L) % $CmsP) % 256")
    }
    hashes.foldLeft(lookups) { case (df, (i, h)) =>
      df.join(broadcast(stored.filter(col("i") === i)
        .select(col("c").as(s"c$i"), col("n").as(s"n$i"))),
        expr(h) === col(s"c$i"), "left")
    }
      .withColumn("est", expr(hashes.map { case (i, _) =>
        s"coalesce(n$i, CAST(0 AS BIGINT))" }.mkString("least(", ", ", ")")))
      .select(col("user_id"), col("est"))
  }

  /** q41's mergeable MV partials: per (month, status) count + revenue
    * cents — sufficient stats closed under +, so any date-slice of orders
    * aggregates independently and merges by sum.
    */
  private[graft] def mvPartials(orders: DataFrame): DataFrame =
    orders
      .withColumn("mon", expr("CAST(date_trunc('MONTH', o_orderdate) AS DATE)"))
      .groupBy("mon", "o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("rev_cents"))

  /** q41's refresh: stored MV partials + delta partials, merged by sum —
    * O(store + delta), no history scan (spec-asserted).
    */
  private[graft] def mvRefresh(s: SparkSession, storePath: String,
      delta: DataFrame): DataFrame =
    graft.sources.ParquetStore.read(s, storePath)
      .unionByName(mvPartials(delta))
      .groupBy("mon", "o_orderstatus")
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("rev_cents")).as("rev_cents"))
      .withColumn("avg_cents", expr("rev_cents div n_orders"))

  val queries: Map[String, Q] = Map(
    "q01_pricing_summary" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sumCents(col("l_quantity")).as("sum_qty_c"),
          sumCents(col("l_extendedprice")).as("sum_base_c"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_c"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    "q02_filter_project" -> { (s, d) =>
      // Predicate pushdown + column pruning: the scan should read only the
      // five referenced columns and push all three filters to parquet.
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .select(col("l_orderkey"), col("l_linenumber"),
          cents(col("l_quantity")).as("qty_c"),
          cents(col("l_extendedprice") * col("l_discount")).as("disc_revenue_c"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    "q03_join_agg" -> { (s, d) =>
      // 4-table star join: lineitem ⋈ orders (shuffle on orderkey) with
      // customer and nation broadcast — at 100 TB only the fact-fact join
      // shuffles; dims stay map-side.
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_c"),
          count(lit(1)).as("n_lines"))
        .orderBy("n_name")
    },

    "q04_exists_semijoin" -> { (s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d).filter(col("l_quantity") >= 48)
            .select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },

    "q05_topk" -> { (s, d) =>
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(sumCents(col("o_totalprice")).as("spend_c"))
        .orderBy(col("spend_c").desc, col("c_custkey").asc)
        .limit(10)
    },

    "q06_window_rank" -> { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
      Tables.orders(s, d)
        .withColumn("rnk", rank().over(w).cast("long"))
        .filter(col("rnk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"),
          cents(col("o_totalprice")).as("price_c"), col("rnk"))
        .orderBy("o_custkey", "rnk", "o_orderkey")
    },

    "q07_distinct_agg" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_lines"))
        .orderBy("l_returnflag")
    },

    "q08_anti_join" -> { (s, d) =>
      // Customers with no large order — left-anti join (Jane: orphan
      // documents with no index rows).
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 450000)
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },

    "q09_conditional_agg" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          sumCents(col("value")).as("value_c"),
          sum(when(col("value") > 100, 1L).otherwise(0L)).as("n_big"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    },

    "q10_time_bucket" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sumCents(col("value")).as("value_c"))
        .orderBy("day", "event_type")
    },

    "q11_rollup" -> { (s, d) =>
      // ROLLUP via SQL: the DataFrame rollup + re-select path trips Spark's
      // ambiguous-column detection on the Expand node's duplicated grouping
      // attributes; the SQL front-end resolves cleanly and plans identically.
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"), col("c_acctbal"))
        .createOrReplaceTempView("graft_q11_cnr")
      s.sql(
        """SELECT r_name, n_name, COUNT(*) AS n_cust,
          |  SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS acctbal_c
          |FROM graft_q11_cnr
          |GROUP BY ROLLUP (r_name, n_name)
          |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
    },

    "q12_union_dedup" -> { (s, d) =>
      Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("key"))
        .union(Tables.orders(s, d).filter(col("o_totalprice") > 400000)
          .select(col("o_custkey").as("key")))
        .distinct()
        .orderBy("key")
    },

    "q13_json_extract" -> { (s, d) =>
      // Jane stores extracted index attributes as JSON; same shape here.
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    "q16_salted_agg" -> { (s, d) =>
      // Hot-key aggregation via two-phase salting (see operators.Skew):
      // event_type has 5 values — the unsalted shuffle would bottleneck on
      // 5 reducers at scale. Oracle checks the unsalted equivalent.
      graft.operators.Skew.saltedAgg(
        Tables.events(s, d), key = "event_type",
        saltCol = col("event_id"), salts = 16,
        partials = Seq(
          "n_events" -> count(lit(1)),
          "value_c" -> sum(cents(col("value")))))
        .orderBy("event_type")
    },

    "q17_moving_window" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
        .rowsBetween(-3, Window.currentRow)
      Tables.events(s, d)
        .filter(col("user_id") < 5)
        .withColumn("sec", unix_timestamp(col("ts")))
        .withColumn("mv_sum_c", sum(cents(col("value"))).over(w))
        .withColumn("mv_n", count(lit(1)).over(w))
        .select(col("user_id"), col("event_id"), col("sec"),
          col("mv_sum_c"), col("mv_n"))
        .orderBy("user_id", "sec", "event_id")
    },

    // Sketch-based approximations for 100 TB interactive use — Spark's
    // NATIVE HLL++ (approx_count_distinct, rsd 0.02) and
    // approx_percentile stay in the plan, but since r14 (the r13
    // verdict's item 2) the key is oracle-checked via the
    // estimate-beside-exact audit card proven by q31/q32/q44: the
    // hashed output carries only engine-portable columns — the exact
    // values plus integer VERDICT columns asserting each estimate
    // landed within its documented tolerance band (HLL++ ±10% at
    // rsd 0.02 ≈ 5σ; approx_percentile ±1 quantity unit, generous vs
    // the ~n/10000 rank error). The oracle replays the exact twins and
    // emits constant-1 verdicts, so a sketch drifting out of band
    // breaks the hash — the approximate arm is CHECKED, not declared.
    // Determinism: HLL++ register max-merge is order-independent; the
    // verdict band absorbs approx_percentile's merge-order sensitivity.
    // Plan note: the DISTINCT aggregate runs ALONE, joined on the 3-row
    // group key with one agg holding every non-distinct function —
    // mixing countDistinct with imperative-buffer aggregates routes ALL
    // of them through the distinct-Expand rewrite: measured (sf0.1,
    // `git show 4a72e29:src/test/scala/graft/ProfileQ18.scala`)
    // all-four-in-one 13.2 s, countDistinct+HLL++ 2.3 s, vs 0.72 s
    // countDistinct alone + 0.56 s percentile+approx_percentile
    // together. Two pushed-down 2-column scans beat one 28x-slower
    // combined pass — same trade at 100 TB.
    "q18_approx_stats" -> { (s, d) =>
      val parts = Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts_exact"))
      val quants = Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
          expr("CAST(round(percentile(l_quantity, 0.5) * 2) AS BIGINT)")
            .as("median_x2"),
          expr("approx_percentile(l_quantity, 0.5, 10000)").as("am"))
      parts.join(quants, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n_parts_exact"), col("median_x2"),
          expr(Q18PartsOkExpr).as("parts_ok"),
          expr(Q18MedianOkExpr).as("median_ok"))
        .orderBy("l_returnflag")
    },

    "q19_correlated_subquery" -> { (s, d) =>
      // Correlated scalar subquery — Catalyst decorrelates this into a
      // join + agg; at 100 TB the naive per-row re-execution a document DB
      // would do becomes one shuffle. Averages are over integer cents
      // (exact in f64 up to 2^53), so the comparison is engine-stable.
      Tables.orders(s, d).createOrReplaceTempView("graft_q19_orders")
      s.sql(
        """SELECT o_orderkey, o_custkey,
          |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
          |FROM graft_q19_orders o
          |WHERE CAST(round(o_totalprice * 100) AS BIGINT) >
          |      1.5 * (SELECT AVG(CAST(round(o2.o_totalprice * 100) AS BIGINT))
          |             FROM graft_q19_orders o2 WHERE o2.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    },

    "q20_grouping_sets" -> { (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"), col("c_acctbal"))
        .createOrReplaceTempView("graft_q20_cnr")
      s.sql(
        """SELECT r_name, n_name, COUNT(*) AS n_cust,
          |  SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS acctbal_c
          |FROM graft_q20_cnr
          |GROUP BY GROUPING SETS ((r_name), (n_name), ())
          |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
    },

    "q21_full_outer" -> { (s, d) =>
      val nc = Tables.customer(s, d).groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_cust"))
      val ns = Tables.supplier(s, d).groupBy(col("s_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_supp"))
      nc.as("c").join(ns.as("s"), col("c.nk") === col("s.nk"), "full_outer")
        .select(coalesce(col("c.nk"), col("s.nk")).as("nationkey"),
          col("n_cust"), col("n_supp"))
        .orderBy(asc_nulls_first("nationkey"))
    },

    "q22_pivot" -> { (s, d) =>
      // Pivot = shuffle once on the row key, conditional-agg the columns.
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    },

    "q23_except" -> { (s, d) =>
      // Set difference: BUILDING-segment customers who never placed a
      // large order (EXCEPT = left-anti on the whole row).
      Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("key"))
        .except(Tables.orders(s, d).filter(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("key")))
        .orderBy("key")
    },

    "q28_json_map" -> { (s, d) =>
      // Full JSON-payload parse into a typed map (vs q13's single-path
      // extract): every attribute key becomes a row — the generic shape
      // of Jane's schemaless index attributes.
      Tables.events(s, d)
        .select(explode(from_json(col("props"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>")))
          .as(Seq("key", "v")))
        .groupBy("key")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"), max(col("v")).as("max_v"))
        .orderBy("key")
    },

    "q30_funnel" -> { (s, d) =>
      // Strict-order conversion funnel view -> click -> purchase: each
      // step counts users whose step event happens strictly AFTER their
      // previous step's earliest time (min-ts per step, re-anchored per
      // user — the sequenced funnel, not the loose intersect-of-actors).
      // Three user-keyed groupBys + two user-keyed equi-joins; no
      // windows over the raw stream, so nothing orders the full event
      // log. Timestamps never reach the output (counts only), keeping
      // the compare engine-exact.
      val ev = Tables.events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      v.agg(count(lit(1)).as("n_users"))
        .select(lit(1L).as("step"), lit("view").as("stage"), col("n_users"))
        .unionByName(c.agg(count(lit(1)).as("n_users"))
          .select(lit(2L).as("step"), lit("click").as("stage"), col("n_users")))
        .unionByName(p.agg(count(lit(1)).as("n_users"))
          .select(lit(3L).as("step"), lit("purchase").as("stage"), col("n_users")))
        .orderBy("step")
    },

    "q34_expectations" -> { (s, d) =>
      // Data-quality gate (the Deequ/Great-Expectations shape): a fixed
      // suite of expectations evaluated over the fact table in ONE scan
      // each family — null counts and range violations fold into a single
      // conditional aggregate, key uniqueness is one groupBy, referential
      // integrity one anti-join count — emitted as a (check, violations,
      // passed) verdict table a pipeline gates deploys on. Every metric
      // is an exact integer count.
      val li = Tables.lineitem(s, d)
      val scan = li.agg(
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("null_key"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("qty_range"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
          .otherwise(0L)).as("disc_range"))
      val dupKeys = li.groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("n")).filter(col("n") > 1)
        .agg(coalesce(sum(col("n") - 1), lit(0L)).as("dup_lines"))
      val orphans = li.join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orphan_lines"))
      // ONE metrics row, materialized — without the barrier each of the
      // five verdict rows re-executes all three metric subtrees (40-scan
      // plan, verified via graft.Explain)
      val m = scan.crossJoin(broadcast(dupKeys)).crossJoin(broadcast(orphans))
        .localCheckpoint()
      def row(name: String, mcol: String) =
        m.select(lit(name).as("check_name"), col(mcol).as("violations"),
          expr(s"CAST(CASE WHEN $mcol = 0 THEN 1 ELSE 0 END AS BIGINT)")
            .as("passed"))
      row("key_not_null", "null_key")
        .unionByName(row("line_key_unique", "dup_lines"))
        .unionByName(row("quantity_in_range", "qty_range"))
        .unionByName(row("discount_in_range", "disc_range"))
        .unionByName(row("orderkey_in_orders", "orphan_lines"))
        .orderBy("check_name")
    },

    "q37_skew_salted" -> { (s, d) =>
      // The skew CURE, oracle-checked: the deliberately hot-keyed
      // sort-merge join (90% of rows on one key — see skewJoinAgg) run
      // through explicit ×16 salting. q38 is the same computation
      // UNSALTED — the disease; BENCH carries both. Disease vs
      // AQE-skew-split vs salting under controlled configs: SURVEY §6b,
      // `git show 77a6ec9:src/main/scala/graft/SkewBench.scala`.
      skewJoinAgg(s, d, salted = true)
    },

    "q38_skew_unsalted" -> { (s, d) =>
      // The skew DISEASE, same semantics and oracle as q37: the hot key
      // shuffles 90% of the fact into one sort-merge task (AQE's runtime
      // skew split is the only mitigation here — measured with it on
      // and off by `git show 77a6ec9:src/main/scala/graft/SkewBench.scala`).
      skewJoinAgg(s, d, salted = false)
    },

    "q41_mv_refresh" -> { (s, d) =>
      // Incremental materialized-view maintenance — the aggregate twin of
      // the serving-split family (CMS q36 / HLL q39 / bands d31): a
      // monthly revenue rollup is built ONCE over closed history
      // (o_orderdate < 2001-01-15), persisted as the ~240-row MV store,
      // and the nightly refresh aggregates ONLY the open delta partition
      // and merges partials by + — count/sum are mergeable sufficient
      // stats (q40's doctrine), so refresh cost is O(delta), never a
      // history rescan. The cutoff deliberately lands MID-month so the
      // 2001-01 groups exist on BOTH sides and the hash check proves the
      // merge itself, not just disjoint concatenation. Both filters are
      // scan predicates (partition pruning in a date-partitioned store);
      // the merged MV equals the full recompute — exactly what the
      // DuckDB oracle computes. PlanShapeSpec asserts the refresh
      // subplan reads the store + the pushed-filter delta only.
      val path = s"/tmp/graft_stores/mv_${new java.io.File(d).getName}"
      graft.sources.ParquetStore.installOverwrite(
        mvPartials(Tables.orders(s, d)
          .filter(col("o_orderdate") < lit("2001-01-15"))), path)
      mvRefresh(s, path,
        Tables.orders(s, d).filter(col("o_orderdate") >= lit("2001-01-15")))
        .orderBy("mon", "o_orderstatus")
    },

    "q36_cms_serve" -> { (s, d) =>
      // CMS SERVING split (r6 verdict item): q32/q33 build counters and
      // audit them against the exact per-key scan in one query — the EVAL
      // twin. Production persists the ≤1024-row mergeable counter table
      // once per ingest window and answers point lookups from the STORE
      // alone — at 100 TB that difference (1024 longs vs a corpus scan
      // per question) is the entire point of the sketch. This query runs
      // the lifecycle end to end: build → persist via parquet → serve a
      // fixed 24-key lookup set reading ONLY the stored counters (the
      // serving subplan's store-only property is spec-asserted in
      // PlanShapeSpec). Absent cells are true zeros. The oracle replays
      // build + estimates in one SQL — the persistence round-trip is
      // exactly the identity the hash check proves.
      val path = s"/tmp/graft_stores/cms_${new java.io.File(d).getName}"
      graft.sources.ParquetStore.installOverwrite(cmsCounterTable(s, d), path)
      cmsServe(s, path, s.range(0, 24).toDF("user_id"))
        .orderBy("user_id")
    },

    "q33_cms_tokens" -> { (s, d) =>
      // q32's count-min sketch with STRING keys — the vocabulary
      // heavy-hitter monitor (t06 computes the exact vocab top-k; a
      // 100 TB feed monitors it with this sketch instead): tokens map to
      // BIGINT Horner codes (base 31 mod P, the t14 discipline at token
      // granularity), then the identical 4x256 counter/min machinery.
      // Colliding codes share a cell exactly alike on both engines, so
      // est >= exact still holds per token and the whole sketch stays
      // hash-checkable.
      val P = 2147483647L
      val codeSql = "aggregate(transform(split(tok, ''), " +
        s"c -> CAST(ascii(c) AS BIGINT)), CAST(0 AS BIGINT), " +
        s"(acc, c) -> (c + 31 * acc) % $P)"
      // tokenized+coded table feeds counters and vocab — materialize once
      val toks = Tables.documents(s, d)
        .select(explode(expr("split(trim(text), ' ')")).as("tok"))
        .select(col("tok"), expr(codeSql).as("code"))
        .localCheckpoint()
      val hashes = CmsRows.zipWithIndex.map { case ((a, b), i) =>
        (i, s"((code * ${a}L + ${b}L) % $P) % 256")
      }
      val rowArr = hashes.map { case (i, h) =>
        s"struct(CAST($i AS BIGINT) AS i, $h AS c)"
      }.mkString(", ")
      val counters = toks.select(explode(expr(s"array($rowArr)")).as("rc"))
        .groupBy(col("rc.i").as("i"), col("rc.c").as("c"))
        .agg(count(lit(1)).as("n"))
      val vocab = toks.groupBy("tok", "code").agg(count(lit(1)).as("exact"))
      val est = hashes.foldLeft(vocab) { case (df, (i, h)) =>
        df.join(broadcast(counters.filter(col("i") === i)
          .select(col("c").as(s"c$i"), col("n").as(s"n$i"))),
          expr(h) === col(s"c$i"))
      }
        .withColumn("est", expr(
          hashes.map { case (i, _) => s"n$i" }.mkString("least(", ", ", ")")))
      // top-20 FIRST via TakeOrderedAndProject (per-partition heaps, no
      // global sort), THEN rank the <=20 survivors — the r6 verdict's
      // scale fix: the old partition-less rank window sorted the FULL
      // vocab estimate table through one task. Hash-identical: the same
      // total order picks the same 20 rows and the same rn.
      est
        .orderBy(col("est").desc, col("tok").asc).limit(20)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("est").desc, col("tok").asc)))
        .select(col("tok"), col("est"), col("exact"),
          (col("est") - col("exact")).as("overcount"), col("rn"))
        .orderBy("rn")
    },

    "q32_cms_heavy_hitters" -> { (s, d) =>
      // Count-min sketch, oracle-checked like q31's HLL (q18's opaque
      // sketches stay rows-only; this one hash-matches): 4 rows × 256
      // counters with explicit (a·u + b) % P % w universal hashes, point
      // estimate = min over the 4 rows, reported for the top 20 users by
      // estimate with the exact count beside it — the CMS guarantee
      // est >= exact is visible in every output row (overcount column).
      // Shapes: counter build is one map-side-combined groupBy of 4·n
      // (i, col) rows collapsing to <= 1024 counters (broadcast
      // thereafter); estimates touch DISTINCT users only. At 100 TB the
      // counter table is the mergeable state (elementwise +).
      val P = 2147483647L
      val ev = Tables.events(s, d).select(col("user_id"))
      val hashes = CmsRows.zipWithIndex.map { case ((a, b), i) =>
        (i, s"((user_id * ${a}L + ${b}L) % $P) % 256")
      }
      val rowArr = hashes.map { case (i, h) =>
        s"struct(CAST($i AS BIGINT) AS i, $h AS c)"
      }.mkString(", ")
      val counters = ev.select(explode(expr(s"array($rowArr)")).as("rc"))
        .groupBy(col("rc.i").as("i"), col("rc.c").as("c"))
        .agg(count(lit(1)).as("n"))
      val users = ev.groupBy("user_id").agg(count(lit(1)).as("exact"))
      val est = hashes.foldLeft(users) { case (df, (i, h)) =>
        df.join(broadcast(counters.filter(col("i") === i)
          .select(col("c").as(s"c$i"), col("n").as(s"n$i"))),
          expr(h) === col(s"c$i"))
      }
        .withColumn("est", expr(
          hashes.map { case (i, _) => s"n$i" }.mkString("least(", ", ", ")")))
      // top-20 FIRST (TakeOrderedAndProject — per-partition heaps over the
      // distinct-user table), THEN rank the <=20 survivors. The old
      // partition-less rank window moved ALL distinct users through one
      // task — billions of rows at production cardinality (r6 verdict).
      est
        .orderBy(col("est").desc, col("user_id").asc).limit(20)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("est").desc, col("user_id").asc)))
        .select(col("user_id"), col("est"), col("exact"),
          (col("est") - col("exact")).as("overcount"), col("rn"))
        .orderBy("rn")
    },

    "q39_hll_serve" -> { (s, d) =>
      // HLL SERVING split — q36's lifecycle applied to q31's sketch
      // (q31 stays the audited eval twin with the exact-distinct scan):
      // build the 64-register table (the mergeable per-partition state —
      // MAX per register), PERSIST it, and answer the cardinality
      // question from the STORE alone. At 100 TB each ingest window
      // merges its registers into this table and every estimate is a
      // 64-row fold — no events scan at question time (the serving
      // subplan reads only the register parquet). Same register/estimate
      // arithmetic as q31, so the oracle replays build + estimate; the
      // persistence round-trip is the identity the hash proves.
      val path = s"/tmp/graft_stores/hll_${new java.io.File(d).getName}"
      graft.sources.ParquetStore.installOverwrite(Tables.events(s, d)
        .select(expr("(user_id * 2654435761) % 2147483647").as("h1"))
        .select(expr("((h1 ^ (h1 div 65536)) * 40503) % 2147483647").as("h"))
        .select(expr("h % 64").as("reg"), expr("h div 64").as("rest"))
        .select(col("reg"), expr(
          "CASE WHEN rest = 0 THEN 26 ELSE bit_count((rest & -rest) - 1) + 1 END")
          .as("rho"))
        .groupBy("reg").agg(max(col("rho")).as("rho_max")), path)
      hllServe(s, path)
    },

    "q45_bucketed_join_serve" -> { (s, d) =>
      // The pay-once-at-write JOIN STRATEGY under the oracle (r12; the
      // j44 pattern applied to the last spec-only source operator —
      // ParquetStoreSpec proves writeBucketedAt's zero-Exchange plan, this
      // query RUNS the lifecycle): lineitem and orders are written ONCE
      // as co-bucketed narrow projections (16 buckets on the order key,
      // guarded by buildIfStale with content stamps on BOTH source
      // tables), re-attached to each fresh session's catalog by a
      // metadata-only CREATE TABLE, and the priority-revenue rollup is
      // answered from the stores — the fact-fact join reads both sides
      // pre-partitioned (zero Exchange under the sort-merge plan,
      // PlanShapeSpec-asserted on this exact subplan), so the only
      // shuffle left is the 5-row priority rollup. At 100 TB this is
      // the difference between shuffling the fact table per query and
      // never shuffling it again. Revenue is quantized to cents AT
      // WRITE (the narrow store carries exact integers); the oracle
      // replays the same per-row round against the raw tables.
      val sfTag = new java.io.File(d).getName.replace('.', '_')
      val base = s"/tmp/graft_stores/bucketed_$sfTag"
      val (liPath, ordPath) = (s"$base/lineitem", s"$base/orders")
      val (liTab, ordTab) = (s"lineitem_bkt_$sfTag", s"orders_bkt_$sfTag")
      val liDf = Tables.lineitem(s, d).select(col("l_orderkey"),
        cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("disc_price_c"))
      val ordDf = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val want = "bucketed-v1|16|" +
        graft.sources.ParquetStore.sourceStamp(s"$d/lineitem.parquet") + "|" +
        graft.sources.ParquetStore.sourceStamp(s"$d/orders.parquet")
      graft.sources.ParquetStore.buildIfStale(
        s"$base/_marker", want, Seq(liPath, ordPath)) {
        graft.sources.ParquetStore.writeBucketedAt(liDf, liPath, "l_orderkey", 16)
        graft.sources.ParquetStore.writeBucketedAt(ordDf, ordPath, "o_orderkey", 16)
      }
      graft.sources.ParquetStore.registerBucketed(
        s, liTab, liPath, liDf.schema.toDDL, "l_orderkey", 16)
      graft.sources.ParquetStore.registerBucketed(
        s, ordTab, ordPath, ordDf.schema.toDDL, "o_orderkey", 16)
      s.table(liTab)
        .join(s.table(ordTab), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_orderkey")).as("n_orders"),
          count(lit(1)).as("n_items"),
          sum(col("disc_price_c")).as("revenue_c"))
        .orderBy("o_orderpriority")
    },

    "q31_hll_distinct" -> { (s, d) =>
      // HyperLogLog cardinality — with the SKETCH ITSELF oracle-checked,
      // not just rows-only like q18's opaque sketches: the register table
      // (64 registers × max trailing-zero rank) is exact integer state, S
      // = Σ 2^(26−rho_max) is the harmonic sum over a COMMON denominator
      // (2^-rho summed as scaled integers — the order-independent-SUM
      // doctrine applied to a float-free harmonic mean), and est_raw =
      // α·m²·2^26 div S is one integer division. Hash = multiplicative +
      // one xorshift round (a bare multiplicative hash leaves arithmetic-
      // progression structure in the low bits — measured +55% bias; mixed,
      // raw lands within ±15%, the m=64 band). Small-range correction:
      // classic linear counting on empty registers (est_lc, the one
      // shared-formula double ln), selected by the standard raw<=2.5m ∧
      // V>0 rule; exact distinct emitted as the audit column. At 100 TB
      // the register table is the mergeable per-partition state (MAX per
      // register — one tiny shuffle); the estimate is a 64-row fold.
      val hll = Tables.events(s, d)
        .select(expr("(user_id * 2654435761) % 2147483647").as("h1"))
        .select(expr("((h1 ^ (h1 div 65536)) * 40503) % 2147483647").as("h"))
        .select(expr("h % 64").as("reg"), expr("h div 64").as("rest"))
        .select(col("reg"), expr(
          "CASE WHEN rest = 0 THEN 26 ELSE bit_count((rest & -rest) - 1) + 1 END")
          .as("rho"))
        .groupBy("reg").agg(max(col("rho")).as("rho_max"))
      val regs = Tables.events(s, d).sparkSession
        .range(0, 64).toDF("r")
        .join(hll, col("r") === col("reg"), "left")
        .select(expr("coalesce(rho_max, 0)").as("rho_max"))
      val exact = Tables.events(s, d)
        .agg(countDistinct(col("user_id")).as("n_exact"))
      regs.agg(
        expr("CAST(SUM(CAST(power(2, 26 - rho_max) AS BIGINT)) AS BIGINT)").as("ss"),
        expr("CAST(SUM(CASE WHEN rho_max = 0 THEN 1 ELSE 0 END) AS BIGINT)").as("v_empty"))
        .withColumn("est_raw",
          expr("(CAST(709 AS BIGINT) * 4096 * 67108864) div (1000 * ss)"))
        .withColumn("est_lc", expr(
          "CASE WHEN v_empty > 0 THEN CAST(round(64 * ln(64.0 / v_empty)) AS BIGINT) ELSE -1 END"))
        .withColumn("est_used", expr(
          "CASE WHEN est_raw <= 160 AND v_empty > 0 THEN est_lc ELSE est_raw END"))
        .crossJoin(broadcast(exact))
        .select(lit(64L).as("m"), col("ss"), col("v_empty"), col("est_raw"),
          col("est_lc"), col("est_used"), col("n_exact"))
    },

    "q44_hll_intersection" -> { (s, d) =>
      // Sketch SET ALGEBRA — audience overlap via inclusion–exclusion on
      // HLL registers (the sketch-intersection readout every analytics
      // product ships: |A∩B| without ever holding either set): items are
      // user-DAYS (the DAU-overlap metric), set A = days a user
      // purchased, B = days a user signed up. Registers for BOTH sets
      // build in ONE aggregate pass (max-filtered per set), the UNION
      // sketch is the per-register MAX — the same merge property that
      // combines partitions and stream checkpoints — and est_inter =
      // est_a + est_b − est_union. Register state, harmonic sums, and
      // the q31 raw/linear-counting selector are exact integers (the one
      // shared-formula ln as in q31), so the oracle replays all three
      // estimators bit-for-bit; exact distincts ride as audit columns.
      val P = 2147483647L
      def regCols(src: org.apache.spark.sql.DataFrame) = src
        .select(col("t"), expr(s"((k % $P) * 2654435761) % $P").as("h1"))
        .select(col("t"), expr(s"((h1 ^ (h1 div 65536)) * 40503) % $P").as("h"))
        .select(col("t"), expr("h % 64").as("reg"), expr(
          "CASE WHEN h div 64 = 0 THEN 26 " +
            "ELSE bit_count(((h div 64) & -(h div 64)) - 1) + 1 END").as("rho"))
      val items = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "signup"))
        .select(col("event_type").as("t"),
          expr("user_id * 1048576 + unix_timestamp(ts) div 86400").as("k"))
      val regs = regCols(items).groupBy("reg").agg(
        max(when(col("t") === "purchase", col("rho")).otherwise(0L)).as("ra"),
        max(when(col("t") === "signup", col("rho")).otherwise(0L)).as("rb"))
      val full = s.range(0, 64).toDF("r")
        .join(regs, col("r") === col("reg"), "left")
        .select(expr("coalesce(ra, 0)").as("ra"),
          expr("coalesce(rb, 0)").as("rb"))
        .withColumn("ru", greatest(col("ra"), col("rb")))
      val exact = items
        .groupBy("k")
        .agg(max(when(col("t") === "purchase", 1L).otherwise(0L)).as("ia"),
          max(when(col("t") === "signup", 1L).otherwise(0L)).as("ib"))
        .agg(sum(col("ia")).as("n_exact_a"), sum(col("ib")).as("n_exact_b"),
          sum(expr("ia * ib")).as("n_exact_inter"))
      def fold(c: String, ss: String, v: String) = Seq(
        expr(s"CAST(SUM(CAST(power(2, 26 - $c) AS BIGINT)) AS BIGINT)").as(ss),
        expr(s"CAST(SUM(CASE WHEN $c = 0 THEN 1 ELSE 0 END) AS BIGINT)").as(v))
      full.agg(fold("ra", "ss_a", "v_a").head,
          fold("ra", "ss_a", "v_a")(1) +: fold("rb", "ss_b", "v_b") ++:
          fold("ru", "ss_u", "v_u"): _*)
        .withColumn("est_a", expr(hllEstSql("ss_a", "v_a", "div")))
        .withColumn("est_b", expr(hllEstSql("ss_b", "v_b", "div")))
        .withColumn("est_union", expr(hllEstSql("ss_u", "v_u", "div")))
        .withColumn("est_inter", expr("est_a + est_b - est_union"))
        .crossJoin(broadcast(exact))
        .select(lit(64L).as("m"), col("est_a"), col("est_b"),
          col("est_union"), col("est_inter"), col("n_exact_a"),
          col("n_exact_b"), col("n_exact_inter"))
    },

    "q42_cohort_retention" -> { (s, d) =>
      // Cohort retention matrix — the product-analytics classic next to
      // the funnels (q30/q35): users grouped by first-active day, counted
      // on each later active day as an offset from their cohort. Shape:
      // ONE user-keyed exchange total — collect_set(day) per user
      // (map-side set-merge dedups (user, day) in-scan, so shuffle
      // volume = distinct pairs, same as an explicit distinct), cohort
      // = array_min, offsets re-derived by explode AFTER the shuffle.
      // The alternatives cost strictly more: distinct + min-join-back
      // scans events twice (shared scan-rooted subtrees re-execute) and
      // can't broadcast its |users|-row side at 100 TB; distinct + MIN
      // OVER user re-exchanges every pair a second time for the window
      // sort. No join, no window, one data shuffle (plan-asserted). Per-
      // user state is bounded by the day range, not activity volume.
      // Day arithmetic is DATE-typed on both engines (§4: never raw
      // ns/µs timestamps).
      Tables.events(s, d)
        .select(col("user_id"), expr("CAST(ts AS DATE)").as("day"))
        .groupBy("user_id").agg(collect_set(col("day")).as("days"))
        .select(explode(col("days")).as("day"),
          array_min(col("days")).as("cohort_day"))
        .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("long"))
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    },

    "q35_funnel_latency" -> { (s, d) =>
      // Time-to-convert distribution for q30's funnel completers: per
      // user the strict-order anchors (earliest view, first later click,
      // first later purchase), then the view->purchase duration's
      // n/min/max/p50/p90 over completing users — the product-analytics
      // latency readout next to q30's counts. Durations in integer
      // epoch seconds; percentiles follow the q15 ×20 fixed-point BIGINT
      // convention (0.5 = 10/20, 0.9 = 18/20 — exact integers). Same
      // three user-keyed groupBys as q30 + one 1-row fold.
      val ev = Tables.events(s, d)
        .withColumn("ts_s", col("ts").cast("long"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts_s")).as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts_s") > col("t1"))
        .groupBy("user_id").agg(min(col("ts_s")).as("t2"), first(col("t1")).as("t1"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts_s") > col("t2"))
        .groupBy("user_id").agg(min(col("ts_s")).as("t3"), first(col("t1")).as("t1"))
      p.withColumn("dur_s", col("t3") - col("t1"))
        .agg(count(lit(1)).as("n_converted"),
          min(col("dur_s")).as("min_s"),
          max(col("dur_s")).as("max_s"),
          expr("CAST(round(percentile(dur_s, 0.5) * 20) AS BIGINT)").as("p50_s_x20"),
          expr("CAST(round(percentile(dur_s, 0.9) * 20) AS BIGINT)").as("p90_s_x20"))
    },

    "q40_extended_stats" -> { (s, d) =>
      // ANALYZE-style EXTENDED column statistics (t09 profiles single
      // columns; this is the multi-column step a cost-based optimizer
      // and a feature-engineering audit both consume): exact correlation
      // SUFFICIENT STATISTICS (n, Σx, Σy, Σxy, Σx², Σy²) per numeric
      // column pair, from which corr/cov derive offline — emitting the
      // sufficient statistics instead of corr keeps every output an
      // exact BIGINT (no sqrt/doubles), and they MERGE by + (the
      // per-partition/incremental-refresh state). One corpus scan: stack
      // expands each row to its 3 pairs executor-side, one
      // map-side-combined groupBy. Magnitudes: dollar-quantized price
      // (~1e5) keeps Σx² under 2^63 to ~1e8 rows per stats partition —
      // at 100 TB this runs per day-partition and merges, which is also
      // how ANALYZE schedules it.
      val q = Tables.lineitem(s, d).selectExpr(
        "CAST(round(l_quantity) AS BIGINT) AS qty",
        "CAST(round(l_extendedprice) AS BIGINT) AS price_d",
        "CAST(round(l_discount * 100) AS BIGINT) AS disc_e2")
      q.selectExpr(
        "stack(3, 'qty_price', qty, price_d, 'qty_disc', qty, disc_e2, " +
          "'price_disc', price_d, disc_e2) AS (pair, x, y)")
        .groupBy("pair")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
          sum(col("x") * col("y")).as("sum_xy"),
          sum(col("x") * col("x")).as("sum_x2"),
          sum(col("y") * col("y")).as("sum_y2"))
        .orderBy("pair")
    },

    "q29_parts_analysis" -> { (s, d) =>
      // Brand-level revenue over the parts dim (completes coverage of
      // every testdata table). Part is small → broadcast.
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          countDistinct(col("p_partkey")).as("n_parts"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_c"),
          sumCents(col("l_quantity")).as("qty_c"),
          round(avg(col("p_size")), 4).as("avg_size"))
        .orderBy("p_brand")
    },

    "q26_cube" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("day", col("ts").cast("date"))
        .filter(col("user_id") < 3)
        .select(col("event_type"), col("day"), col("value"))
        .createOrReplaceTempView("graft_q26_ev")
      s.sql(
        """SELECT event_type, day, COUNT(*) AS n,
          |  SUM(CAST(round(value * 100) AS BIGINT)) AS value_c
          |FROM graft_q26_ev
          |GROUP BY CUBE (event_type, day)
          |ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""".stripMargin)
    },

    "q25_range_join" -> { (s, d) =>
      // Range join: events binned by value intervals. The bin dim is tiny
      // and broadcast, so the non-equi predicate is map-side — the 100 TB
      // shape for histogram/range-bucket joins (the generic range join
      // would otherwise be a nested-loop blowup).
      val bins = s.range(5).select(
        col("id").as("bin"),
        (col("id") * 100).cast("double").as("lo"),
        ((col("id") + 1) * 100).cast("double").as("hi"))
      Tables.events(s, d)
        .join(broadcast(bins), col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sumCents(col("value")).as("value_c"))
        .orderBy("bin")
    },

    "q15_percentile" -> { (s, d) =>
      // Exact percentiles emitted as ×20 fixed-point BIGINTs (r6 doctrine
      // close): with integer-valued inputs and p ∈ {k/20}, the
      // interpolated percentile is an exact multiple of 1/20 — lo +
      // frac·(hi−lo) with frac = (k(n−1) mod 20)/20 — so value×20 is a
      // mathematical integer and round() collapses both engines' last-ulp
      // differences to the same BIGINT (the integer-cents rule applied to
      // percentiles; a round(·,4) DOUBLE column was the one remaining
      // doctrine deviation).
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("CAST(round(percentile(l_quantity, 0.25) * 20) AS BIGINT)").as("p25_x20"),
          expr("CAST(round(percentile(l_quantity, 0.5) * 20) AS BIGINT)").as("p50_x20"),
          expr("CAST(round(percentile(l_quantity, 0.75) * 20) AS BIGINT)").as("p75_x20"),
          expr("CAST(round(percentile(l_quantity, 0.95) * 20) AS BIGINT)").as("p95_x20"))
        .orderBy("l_returnflag")
    },

    "q43_equidepth_hist" -> { (s, d) =>
      // Equi-depth (decile) histogram over order totals — the
      // optimizer-statistics primitive (Spark CBO and DuckDB both keep
      // equi-height histograms): boundaries b_k = exact
      // percentile(price_c, k/10) emitted ×10 (integers by the q15
      // interpolation argument: frac = (k(n−1) mod 10)/10), each order
      // assigned bucket 1 + #(boundaries strictly below price_c×10) —
      // the comparison is integer-exact, so boundary ties land in the
      // lower bucket in BOTH engines — then per-bucket count/min/max/sum
      // in cents. Plan: ONE exact-percentile aggregate (1 row) broadcast
      // to the fact scan, bucket assignment a codegen'd projection, ONE
      // map-side-combined rollup — no window, no fact sort, two
      // shuffles total regardless of corpus size.
      val o = Tables.orders(s, d)
        .select(cents(col("o_totalprice")).as("price_c"))
      val bounds = o.agg(expr(
        "transform(percentile(price_c, array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, " +
          "0.6D, 0.7D, 0.8D, 0.9D)), x -> CAST(round(x * 10) AS BIGINT))")
        .as("bs10"))
      o.crossJoin(broadcast(bounds))
        .withColumn("bucket",
          expr("CAST(1 + size(filter(bs10, b -> price_c * 10 > b)) AS BIGINT)"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min(col("price_c")).as("min_c"),
          max(col("price_c")).as("max_c"),
          sum(col("price_c")).as("sum_c"))
        .orderBy("bucket")
    },

    "q24_bloom_join" -> { (s, d) =>
      // Explicit Bloom-filter semi-join reduction: build a Bloom filter
      // over the filtered dim's join keys (one aggregate, ~MBs for even
      // 10^8 keys), pre-filter the fact scan with it (a scalar-subquery
      // broadcast — rows are dropped BEFORE the join exchange), then run
      // the exact join; false positives die in the join, so the result is
      // identical to the plain join and the oracle replays that. This is
      // Spark's own runtime-filter machinery (BloomFilterAggregate /
      // BloomFilterMightContain, see graft.plans.GraftFunctions) made a
      // first-class pipeline step: at 100 TB the filter is built once and
      // reused across every fact scan of the day, cutting the shuffled
      // fact volume by the dim's selectivity (~4% here) instead of
      // re-deriving it per query the way AQE's InjectRuntimeFilter does.
      graft.plans.GraftFunctions.register(s)
      Tables.part(s, d).createOrReplaceTempView("graft_q24_part")
      Tables.lineitem(s, d).createOrReplaceTempView("graft_q24_lineitem")
      s.sql(
        """WITH dim AS (SELECT p_partkey, p_brand FROM graft_q24_part
          |  WHERE p_size <= 5),
          |bloom AS (SELECT graft_bloom_agg(p_partkey) AS bf FROM dim),
          |pre AS (SELECT l_partkey, l_extendedprice, l_quantity
          |  FROM graft_q24_lineitem
          |  WHERE graft_might_contain((SELECT bf FROM bloom), l_partkey))
          |SELECT p_brand, COUNT(*) AS n_lines,
          |  SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS base_c,
          |  SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_c
          |FROM pre JOIN dim ON l_partkey = p_partkey
          |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
    })

  val oracle: Map[String, String] = Map(
    // NOTE (round-2 fix): DuckDB SUM(BIGINT) returns HUGEINT (int128) while
    // Spark writes BIGINT; the driver's hash-compare is type-sensitive, so
    // every integer-SUM OUTPUT column is wrapped CAST(SUM(...) AS BIGINT).
    "q42_cohort_retention" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM days
        |  GROUP BY user_id)
        |SELECT cohort_day, date_diff('day', cohort_day, day) AS day_offset,
        |  COUNT(*) AS n_users
        |FROM days JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,

    "q41_mv_refresh" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        |  o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS rev_cents,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    // COUNT(*) AS avg_cents
        |FROM orders
        |GROUP BY 1, 2 ORDER BY mon, o_orderstatus""".stripMargin,

    "q40_extended_stats" ->
      """WITH q AS (SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice) AS BIGINT) AS price_d,
        |    CAST(round(l_discount * 100) AS BIGINT) AS disc_e2
        |  FROM lineitem),
        |pairs AS (
        |  SELECT 'qty_price' AS pair, qty AS x, price_d AS y FROM q
        |  UNION ALL SELECT 'qty_disc' AS pair, qty AS x, disc_e2 AS y FROM q
        |  UNION ALL SELECT 'price_disc' AS pair, price_d AS x, disc_e2 AS y FROM q)
        |SELECT pair, COUNT(*) AS n,
        |  CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(y) AS BIGINT) AS sum_y,
        |  CAST(SUM(x * y) AS BIGINT) AS sum_xy,
        |  CAST(SUM(x * x) AS BIGINT) AS sum_x2,
        |  CAST(SUM(y * y) AS BIGINT) AS sum_y2
        |FROM pairs GROUP BY pair ORDER BY pair""".stripMargin,

    "q34_expectations" ->
      """WITH scan AS (SELECT
        |    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS null_key,
        |    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS qty_range,
        |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS disc_range
        |  FROM lineitem),
        |dup AS (SELECT CAST(coalesce(SUM(n - 1), 0) AS BIGINT) AS dup_lines FROM
        |  (SELECT COUNT(*) AS n FROM lineitem
        |   GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)),
        |orph AS (SELECT CAST(COUNT(*) AS BIGINT) AS orphan_lines FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_orderkey = l.l_orderkey)),
        |m AS (SELECT * FROM scan, dup, orph)
        |SELECT check_name, violations,
        |  CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
        |FROM (
        |  SELECT 'key_not_null' AS check_name, null_key AS violations FROM m
        |  UNION ALL SELECT 'line_key_unique', dup_lines FROM m
        |  UNION ALL SELECT 'quantity_in_range', qty_range FROM m
        |  UNION ALL SELECT 'discount_in_range', disc_range FROM m
        |  UNION ALL SELECT 'orderkey_in_orders', orphan_lines FROM m
        |) ORDER BY check_name""".stripMargin,

    // q37/q38 share one oracle — salting is plan-level, the results are
    // identical by construction (that IS the exactness claim)
    "q37_skew_salted" -> SkewOracle,
    "q38_skew_unsalted" -> SkewOracle,

    "q36_cms_serve" -> {
      val P = 2147483647L
      val hs = CmsRows.zipWithIndex.map { case ((a, b), i) =>
        (i, s"((q.user_id * $a + $b) % $P) % 256")
      }
      val rowSelects = hs.map { case (i, h) =>
        s"SELECT CAST($i AS BIGINT) AS i, ${h.replace("q.user_id", "user_id")} AS c FROM events"
      }.mkString("\n  UNION ALL ")
      val joins = hs.map { case (i, h) =>
        s"LEFT JOIN (SELECT c, n FROM cnt WHERE i = $i) c$i ON c$i.c = $h"
      }.mkString("\n  ")
      s"""WITH cnt AS (SELECT i, c, COUNT(*) AS n FROM (
         |  $rowSelects
         |) GROUP BY i, c),
         |q AS (SELECT unnest(range(0, 24)) AS user_id)
         |SELECT q.user_id,
         |  least(${hs.map { case (i, _) =>
                s"coalesce(c$i.n, CAST(0 AS BIGINT))" }.mkString(", ")}) AS est
         |FROM q
         |  $joins
         |ORDER BY user_id""".stripMargin
    },

    "q33_cms_tokens" -> {
      val P = 2147483647L
      val codeDuck = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))), " +
        s"(a, b) -> (b + 31 * a) % $P)"
      val hs = CmsRows.zipWithIndex.map { case ((a, b), i) =>
        (i, s"((code * $a + $b) % $P) % 256")
      }
      val rowSelects = hs.map { case (i, h) =>
        s"SELECT CAST($i AS BIGINT) AS i, $h AS c FROM toks"
      }.mkString("\n  UNION ALL ")
      val joins = hs.map { case (i, h) =>
        s"JOIN cnt c$i ON c$i.i = $i AND c$i.c = $h"
      }.mkString("\n  ")
      s"""WITH t0 AS (SELECT unnest(string_split(trim(text), ' ')) AS tok
         |  FROM documents),
         |toks AS (SELECT tok, $codeDuck AS code FROM t0),
         |cnt AS (SELECT i, c, COUNT(*) AS n FROM (
         |  $rowSelects
         |) GROUP BY i, c),
         |vocab AS (SELECT tok, code, COUNT(*) AS exact FROM toks
         |  GROUP BY tok, code),
         |est AS (SELECT tok, exact,
         |    least(${hs.map { case (i, _) => s"c$i.n" }.mkString(", ")}) AS est
         |  FROM vocab
         |  $joins),
         |ranked AS (SELECT *, row_number() OVER (
         |    ORDER BY est DESC, tok ASC) AS rn FROM est)
         |SELECT tok, est, exact, est - exact AS overcount, rn
         |FROM ranked WHERE rn <= 20 ORDER BY rn""".stripMargin
    },

    "q32_cms_heavy_hitters" -> {
      val P = 2147483647L
      val hs = CmsRows.zipWithIndex.map { case ((a, b), i) =>
        (i, s"((user_id * $a + $b) % $P) % 256")
      }
      val rowSelects = hs.map { case (i, h) =>
        s"SELECT CAST($i AS BIGINT) AS i, $h AS c FROM events"
      }.mkString("\n  UNION ALL ")
      val joins = hs.map { case (i, h) =>
        s"JOIN cnt c$i ON c$i.i = $i AND c$i.c = $h"
      }.mkString("\n  ")
      s"""WITH cnt AS (SELECT i, c, COUNT(*) AS n FROM (
         |  $rowSelects
         |) GROUP BY i, c),
         |users AS (SELECT user_id, COUNT(*) AS exact FROM events GROUP BY user_id),
         |est AS (SELECT user_id, exact,
         |    least(${hs.map { case (i, _) => s"c$i.n" }.mkString(", ")}) AS est
         |  FROM users
         |  $joins),
         |ranked AS (SELECT *, row_number() OVER (
         |    ORDER BY est DESC, user_id ASC) AS rn FROM est)
         |SELECT user_id, est, exact, est - exact AS overcount, rn
         |FROM ranked WHERE rn <= 20 ORDER BY rn""".stripMargin
    },

    "q39_hll_serve" ->
      """WITH h0 AS (SELECT (user_id * 2654435761) % 2147483647 AS h1 FROM events),
        |h AS (SELECT (xor(h1, h1 // 65536) * 40503) % 2147483647 AS h FROM h0),
        |rr AS (SELECT h % 64 AS reg, h // 64 AS rest FROM h),
        |rho AS (SELECT reg, CASE WHEN rest = 0 THEN 26
        |    ELSE bit_count((rest & -rest) - 1) + 1 END AS rho FROM rr),
        |mx AS (SELECT reg, MAX(rho) AS rho_max FROM rho GROUP BY reg),
        |full_regs AS (SELECT coalesce(rho_max, 0) AS rho_max
        |  FROM (SELECT unnest(range(0, 64)) AS r) LEFT JOIN mx ON mx.reg = r),
        |s AS (SELECT
        |    CAST(SUM(CAST(power(2, 26 - rho_max) AS BIGINT)) AS BIGINT) AS ss,
        |    CAST(SUM(CASE WHEN rho_max = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
        |  FROM full_regs),
        |est AS (SELECT ss, v_empty,
        |    (CAST(709 AS BIGINT) * 4096 * 67108864) // (1000 * ss) AS est_raw,
        |    CASE WHEN v_empty > 0
        |      THEN CAST(round(64 * ln(64.0 / v_empty)) AS BIGINT) ELSE -1 END AS est_lc
        |  FROM s)
        |SELECT CAST(64 AS BIGINT) AS m, ss, v_empty, est_raw, est_lc,
        |  CASE WHEN est_raw <= 160 AND v_empty > 0 THEN est_lc ELSE est_raw END
        |    AS est_used
        |FROM est""".stripMargin,

    "q45_bucketed_join_serve" ->
      """SELECT o_orderpriority,
        |  COUNT(DISTINCT o_orderkey) AS n_orders,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q31_hll_distinct" ->
      """WITH h0 AS (SELECT (user_id * 2654435761) % 2147483647 AS h1 FROM events),
        |h AS (SELECT (xor(h1, h1 // 65536) * 40503) % 2147483647 AS h FROM h0),
        |rr AS (SELECT h % 64 AS reg, h // 64 AS rest FROM h),
        |rho AS (SELECT reg, CASE WHEN rest = 0 THEN 26
        |    ELSE bit_count((rest & -rest) - 1) + 1 END AS rho FROM rr),
        |mx AS (SELECT reg, MAX(rho) AS rho_max FROM rho GROUP BY reg),
        |full_regs AS (SELECT coalesce(rho_max, 0) AS rho_max
        |  FROM (SELECT unnest(range(0, 64)) AS r) LEFT JOIN mx ON mx.reg = r),
        |s AS (SELECT
        |    CAST(SUM(CAST(power(2, 26 - rho_max) AS BIGINT)) AS BIGINT) AS ss,
        |    CAST(SUM(CASE WHEN rho_max = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
        |  FROM full_regs),
        |est AS (SELECT ss, v_empty,
        |    (CAST(709 AS BIGINT) * 4096 * 67108864) // (1000 * ss) AS est_raw,
        |    CASE WHEN v_empty > 0
        |      THEN CAST(round(64 * ln(64.0 / v_empty)) AS BIGINT) ELSE -1 END AS est_lc
        |  FROM s)
        |SELECT CAST(64 AS BIGINT) AS m, ss, v_empty, est_raw, est_lc,
        |  CASE WHEN est_raw <= 160 AND v_empty > 0 THEN est_lc ELSE est_raw END
        |    AS est_used,
        |  (SELECT COUNT(DISTINCT user_id) FROM events) AS n_exact
        |FROM est""".stripMargin,

    "q44_hll_intersection" ->
      s"""WITH items AS (SELECT event_type AS t,
        |    user_id * 1048576 + CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS k
        |  FROM events WHERE event_type IN ('purchase', 'signup')),
        |h0 AS (SELECT t, ((k % 2147483647) * 2654435761) % 2147483647 AS h1
        |  FROM items),
        |h AS (SELECT t, (xor(h1, h1 // 65536) * 40503) % 2147483647 AS h
        |  FROM h0),
        |rho AS (SELECT t, h % 64 AS reg, CASE WHEN h // 64 = 0 THEN 26
        |    ELSE bit_count(((h // 64) & -(h // 64)) - 1) + 1 END AS rho FROM h),
        |mx AS (SELECT reg,
        |    MAX(CASE WHEN t = 'purchase' THEN rho ELSE 0 END) AS ra,
        |    MAX(CASE WHEN t = 'signup' THEN rho ELSE 0 END) AS rb
        |  FROM rho GROUP BY reg),
        |full_regs AS (SELECT coalesce(ra, 0) AS ra, coalesce(rb, 0) AS rb,
        |    greatest(coalesce(ra, 0), coalesce(rb, 0)) AS ru
        |  FROM (SELECT unnest(range(0, 64)) AS r) LEFT JOIN mx ON mx.reg = r),
        |s AS (SELECT
        |    CAST(SUM(CAST(power(2, 26 - ra) AS BIGINT)) AS BIGINT) AS ss_a,
        |    CAST(SUM(CASE WHEN ra = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_a,
        |    CAST(SUM(CAST(power(2, 26 - rb) AS BIGINT)) AS BIGINT) AS ss_b,
        |    CAST(SUM(CASE WHEN rb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_b,
        |    CAST(SUM(CAST(power(2, 26 - ru) AS BIGINT)) AS BIGINT) AS ss_u,
        |    CAST(SUM(CASE WHEN ru = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_u
        |  FROM full_regs),
        |est AS (SELECT ${hllEstSql("ss_a", "v_a", "//")} AS est_a,
        |    ${hllEstSql("ss_b", "v_b", "//")} AS est_b,
        |    ${hllEstSql("ss_u", "v_u", "//")} AS est_union
        |  FROM s),
        |ex AS (SELECT CAST(SUM(ia) AS BIGINT) AS n_exact_a,
        |    CAST(SUM(ib) AS BIGINT) AS n_exact_b,
        |    CAST(SUM(ia * ib) AS BIGINT) AS n_exact_inter
        |  FROM (SELECT k,
        |      MAX(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS ia,
        |      MAX(CASE WHEN t = 'signup' THEN 1 ELSE 0 END) AS ib
        |    FROM items GROUP BY k))
        |SELECT CAST(64 AS BIGINT) AS m, est_a, est_b, est_union,
        |  est_a + est_b - est_union AS est_inter,
        |  n_exact_a, n_exact_b, n_exact_inter
        |FROM est, ex""".stripMargin,

    "q35_funnel_latency" ->
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
        |v AS (SELECT user_id, MIN(ts_s) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(ts_s) AS t2, MIN(t1) AS t1
        |  FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND ts_s > t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(ts_s) AS t3, MIN(t1) AS t1
        |  FROM e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND ts_s > t2 GROUP BY e.user_id),
        |durs AS (SELECT t3 - t1 AS dur_s FROM p)
        |SELECT COUNT(*) AS n_converted,
        |  MIN(dur_s) AS min_s, MAX(dur_s) AS max_s,
        |  CAST(round(quantile_cont(dur_s, 0.5) * 20) AS BIGINT) AS p50_s_x20,
        |  CAST(round(quantile_cont(dur_s, 0.9) * 20) AS BIGINT) AS p90_s_x20
        |FROM durs""".stripMargin,

    "q30_funnel" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(ts) AS t2 FROM events e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(ts) AS t3 FROM events e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS stage, COUNT(*) AS n_users FROM v
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click', COUNT(*) FROM c
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase', COUNT(*) FROM p
        |ORDER BY step""".stripMargin,

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_c,
        |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
        |  CAST(round(l_extendedprice * l_discount * 100) AS BIGINT) AS disc_revenue_c
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_join_agg" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q04_exists_semijoin" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q05_topk" ->
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_c
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY spend_c DESC, c_custkey ASC LIMIT 10""".stripMargin,

    "q06_window_rank" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c, rnk
        |FROM (SELECT *, rank() OVER (PARTITION BY o_custkey
        |                             ORDER BY o_totalprice DESC) AS rnk
        |      FROM orders)
        |WHERE rnk <= 2 ORDER BY o_custkey, rnk, o_orderkey""".stripMargin,

    "q07_distinct_agg" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q08_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,

    "q09_conditional_agg" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c,
        |  CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q10_time_bucket" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c
        |FROM events GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,

    "q11_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_c
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "q12_union_dedup" ->
      """SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT o_custkey AS key FROM orders WHERE o_totalprice > 400000
        |ORDER BY key""".stripMargin,

    "q13_json_extract" ->
      """SELECT event_type, CAST(SUM(k) AS BIGINT) AS sum_k, MAX(k) AS max_k, COUNT(*) AS n
        |FROM (SELECT event_type, CAST(props ->> '$.k' AS BIGINT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q16_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q17_moving_window" ->
      """SELECT user_id, event_id, sec,
        |  CAST(SUM(vc) OVER w AS BIGINT) AS mv_sum_c, COUNT(*) OVER w AS mv_n
        |FROM (SELECT user_id, event_id,
        |        CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |        CAST(round(value * 100) AS BIGINT) AS vc
        |      FROM events WHERE user_id < 5)
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, sec, event_id""".stripMargin,

    "q19_correlated_subquery" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |FROM orders o
        |WHERE CAST(round(o_totalprice * 100) AS BIGINT) >
        |      1.5 * (SELECT AVG(CAST(round(o2.o_totalprice * 100) AS BIGINT))
        |             FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q20_grouping_sets" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_c
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (n_name), ())
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,

    "q21_full_outer" ->
      """SELECT COALESCE(c.nk, s.nk) AS nationkey, n_cust, n_supp
        |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
        |      FROM customer GROUP BY c_nationkey) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
        |                 FROM supplier GROUP BY s_nationkey) s
        |  ON c.nk = s.nk
        |ORDER BY nationkey NULLS FIRST""".stripMargin,

    "q22_pivot" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (event_type = 'click') AS click,
        |  COUNT(*) FILTER (event_type = 'error') AS error,
        |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q23_except" ->
      """SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT o_custkey AS key FROM orders WHERE o_totalprice > 300000
        |ORDER BY key""".stripMargin,

    "q28_json_map" ->
      """SELECT key, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.' || key) AS BIGINT)) AS BIGINT) AS sum_v,
        |  MAX(CAST(json_extract_string(props, '$.' || key) AS BIGINT)) AS max_v
        |FROM (SELECT props, unnest(json_keys(props)) AS key FROM events)
        |GROUP BY key ORDER BY key""".stripMargin,

    "q29_parts_analysis" ->
      """SELECT p_brand, COUNT(DISTINCT p_partkey) AS n_parts,
        |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c,
        |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c,
        |  round(AVG(p_size), 4) AS avg_size
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q26_cube" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c
        |FROM events WHERE user_id < 3
        |GROUP BY CUBE (event_type, CAST(ts AS DATE))
        |ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""".stripMargin,

    "q25_range_join" ->
      """SELECT bin, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c
        |FROM events
        |JOIN (SELECT i AS bin, i * 100.0 AS lo, (i + 1) * 100.0 AS hi
        |      FROM range(5) t(i)) bins
        |  ON value >= lo AND value < hi
        |GROUP BY bin ORDER BY bin""".stripMargin,

    // q18's verdicts are CONSTANT 1 here by design: the oracle replays
    // the exact twins, and Spark's side computes the verdicts from its
    // native sketches — an estimate outside the tolerance band flips a
    // verdict to 0 and fails the hash (the q31 estimate-beside-exact
    // pattern applied to engine-native sketches).
    "q18_approx_stats" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts_exact,
        |  CAST(round(quantile_cont(l_quantity, 0.5) * 2) AS BIGINT) AS median_x2,
        |  CAST(1 AS BIGINT) AS parts_ok,
        |  CAST(1 AS BIGINT) AS median_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q15_percentile" ->
      """SELECT l_returnflag,
        |  CAST(round(quantile_cont(l_quantity, 0.25) * 20) AS BIGINT) AS p25_x20,
        |  CAST(round(quantile_cont(l_quantity, 0.5) * 20) AS BIGINT) AS p50_x20,
        |  CAST(round(quantile_cont(l_quantity, 0.75) * 20) AS BIGINT) AS p75_x20,
        |  CAST(round(quantile_cont(l_quantity, 0.95) * 20) AS BIGINT) AS p95_x20
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q43_equidepth_hist" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |    FROM orders),
        |bs AS (SELECT list_transform(
        |    quantile_cont(price_c, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        |    x -> CAST(round(x * 10) AS BIGINT)) AS bs10 FROM o),
        |asg AS (SELECT price_c,
        |    CAST(1 + len(list_filter(bs10, b -> price_c * 10 > b)) AS BIGINT)
        |      AS bucket
        |  FROM o, bs)
        |SELECT bucket, COUNT(*) AS n, MIN(price_c) AS min_c,
        |  MAX(price_c) AS max_c, CAST(SUM(price_c) AS BIGINT) AS sum_c
        |FROM asg GROUP BY bucket ORDER BY bucket""".stripMargin,

    // the Bloom pre-filter only drops rows the join would drop anyway, so
    // the oracle is the plain join — that IS the exactness claim
    "q24_bloom_join" ->
      """SELECT p_brand, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS base_c,
        |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 5
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
}
