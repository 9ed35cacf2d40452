package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.functions.GeoFunctions
import graft.operators.{AsOfJoin, Dedup, FdsnQuery, Multimodal, SimilaritySearch}

class FdsnWildcardSpec extends SparkSpec {
  test("FDSN wildcards translate to LIKE with escaping") {
    assert(FdsnQuery.fdsnWildcardToLike("BH*") == "BH%")
    assert(FdsnQuery.fdsnWildcardToLike("B?Z") == "B_Z")
    assert(FdsnQuery.fdsnWildcardToLike("a%b_c") == "a\\%b\\_c")
    assert(FdsnQuery.fdsnWildcardToLike("*?") == "%_")
  }

  test("matchesFdsn filters like the FDSN station service") {
    import spark.implicits._
    val df = Seq("BHZ", "BHN", "LHZ", "BDF").toDF("ch")
    val got = df.filter(FdsnQuery.matchesFdsn($"ch", "BH?")).as[String].collect().sorted
    assert(got.toSeq == Seq("BHN", "BHZ"))
  }
}

class GeoFunctionsSpec extends SparkSpec {
  test("haversine matches a known great-circle distance") {
    import spark.implicits._
    // Paris (48.8566, 2.3522) to London (51.5074, -0.1278) ~ 343.5 km
    val d = Seq((48.8566, 2.3522, 51.5074, -0.1278)).toDF("a", "b", "c", "e")
      .select(GeoFunctions.haversineKm(col("a"), col("b"), col("c"), col("e")))
      .as[Double].head()
    assert(math.abs(d - 343.5) < 1.0, s"got $d")
  }

  test("ray-cast polygon agrees with half-plane test on a convex square") {
    import spark.implicits._
    val square = Seq((0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0))
    val pts = Seq((5.0, 5.0), (15.0, 5.0), (-1.0, -1.0), (9.9, 0.1), (5.0, 10.5))
      .toDF("latitude", "longitude")
    val ray = pts.filter(expr(GeoFunctions.rayCastSql("latitude", "longitude")(square)))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(ray == Set((5.0, 5.0), (9.9, 0.1)))
  }

  test("ray-cast handles a non-convex polygon (L-shape notch)") {
    import spark.implicits._
    // L-shape: big square minus top-right quadrant
    val ell = Seq((0.0, 0.0), (0.0, 10.0), (5.0, 10.0), (5.0, 5.0),
      (10.0, 5.0), (10.0, 0.0))
    val pts = Seq((2.0, 8.0), (8.0, 8.0), (8.0, 2.0)).toDF("latitude", "longitude")
    val inside = pts.filter(expr(GeoFunctions.rayCastSql("latitude", "longitude")(ell)))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    // (8,8) is in the notch — a convex test could not exclude it
    assert(inside == Set((2.0, 8.0), (8.0, 2.0)))
  }
}

class AsOfJoinSpec extends SparkSpec {
  test("leftAsOf picks the latest right row at or before each left ts") {
    import spark.implicits._
    val left = Seq((1L, "k", 100L), (2L, "k", 205L), (3L, "k", 50L), (4L, "z", 10L))
      .toDF("id", "key", "ts")
    val right = Seq(("k", 90L, 900L), ("k", 100L, 901L), ("k", 200L, 902L))
      .toDF("key", "ts", "rid")
    val got = AsOfJoin.leftAsOf(left, right, "key", "ts", Map("rid" -> "rid"))
      .select("id", "rid").as[(Long, Option[Long])].collect().toMap
    assert(got == Map(
      1L -> Some(901L), // ts=100: equal-ts right row included
      2L -> Some(902L), // ts=205: latest prior is 200
      3L -> None,       // ts=50: nothing before
      4L -> None))      // key with no right rows
  }

  test("leftAsOf carries a deterministic payload on duplicate (key, ts) right rows") {
    import spark.implicits._
    val left = Seq((1L, "k", 100L)).toDF("id", "key", "ts")
    // three right rows at the same (key, ts): max payload tuple must win,
    // independent of input order or partitioning
    val right = Seq(("k", 100L, 7L), ("k", 100L, 42L), ("k", 100L, 13L))
      .toDF("key", "ts", "rid")
    (1 to 3).foreach { n =>
      val got = AsOfJoin.leftAsOf(left, right.repartition(n), "key", "ts",
        Map("rid" -> "rid")).select("rid").as[Long].head()
      assert(got == 42L, s"nondeterministic carry with $n partitions: $got")
    }
  }
}

class DedupSpec extends SparkSpec {
  test("winnowing guarantees a shared fingerprint for any shared span >= 20 chars") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 51-char shared span at different offsets in different contexts
    val shared = "this exact span is shared across both documents ok"
    val df = Seq(
      (1L, "leading words before it " + shared + " trailing bits"),
      (2L, "unrelated opener text that differs entirely " + shared),
      (3L, "zero overlap content made of nothing previously used")
    ).toDF("doc_id", "text")
    val fps = graft.queries.TextQueries.winnowFps(df)
      .as[(Long, Long)].collect().groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    // the winnowing theorem: shared span length 51 >= w + k - 1 = 20
    assert((fps(1L) intersect fps(2L)).nonEmpty,
      "docs sharing a 51-char span must share a winnowing fingerprint")
    assert((fps(1L) intersect fps(3L)).isEmpty &&
      (fps(2L) intersect fps(3L)).isEmpty,
      "docs with no common 13-gram must share no fingerprint")
  }

  test("winnowing rejects documents beyond the position-packing capacity") {
    // the packed key (h*c + c-1-pos) assumes pos < c = 2^20; a longer
    // document must fail loudly, not silently corrupt rightmost-argmin
    // selection (round-5 advice item)
    import spark.implicits._
    val big = Seq((1L, "x" * ((1 << 20) + 20))).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      graft.queries.TextQueries.winnowFps(big).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("position-packing")),
      s"expected the capacity guard, got: $ex")
  }

  test("fused winnowing codegen is bit-equal to the declarative window form") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val fused = graft.queries.TextQueries.winnowFps(docs)
      .as[(Long, Long)].collect().toSet
    val decl = graft.queries.TextQueries.winnowFpsDeclarative(docs)
      .as[(Long, Long)].collect().toSet
    assert(fused.nonEmpty && fused == decl)
  }

  test("randomized: fused winnowing equals declarative on arbitrary ASCII docs") {
    import spark.implicits._
    // seeded PRNG -> reproducible "arbitrary" corpus: lengths straddle the
    // n=13 / n+w-1=20 edge cases, alphabet includes repeats to force hash
    // ties (the rightmost-argmin tie-break path)
    val rnd = new scala.util.Random(20260812L)
    val alpha = "abcde fgh"
    val docs = (1L to 200L).map { i =>
      val len = rnd.nextInt(260) // includes < 13 and < 20 lengths
      (i, Seq.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString)
    }.toDF("doc_id", "text")
    val fused = graft.queries.TextQueries.winnowFps(docs)
      .as[(Long, Long)].collect().toSet
    val decl = graft.queries.TextQueries.winnowFpsDeclarative(docs)
      .as[(Long, Long)].collect().toSet
    assert(fused == decl)
    assert(fused.nonEmpty)
  }

  test("positional winnowing (graft_winnow13p) is bit-equal to its declarative twin") {
    import spark.implicits._
    // t37's confirm bound rests on the SELECTION POSITIONS the fused
    // expression recovers from the packed minkey — assert them against
    // the windowed declarative form on the corpus AND on a randomized
    // tie-heavy corpus, and that dropping gpos reproduces winnowFps;
    // on the randomized corpus also check each row's confirm slice s
    val rnd = new scala.util.Random(20260813L)
    val alpha = "abcde fgh"
    val randRows = (1L to 200L).map { i =>
      val len = rnd.nextInt(260)
      (i, Seq.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString)
    }
    val rand = randRows.toDF("doc_id", "text")
    for (docs <- Seq(Tables.documents(spark, sfDir).select("doc_id", "text"), rand)) {
      val fused = graft.queries.TextQueries.winnowFpsPosS(docs)
        .select("doc_id", "fp", "gpos")
        .as[(Long, Long, Long)].collect().toSet
      val decl = graft.queries.TextQueries.winnowFpsPosDeclarative(docs)
        .as[(Long, Long, Long)].collect().toSet
      assert(fused.nonEmpty && fused == decl)
      val fpOnly = graft.queries.TextQueries.winnowFps(docs)
        .as[(Long, Long)].collect().toSet
      assert(fused.map(t => (t._1, t._2)) == fpOnly,
        "positional selection must project onto the fp-only selection")
    }
    val text = randRows.toMap
    val slices = graft.queries.TextQueries.winnowFpsPosS(rand)
      .select("doc_id", "gpos", "s").as[(Long, Long, String)].collect()
    assert(slices.nonEmpty)
    slices.foreach { case (id, gpos, sl) =>
      val t = text(id)
      val want = t.substring(math.max(gpos - 8, 0L).toInt,
        math.min(gpos + 19, t.length.toLong).toInt)
      assert(sl == want, s"doc $id gpos $gpos: slice '$sl' != '$want'")
    }
  }

  test("randomized: the winnowing theorem holds for planted shared spans") {
    import spark.implicits._
    val rnd = new scala.util.Random(42L)
    val alpha = "abcdefghij klmnop"
    def txt(len: Int) = Seq.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString
    // 50 pairs, each sharing a planted span of exactly w + k - 1 = 20
    // chars (the theorem's minimum) at random offsets
    val rows = (0 until 50).flatMap { p =>
      val span = txt(20)
      Seq((2L * p, txt(rnd.nextInt(80)) + span + txt(rnd.nextInt(80))),
        (2L * p + 1, txt(rnd.nextInt(80)) + span + txt(rnd.nextInt(80))))
    }
    val fps = graft.queries.TextQueries.winnowFps(rows.toDF("doc_id", "text"))
      .as[(Long, Long)].collect().groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    (0 until 50).foreach { p =>
      assert((fps(2L * p) intersect fps(2L * p + 1)).nonEmpty,
        s"pair $p: a planted 20-char shared span must share a fingerprint")
    }
  }

  test("minhash signatures are deterministic and text-sensitive") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown fox jumps"),
      (3L, "a completely different doc here")).toDF("doc_id", "text")
    val sig = Dedup.minHashSignatures(df, k = 16).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sig(1L) == sig(2L), "identical texts must collide on every perm")
    assert(sig(1L) != sig(3L), "different texts must differ somewhere")
  }

  test("LSH pairs find identical docs") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely unrelated content with other words entirely")).toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairs(df, k = 16, bands = 2)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("exact dedup keeps min id with dup_count") {
    import spark.implicits._
    val df = Seq((5L, "b a"), (9L, "a b"), (7L, "c")).toDF("doc_id", "text")
    val got = Dedup.exact(df).as[(Long, Long)].collect().toSet
    assert(got == Set((5L, 2L), (7L, 1L))) // "b a" ≡ "a b" bag-of-words
  }

  test("components closes chains and stars to min-id labels") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), star 10-{11,12,13}, pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (10L, 13L), (20L, 21L)).toDF("a", "b")
    val got = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert((1L to 4L).forall(got(_) == 1L), s"chain not closed: $got")
    assert((10L to 13L).forall(got(_) == 10L))
    assert(got(20L) == 20L && got(21L) == 20L)
    assert(got.size == 10)
  }

  test("span removal equals a brute-force all-pairs replay on planted spans") {
    import spark.implicits._
    // independent Scala oracle for t37: mark every position p in doc b
    // whose 20-gram occurs in ANY lower-id doc, cut the union of
    // [p, p+19] intervals. Equivalent to the fp-evidenced operator by
    // the winnowing window theorem: a shared 20-gram's window of WinW
    // grams selects a COMMON fp at the same relative offset in both
    // docs, so (1) the pair is a candidate and (2) the position-bounded
    // confirm (p in [gpos-WinW, gpos-1] behind that fp's selection
    // position) tests exactly this p — as long as no fp hits the df cap
    // (distinct fillers keep df tiny here).
    val rnd = new scala.util.Random(20260813L)
    val alpha = "abcdefghijklmnopqrstuvwxyz 0123456789"
    def txt(len: Int) = Seq.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString
    val s20 = txt(20) // theorem-minimum span
    val s50 = txt(50) // long span
    val sT = txt(30) // triple-shared span: middle doc keeps AND loses
    val sMid = txt(25) // span shared by 11/12 only, absent from 10
    val full = txt(40) // doc 31 is ENTIRELY this span -> text_clean ''
    val rows = Seq(
      1L -> (txt(30) + s20 + txt(30)),
      2L -> (txt(25) + s20 + txt(40)),
      3L -> (s50 + txt(35)),
      4L -> (txt(15) + s50), // overlapping marks: s50 spans 31 positions
      10L -> (txt(20) + sT + txt(20)),
      11L -> (sT + txt(10) + sMid),
      12L -> (sMid + txt(22) + sT),
      30L -> (txt(12) + full + txt(12)),
      31L -> full, // fully covered survivor -> empty text_clean
      40L -> txt(90) // untouched -> absent from output
    )
    val got = graft.queries.TextQueries.spanRemoval(rows.toDF("doc_id", "text"))
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val want = rows.flatMap { case (b, tb) =>
      val lowGrams = rows.filter(_._1 < b).flatMap { case (_, ta) =>
        (0 to ta.length - 20).map(p => ta.substring(p, p + 20))
      }.toSet
      val covered = Array.fill(tb.length)(false)
      (0 to tb.length - 20)
        .filter(p => lowGrams.contains(tb.substring(p, p + 20)))
        .foreach(p => (p until p + 20).foreach(covered(_) = true))
      val clean = tb.indices.collect { case i if !covered(i) => tb(i) }.mkString
      if (clean.length == tb.length) None
      else Some(b -> (((tb.length - clean.length).toLong, clean)))
    }.toMap
    assert(got == want)
    assert(got(31L)._2 == "" && got.contains(11L) && got.contains(12L) &&
      !got.contains(1L) && !got.contains(40L),
      "planted shapes: full cover, chain middle, keeper-lowest")
    // survivor property: no >=20-char span is shared across the cleaned
    // corpus (keep-lowest => doc a's surviving grams were cut from b)
    val cleaned = rows.map { case (id, t) => id -> got.get(id).fold(t)(_._2) }
    for ((a, ta) <- cleaned; (b, tb) <- cleaned if a < b) {
      val ga = (0 to ta.length - 20).map(p => ta.substring(p, p + 20)).toSet
      val shared = (0 to tb.length - 20)
        .exists(p => ga.contains(tb.substring(p, p + 20)))
      assert(!shared, s"cleaned pair ($a,$b) still shares a 20-gram")
    }
  }

  test("span removal is idempotent: a second pass removes nothing") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val first = graft.queries.TextQueries.spanRemoval(docs)
    assert(first.count() > 0, "sf corpus must contain >=20-char overlaps")
    val cleanedCorpus = docs.join(
        first.select(col("doc_id"), col("text_clean")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text_clean"), col("text")).as("text"))
      .localCheckpoint()
    val second = graft.queries.TextQueries.spanRemoval(cleanedCorpus)
    assert(second.count() == 0,
      "second pass over the cleaned corpus must mark nothing")
  }

  test("jaccard verify: bucketed sort-merge path equals the broadcast path") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    def run(bc: Boolean) = Dedup.jaccardPairs(docs, 0.8, broadcastVerify = bc)
      .select("a", "b", "inter").as[(Long, Long, Long)].collect().toSet
    val bcast = run(true)
    val merged = run(false)
    assert(bcast.nonEmpty && merged == bcast)
    // and the non-broadcast path really plans shuffle joins for the verify
    val plan = Dedup.jaccardPairs(docs, 0.8, broadcastVerify = false)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      "broadcastVerify=false must plan a sort-merge verify join")
  }
}

class SimilaritySpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def vecs: DataFrame = {
    import spark.implicits._
    // query 0 is axis-aligned; cand 10 equals it, cand 11 is orthogonal
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (10L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (11L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (12L, Array(0.9f, 0.1f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
      .withColumn("q", expr(SimilaritySearch.quantizeSql("embedding")))
      .select(col("vec_id"), col("q"))
  }

  test("brute-force top-k ranks by exact integer dot product") {
    import spark.implicits._
    val got = SimilaritySearch.bruteForceTopK(
      vecs.filter(col("vec_id") < 10), vecs.filter(col("vec_id") >= 10), k = 2)
      .select("query_id", "cand_id", "rn").as[(Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 10L, 1L), (0L, 12L, 2L)))
  }

  test("lsh top-k only scores same-bucket candidates") {
    val got = SimilaritySearch.lshTopK(
      vecs.filter(col("vec_id") < 10), vecs.filter(col("vec_id") >= 10),
      k = 3, planes = 4, dims = 4)
      .select("cand_id").collect().map(_.getLong(0)).toSet
    assert(got.contains(10L), "identical vector shares every hyperplane sign")
  }
}

class SimilarityRecallSpec extends SparkSpec {
  test("d08 bucketed near-dup is an exact-threshold subset with measured recall") {
    import spark.implicits._
    import graft.operators.SimilaritySearch._
    graft.plans.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("q", expr(quantizeSql("embedding")))
      .select(col("vec_id"), col("q"))
    val norms = e.withColumn("nq", expr(dotSql("q", "q")))
    // ground truth: ALL pairs at the same exact integer threshold
    val truth = norms.as("x").join(norms.as("y"), col("x.vec_id") < col("y.vec_id"))
      .withColumn("dot", expr(dotSql("x.q", "y.q")))
      .filter(col("dot") > 0 &&
        lit(25L) * col("dot") * col("dot") >= lit(4L) * col("x.nq") * col("y.nq"))
      .select(col("x.vec_id"), col("y.vec_id")).as[(Long, Long)].collect().toSet
    val got = SparkEntry.queries("d08_embed_neardup")(spark, sfDir)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(truth),
      "every bucketed pair must satisfy the exact threshold predicate")
    assert(truth.nonEmpty && got.nonEmpty)
    val recall = got.size.toDouble / truth.size
    info(f"d08 LSH recall vs all-pairs: ${got.size}/${truth.size} = $recall%.2f")
    assert(recall >= 0.5, f"recall $recall%.2f below documented floor")
  }

  test("d19 SQ8 top-k recall vs exact brute force, bounded winner error") {
    import spark.implicits._
    val exact = SparkEntry.queries("d05_embed_cosine_topk")(spark, sfDir)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val sq8 = SparkEntry.queries("d19_sq8_ann")(spark, sfDir)
    val rows = sq8.select(col("query_id"), col("cand_id"), col("adot"),
      col("dot_exact")).as[(Long, Long, Long, Long)].collect()
    val got = rows.map(r => (r._1, r._2)).toSet
    assert(exact.nonEmpty && got.size == exact.size)
    val recall = got.intersect(exact).size.toDouble / exact.size
    info(f"d19 SQ8 recall@3 vs exact top-k: $recall%.2f")
    assert(recall >= 0.8, f"SQ8 recall $recall%.2f below documented floor")
    // winner scores must sit within 2% of the exact dot (8-bit fidelity)
    val maxErrBp = rows.map { case (_, _, adot, ex) =>
      math.abs(adot - ex) * 10000 / math.max(math.abs(ex), 1L)
    }.max
    info(s"d19 SQ8 max winner score error: $maxErrBp bp")
    assert(maxErrBp <= 200L, s"SQ8 winner error $maxErrBp bp above 2% bound")
  }

  test("d20 PQ-ADC top-k recall vs exact brute force; scores bounded by exact range") {
    import spark.implicits._
    val exact = SparkEntry.queries("d05_embed_cosine_topk")(spark, sfDir)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val pq = SparkEntry.queries("d20_pq_ann")(spark, sfDir)
    val rows = pq.select(col("query_id"), col("cand_id"), col("dot_exact"),
      col("rn")).as[(Long, Long, Long, Long)].collect()
    val got = rows.map(r => (r._1, r._2)).toSet
    assert(exact.nonEmpty && got.size == exact.size)
    val recall = got.intersect(exact).size.toDouble / exact.size
    info(f"d20 PQ recall@3 vs exact top-k: $recall%.2f")
    // a 40-bit PQ code on a near-orthogonal corpus is the hard regime
    // (same reason d08's LSH floor is low here); the refine stage is what
    // keeps the winners honest — production raises PqPreM, not the code
    // rate, to buy recall
    assert(recall >= 0.3, f"PQ recall $recall%.2f below documented floor")
    // rn must be exactly the (dot_exact desc, cand_id asc) refine rank
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val expected = rs.sortBy(r => (-r._3, r._2)).map(_._2).toSeq
      val byRn = rs.sortBy(_._4).map(_._2).toSeq
      assert(byRn == expected, s"query $q: rn order $byRn != refine order $expected")
    }
  }
}

class PipelineInvariantSpec extends SparkSpec {
  test("d24 funnel is monotone: raw >= exact survivors >= near-dup survivors > 0") {
    import spark.implicits._
    val f = SparkEntry.queries("d24_dedup_funnel")(spark, sfDir)
      .select("step", "n_docs").as[(Long, Long)].collect().toMap
    assert(f(1L) >= f(2L) && f(2L) >= f(3L) && f(3L) > 0, s"funnel $f")
  }

  test("q31/q32/q33 sketch guarantees hold on the corpus") {
    import spark.implicits._
    // HLL: the selected estimator is within the documented band of exact
    val h = SparkEntry.queries("q31_hll_distinct")(spark, sfDir)
      .select("est_used", "n_exact").as[(Long, Long)].head()
    assert(math.abs(h._1 - h._2) * 100 <= 35 * h._2,
      s"HLL est ${h._1} vs exact ${h._2} outside 35% band")
    // CMS: est >= exact for every reported key (the structural guarantee)
    for (name <- Seq("q32_cms_heavy_hitters", "q33_cms_tokens")) {
      val over = SparkEntry.queries(name)(spark, sfDir)
        .select("overcount").as[Long].collect()
      assert(over.nonEmpty && over.forall(_ >= 0L),
        s"$name: CMS must never under-count")
    }
  }

  test("t38 perceptron learns: all-misclassified at zero init, beats it by 2x trained") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).count()
    val traj = SparkEntry.queries("t38_classifier_train")(spark, sfDir)
      .select("epoch", "n_mis").as[(Long, Long)].collect().sortBy(_._1)
    assert(traj.length == graft.queries.TextQueries.TrainEpochs)
    assert(traj.head._2 == docs,
      "epoch 1 enters with zero weights: y*0 <= 0 misclassifies every doc")
    assert(traj.last._2 * 2 < docs,
      s"trained model must halve the zero-model error: ${traj.toSeq}")
    // t36 serves the SAME final weights the trajectory ends at: its keep
    // verdict must match sign(w_T · x) recomputed from the features
    val t36 = SparkEntry.queries("t36_quality_classifier")(spark, sfDir)
    assert(t36.filter("(logit >= 0) <> keep").count() == 0)
    assert(t36.filter("keep").count() > 0, "non-degenerate verdict split")
  }

  test("d30 tuning curve is monotone in nprobe (recall and cost)") {
    import spark.implicits._
    val c = SparkEntry.queries("d30_nprobe_sweep")(spark, sfDir)
      .select("nprobe", "total_cands", "mean_recall_e4")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(c.length == 4)
    assert(c.sliding(2).forall { case Array(a, b) =>
      b._2 >= a._2 && b._3 >= a._3 },
      s"more probes must not reduce candidates or recall: ${c.toSeq}")
  }
}

class PlanShapeSpec extends SparkSpec {
  test("d23 retrieval join broadcasts the winner set, never shuffles documents") {
    val plan = SparkEntry.queries("d23_retrieval_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the winner set must broadcast against the documents scan")
    assert(!plan.contains("SortMergeJoin"),
      "the documents table must not be shuffled for a NQueries*K winner join")
  }

  test("d21 hard-negative label filter is applied before the ranking shuffle") {
    // the label-mismatch predicate must sit under the heap/exchange, i.e.
    // appear as a join condition or filter in the scan-side subtree, not
    // as a post-ranking filter
    val df = SparkEntry.queries("d21_hard_negatives")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("NOT (label"), s"label filter missing from plan")
    import spark.implicits._
    // and no returned negative carries the query's own label
    val rows = df.select("query_id", "neg_label").as[(Long, Int)].collect()
    val own = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    assert(rows.nonEmpty && rows.forall { case (q, l) => own(q) != l })
  }

  test("m11 probes broadcast; documents resolve via broadcast, never shuffled") {
    // the d05 probe shape + d23 serving join, composed: the only joins
    // are the broadcast probe scan and the broadcast winner resolution —
    // nothing shuffles the corpus
    val plan = SparkEntry.queries("m11_caption_pairs")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the winner set must broadcast against the documents scan")
    assert(!plan.contains("SortMergeJoin"),
      "no corpus table may shuffle in the pair-mining plan")
  }

  test("d27 arms rank via map-side heaps, never corpus-wide window sorts") {
    // round-5 verdict item: RRF must fuse per-arm top-N candidate lists.
    // Both the lexical and semantic arm go through TopK.perKey, whose
    // phase-1 heap (a MapPartitions stage) bounds what reaches any
    // exchange to ~N rows per (query, partition); the only Window nodes
    // operate on that residue. The plan must carry both heap stages.
    val plan = SparkEntry.queries("d27_hybrid_rrf")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val nHeap = "MapPartitions".r.findAllMatchIn(plan).size
    assert(nHeap >= 2, s"expected both arms' heap stages in:\n$plan")
  }

  test("d35 semantic arm serves from the persisted IVF stores — no training in the serving plan") {
    // the serving twin's claim: the semantic arm reads the codebook +
    // postings stores; embeddings.parquet appears exactly ONCE (the
    // query rows) — a corpus argmin or Lloyd retrain would need a second
    // scan, and the training hash-sample filter (% 100) must not appear
    val plan = SparkEntry.queries("d35_hybrid_rrf_served")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("rrfivf\\d*_cb_".r.findFirstIn(plan).nonEmpty,
      s"must scan the codebook store:\n$plan")
    assert("rrfivf\\d*_post_".r.findFirstIn(plan).nonEmpty,
      s"must scan the postings store:\n$plan")
    assert("embeddings\\.parquet".r.findAllMatchIn(plan).size == 1,
      s"embeddings must be scanned exactly once (the queries):\n$plan")
    assert(!plan.contains("% 100"),
      s"training sample filter leaked into the serving plan:\n$plan")
  }

  test("q42 cohort matrix is one scan and one user-keyed shuffle — no join, no window") {
    // the cohort join-back and the MIN-OVER-user window both cost a
    // second pass over the distinct (user, day) pairs (or a second
    // events scan); the collect_set form does it in one data exchange
    val q42 = SparkEntry.queries("q42_cohort_retention")(spark, sfDir)
    val plan = q42.queryExecution.executedPlan.toString
    assert("events\\.parquet".r.findAllMatchIn(plan).size == 1,
      s"events must be scanned exactly once:\n$plan")
    assert(!plan.contains("Join"), s"no join may appear in:\n$plan")
    assert(!plan.contains("Window"), s"no window may appear in:\n$plan")
    assert(q42.count() > 0)
  }

  test("q36 CMS serving plan reads only the persisted counter store") {
    // the serving split's claim: point estimates come from the stored
    // ≤1024-row counter table with NO events scan anywhere in the plan
    val path = s"/tmp/graft_stores/cms_spec_${System.nanoTime()}"
    graft.queries.RelationalQueries.cmsCounterTable(spark, sfDir)
      .write.mode("overwrite").parquet(path)
    val serve = graft.queries.RelationalQueries.cmsServe(
      spark, path, spark.range(0, 24).toDF("user_id"))
    val plan = serve.queryExecution.executedPlan.toString
    assert(plan.contains(path), s"serving must scan the store:\n$plan")
    assert(!plan.contains("events.parquet"),
      s"serving must not scan the raw events table:\n$plan")
    // and estimates are never below zero + present for every lookup
    assert(serve.count() == 24)
  }

  test("t36 serving plan scores from the weight store — no training, no aggregate") {
    // the classifier serving split's claim: once weights are trained and
    // installed, scoring is a broadcast-1-row pure projection over the
    // feature table — no perceptron epochs, no aggregate, and the corpus
    // parquet is not rescanned (features come from the checkpointed table)
    import org.apache.spark.sql.functions.col
    val path = s"/tmp/graft_stores/t36w_spec_${System.nanoTime()}"
    val feat = graft.queries.TextQueries
      .classifierFeatures(Tables.documents(spark, sfDir)).localCheckpoint()
    graft.queries.TextQueries.trainPerceptron(feat)
      .filter(col("epoch") === graft.queries.TextQueries.TrainEpochs.toLong)
      .select("w_stop", "w_short", "w_mlen", "w_bias")
      .write.mode("overwrite").parquet(path)
    val serve = graft.queries.TextQueries
      .serveClassifier(feat, spark.read.parquet(path))
    val plan = serve.queryExecution.executedPlan.toString
    assert(plan.contains(path), s"serving must scan the weight store:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"serving is a pure projection — no aggregate:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"serving must not rescan the corpus:\n$plan")
    assert(serve.count() == feat.count(), "one verdict per document")
  }

  test("q41 MV refresh reads the store plus the pushed-filter delta, never history") {
    // incremental-view maintenance's claim: refresh cost is
    // O(store + delta) — the plan scans the persisted MV exactly once,
    // scans orders exactly once (the delta slice, with the date filter
    // pushed to parquet), and the merged result equals full recompute.
    import org.apache.spark.sql.functions.{col, expr, lit}
    val path = s"/tmp/graft_stores/mv_spec_${System.nanoTime()}"
    val orders = Tables.orders(spark, sfDir)
    graft.queries.RelationalQueries.mvPartials(
        orders.filter(col("o_orderdate") < lit("2001-01-15")))
      .write.mode("overwrite").parquet(path)
    val refresh = graft.queries.RelationalQueries.mvRefresh(spark, path,
      orders.filter(col("o_orderdate") >= lit("2001-01-15")))
    val plan = refresh.queryExecution.executedPlan.toString
    assert(plan.contains(path), s"refresh must scan the MV store:\n$plan")
    assert("orders\\.parquet".r.findAllMatchIn(plan).size == 1,
      s"refresh must scan orders exactly once (the delta):\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("o_orderdate"),
      s"the delta date filter must reach the parquet scan:\n$plan")
    val full = graft.queries.RelationalQueries.mvPartials(orders)
      .withColumn("avg_cents", expr("rev_cents div n_orders"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("mon", "o_orderstatus").collect().toSeq
    assert(rows(refresh) == rows(full))
  }

  test("q39/d31 serving plans read only their persisted stores") {
    // the serving-split family's claim, spec-backed for the other two
    // stores (q36's counter spec above; IvfIndex in KMeansSpec): HLL
    // estimates come from the stored registers with no events scan, and
    // incremental-dedup candidates from the stored bands + batch docs
    // with no corpus re-signaturing
    import org.apache.spark.sql.functions.col
    val hllPath = s"/tmp/graft_stores/hll_spec_${System.nanoTime()}"
    Tables.events(spark, sfDir)
      .select(expr("(user_id * 2654435761) % 2147483647").as("h1"))
      .select(expr("((h1 ^ (h1 div 65536)) * 40503) % 2147483647").as("h"))
      .select(expr("h % 64").as("reg"), expr("h div 64").as("rest"))
      .select(col("reg"), expr(
        "CASE WHEN rest = 0 THEN 26 ELSE bit_count((rest & -rest) - 1) + 1 END")
        .as("rho"))
      .groupBy("reg").agg(org.apache.spark.sql.functions.max(col("rho")).as("rho_max"))
      .write.mode("overwrite").parquet(hllPath)
    val hllServe = graft.queries.RelationalQueries.hllServe(spark, hllPath)
    val hllPlan = hllServe.queryExecution.executedPlan.toString
    assert(hllPlan.contains(hllPath) && !hllPlan.contains("events.parquet"),
      s"HLL serving must read only the register store:\n$hllPlan")
    assert(hllServe.count() == 1)

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val bandPath = s"/tmp/graft_stores/bands_spec_${System.nanoTime()}"
    graft.operators.Dedup.bandSignatures(docs.filter(col("doc_id") % 10 =!= 7), 16, 2)
      .select(col("doc_id").as("dup_of"), col("band"), col("sig"))
      .write.mode("overwrite").parquet(bandPath)
    val serve = graft.queries.DedupQueries.bandServe(
      spark, bandPath, docs.filter(col("doc_id") % 10 === 7))
    val plan = serve.queryExecution.executedPlan.toString
    assert(plan.contains(bandPath),
      s"band serving must scan the store:\n$plan")
    // exactly ONE documents scan (the batch side) — the corpus is never
    // re-signatured at serve time
    val nDocScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet"))
    assert(nDocScans == 1, s"expected 1 documents scan, got $nDocScans:\n$plan")
  }

  test("no registered query emits float/double output columns " +
    "(SURVEY §4 quantization discipline), except the declared geo columns") {
    // Double outputs are the hash-compare flake class (ulp drift between
    // engines): every aggregate/derived numeric must leave the query as
    // an integer (cents / e-n quantization). Whitelist: raw lat/lon/depth
    // index attributes passed through UNAGGREGATED (exactly-representable
    // x.5-degree literals, §4-audited in round 3) and d07's declared
    // rows-only float vector.
    val allowedCols = Set("latitude", "longitude", "depth", "elat", "elon")
    // grandfathered round(·,n) double outputs, §4-audited in rounds 1–5
    // and hash-stable across every driver compare since. New queries
    // must NOT join this list — use integer quantization (see CLAUDE.md).
    val legacy = Map(
      "d02_ngram_jaccard" -> Set("j4"),
      "d08_embed_neardup" -> Set("cos2_4"),
      "j02_geo_radius" -> Set("dist_km2"),
      "j13_nearest_events" -> Set("dist_km2"),
      "q29_parts_analysis" -> Set("avg_size"),
      "t02_quality_score" -> Set("quality"),
      "t11_tfidf" -> Set("tfidf4"))
    val allowedQueries = Set("d07_embed_cosine_f32")
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allowedQueries.contains)
      .flatMap { name =>
        val bad = SparkEntry.queries(name)(spark, sfDir).schema.fields
          .filter(f => f.dataType == DoubleType || f.dataType == FloatType)
          .map(_.name).filterNot(allowedCols.contains)
          .filterNot(legacy.getOrElse(name, Set.empty).contains)
        if (bad.isEmpty) None else Some(s"$name: ${bad.mkString(", ")}")
      }
    assert(offenders.isEmpty,
      s"float/double output columns in:\n${offenders.mkString("\n")}")
  }

  test("no registered query ranks via a partition-less window over unbounded input") {
    // the r6 verdict's scale-killer class: row_number().over(Window.orderBy)
    // with no partitionBy moves its ENTIRE input through one task. Sweep
    // every registered query: a partition-less logical Window must sit on a
    // bounded subtree — one that contains a Limit (the
    // take-top-k-then-rank idiom collapses to TakeOrderedAndProject) or
    // reads no table at all. t30's window is the documented exception: it
    // sits on the checkpointed 64-row per-shard aggregate (its own spec
    // asserts that shape, which this sweep can't see through the
    // checkpoint's LogicalRDD leaf).
    import org.apache.spark.sql.catalyst.plans.logical.{
      Window => LWindow, GlobalLimit, LocalLimit}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    val exceptions = Set("t30_weighted_sample")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(exceptions.contains)
      .flatMap { name =>
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.optimizedPlan
        val bad = plan.collect {
          case w: LWindow if w.partitionSpec.isEmpty &&
            w.child.collectFirst {
              case _: GlobalLimit => (); case _: LocalLimit => () }.isEmpty &&
            w.child.collectFirst {
              case r: LogicalRelation => r
              case r: LogicalRDD => r }.nonEmpty => w
        }
        if (bad.isEmpty) None else Some(s"$name: ${bad.head.simpleString(3)}")
      }
    assert(offenders.isEmpty,
      s"partition-less windows over unbounded input in:\n${offenders.mkString("\n")}")
  }

  test("no registered query windows over a raw scan keyed only by O(1)-cardinality columns") {
    // the r8 verdict's second scale-killer class (t13/m14 pre-r10): a
    // window PARTITION BY a corpus-constant key — the testdata's
    // low-cardinality attributes are source (4 values), modality (4),
    // lang (4), event_type (5) — over a raw table scan streams the whole
    // corpus through O(1) tasks at any SF. The syntactic twin of the
    // partition-less sweep above: flag logical Windows whose partition
    // spec references ONLY those attributes while the child subtree still
    // reads a LogicalRelation (a raw scan — aggregates-to-small that were
    // checkpointed surface as LogicalRDD leaves and pass). PrefixSum's
    // two-phase sharded running sum is the sanctioned replacement
    // (PrefixSumSpec asserts its windows always carry the shard key).
    // s06 is the documented exception: its event_type window sits on the
    // s01 five-minute-bucket aggregate — rows scale with the time span,
    // not the corpus, and the rate-anomaly lag needs the full per-type
    // bucket series in order.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val lowCard = Set("source", "modality", "lang", "event_type")
    val exceptions = Set("s06_rate_anomaly")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(exceptions.contains)
      .flatMap { name =>
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.optimizedPlan
        val bad = plan.collect {
          case w: LWindow if w.partitionSpec.nonEmpty && {
            val refs = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
            refs.nonEmpty && refs.subsetOf(lowCard)
          } && w.child.collectFirst {
            case r: LogicalRelation => r }.nonEmpty => w
        }
        if (bad.isEmpty) None else Some(s"$name: ${bad.head.simpleString(3)}")
      }
    assert(offenders.isEmpty,
      s"O(1)-cardinality window keys over raw scans in:\n${offenders.mkString("\n")}")
  }

  test("r8 additions plan as bounded equi-joins — no nested-loop scans " +
    "outside broadcast-small-side") {
    // j40's space-time join must ride the (day, cell) equi-keys (the j31
    // lesson: a BNLJ here enumerates mainshocks x events); t39's pair
    // join rides tok; s07's attribution join rides user_id with the
    // interval as a residual filter.
    for (name <- Seq("j40_declustering", "s07_attribution")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name: cartesian product in plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name: nested-loop join in plan")
    }
    // t39's dense |V| x S grid is BUILT by a declared broadcast cross
    // (totals x broadcast(vocab) — the sanctioned small-side expansion);
    // the PAIR join itself must still ride the tok equi-key
    val t39 = SparkEntry.queries("t39_domain_divergence")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!t39.contains("CartesianProduct"), "t39: unhinted cartesian")
    assert(t39.contains("SortMergeJoin") || t39.contains("BroadcastHashJoin"),
      "t39: pair join must be an equi-join")
    // d36's serving-side scoring join is keyed by the IVF list id; its
    // only cartesian is the broadcast-1-row ndocs pattern (none here)
    val d36 = SparkEntry.queries("d36_ivfpq_ann")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!d36.contains("CartesianProduct"), "d36: cartesian in serving plan")
  }

  test("q31/q32 sketch builds are single-scan map-side aggregations") {
    for (name <- Seq("q31_hll_distinct", "q32_cms_heavy_hitters")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("HashAggregate"), s"$name: must hash-aggregate")
      assert(!plan.contains("CartesianProduct"),
        s"$name: no cartesian may appear outside broadcast-1-row joins")
    }
  }
}

class BloomFilterFunctionsSpec extends SparkSpec {
  test("bloom pre-filter keeps every true key and prunes most others") {
    graft.plans.GraftFunctions.register(spark)
    import spark.implicits._
    (0L until 1000L).toDF("k").createOrReplaceTempView("graft_bloom_all")
    val kept = spark.sql(
      """WITH bf AS (SELECT graft_bloom_agg(k) AS bf FROM graft_bloom_all
        |            WHERE k % 10 = 0)
        |SELECT k FROM graft_bloom_all
        |WHERE graft_might_contain((SELECT bf FROM bf), k)""".stripMargin)
      .as[Long].collect().toSet
    // Bloom guarantee: false positives possible, false negatives never —
    // that asymmetry is exactly why q24's join-after-filter stays exact
    assert((0L until 1000L by 10).forall(kept.contains), "no false negatives")
    assert(kept.size < 500, s"filter should prune most non-members, kept ${kept.size}")
  }
}

class MultimodalSpec extends SparkSpec {
  test("binary payload plumbing produces typed metadata per row") {
    import spark.implicits._
    val docs = Seq((1L, "abc"), (2L, "x" * 600)).toDF("doc_id", "text")
    val meta = Multimodal.extractMeta(spark, Multimodal.withPayload(docs))
      .collect().map(m => m.doc_id -> m).toMap
    assert(meta(1L).byte_len == 3L && meta(1L).width == 64 + 3 && meta(1L).frames == 1 + 3 % 24)
    assert(meta(2L).byte_len == 600L && meta(2L).width == 64 + 600 % 512)
  }

  test("thumbnail planning preserves aspect ratio and never upscales") {
    import spark.implicits._
    // widths/heights via decodeStub: n=100 -> 164x252 (portrait),
    // n=10 -> 74x134 (fits after... 134 > 128 so scales), n=1 -> 65x71 (fits)
    val docs = Seq((1L, "x" * 100), (2L, "y" * 10), (3L, "z")).toDF("doc_id", "text")
    val t = graft.operators.Multimodal
      .planThumbnails(spark, graft.operators.Multimodal.withPayload(docs), box = 128L)
      .collect().map(x => x.doc_id -> x).toMap
    val p = t(1L) // 164x252 portrait: height pinned to 128
    assert(p.thumb_h == 128L && p.thumb_w == p.width * 128L / p.height)
    assert(p.thumb_w <= 128L && p.thumb_bytes == p.thumb_w * p.thumb_h * 3)
    val q = t(2L) // 74x134: still taller than the box -> scaled
    assert(q.thumb_h == 128L && q.thumb_w == q.width * 128L / q.height)
    val r = t(3L) // 65x71 fits: unchanged (no upscale)
    assert(r.thumb_w == r.width && r.thumb_h == r.height)
  }

  test("audio windows tile the payload with exact hop/extent arithmetic") {
    import spark.implicits._
    // 200 bytes, win=100 hop=40 -> (200-100)/40+1 = 3 windows at 0/40/80
    val docs = Seq((1L, "ab" * 100), (2L, "z" * 99)).toDF("doc_id", "text")
    val w = Multimodal.audioWindows(spark, Multimodal.withPayload(docs),
      win = 100, hop = 40).collect()
    assert(w.forall(_.doc_id == 1L), "sub-window doc must emit no rows")
    assert(w.map(_.start).sorted.toSeq == Seq(0L, 40L, 80L))
    // energy: 100 samples alternating 'a'(97)/'b'(98) around bias 64
    val expected = (0 until 100).map { i =>
      val c = (if (i % 2 == 0) 'a' else 'b').toLong - 64; c * c
    }.sum
    assert(w.forall(x => x.energy == expected && x.peak == 'b'.toLong))
  }

  test("m08 banded pHash near-dup equals brute-force Hamming scan (lossless by pigeonhole)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01" // sf0.001 yields zero qualifying pairs
    val got = SparkEntry.queries("m08_phash_neardup")(spark, dir)
      .select("a", "b", "hamming").as[(Long, Long, Long)].collect().toSet
    val p = Multimodal.pHashes(spark,
      Multimodal.withPayload(Tables.documents(spark, dir)), 32).toDF()
    val brute = p.as("x").join(p.as("y"), col("x.doc_id") < col("y.doc_id"))
      .withColumn("hamming", expr("CAST(bit_count(x.phash ^ y.phash) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select(col("x.doc_id"), col("y.doc_id"), col("hamming"))
      .as[(Long, Long, Long)].collect().toSet
    assert(brute.nonEmpty, "corpus must contain qualifying near-dup payloads")
    assert(got == brute,
      "4x8-bit banding must be lossless at Hamming <= 3 (3 flips can't touch 4 bands)")
  }

  test("pHash is stable on identical payloads, local under edits, far on reordered bytes") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 20
    val docs = Seq((1L, base), (2L, base), (3L, "X" + base.substring(1)),
      (4L, base.reverse)).toDF("doc_id", "text")
    val h = Multimodal.pHashes(spark, Multimodal.withPayload(docs), 32)
      .collect().map(x => x.doc_id -> x.phash).toMap
    assert(h(1L) == h(2L), "identical payloads must hash identically")
    assert(java.lang.Long.bitCount(h(1L) ^ h(3L)) <= 3,
      "a one-byte edit must stay inside the near-dup threshold")
    assert(java.lang.Long.bitCount(h(1L) ^ h(4L)) >= 4,
      "byte-reordered content must fall outside the threshold")
  }

  test("frame sampling expands rows on executors with exact byte extents") {
    import spark.implicits._
    val docs = Seq((1L, "x" * 240)).toDF("doc_id", "text") // 240 bytes, 1+240%24=1+0=1? no: 240%24=0 -> 1 frame
    val one = Multimodal.sampleFrames(spark, Multimodal.withPayload(docs), stride = 5).collect()
    assert(one.map(_.frame_id).toSeq == Seq(0L) && one.head.frame_len == 240L)
    val docs2 = Seq((2L, "ab" * 121)).toDF("doc_id", "text") // 242 bytes -> 3 frames, stride samples frame 0
    val s2 = Multimodal.sampleFrames(spark, Multimodal.withPayload(docs2), stride = 2).collect()
      .sortBy(_.frame_id)
    assert(s2.map(_.frame_id).toSeq == Seq(0L, 2L)) // frames {0,1,2}, stride 2
    // frame extents tile the payload: starts/lens are the floor-division grid
    assert(s2(0).frame_start == 0L && s2(0).frame_len == 242L / 3)
    assert(s2(1).frame_start == 2 * 242L / 3 && s2(1).frame_len == 242L - 2 * 242L / 3)
    // feature = byte sum of the slice mod 997
    assert(s2(0).feature == (0 until (242 / 3)).map(i => if (i % 2 == 0) 'a' else 'b').map(_.toLong).sum % 997)
  }
}

class BpeSpec extends SparkSpec {
  import org.apache.spark.sql.functions.expr

  /** Reference greedy leftmost non-overlapping merge — the semantics BPE
    * training applies at every iteration (Sennrich 2016). */
  private def refMerge(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  private def foldMerge(cases: Seq[(Seq[String], String, String)]): Seq[Seq[String]] = {
    import spark.implicits._
    cases.zipWithIndex
      .map { case ((syms, l, r), i) => (i.toLong, syms, l, r) }
      .toDF("i", "syms", "lhs", "rhs")
      .withColumn("merged", expr(graft.queries.TextQueries.bpeMergeSpark))
      .orderBy("i")
      .select("merged").as[Seq[String]].collect().toSeq
  }

  test("BPE merge fold equals the greedy reference on crafted edge cases") {
    val cases: Seq[(Seq[String], String, String)] = Seq(
      (Seq("a", "a", "a", "a"), "a", "a"),        // run: non-overlap -> [aa, aa]
      (Seq("a", "a", "a"), "a", "a"),             // odd run -> [aa, a]
      (Seq("a", "b", "a", "b"), "a", "b"),        // repeat pattern -> [ab, ab]
      (Seq("a"), "a", "a"),                       // single symbol, no pair
      (Seq("ab", "ab", "c"), "ab", "c"),          // multi-char lhs
      (Seq("x", "ab", "c", "y"), "ab", "c"),      // interior merge
      (Seq("a", "b"), "b", "a"),                  // no match
      (Seq("aa", "a", "a"), "a", "a")             // prior-merge symbol inert
    )
    val got = foldMerge(cases)
    cases.zip(got).foreach { case ((syms, l, r), m) =>
      assert(m == refMerge(syms, l, r),
        s"fold diverges from greedy reference on ($syms, $l, $r): $m")
    }
  }

  test("randomized: BPE merge fold equals the greedy reference") {
    val rnd = new scala.util.Random(41)
    val alphabet = Seq("a", "b", "ab", "ba", "aa")
    val cases = (0 until 300).map { _ =>
      val syms = Seq.fill(1 + rnd.nextInt(10))(alphabet(rnd.nextInt(alphabet.size)))
      (syms, alphabet(rnd.nextInt(alphabet.size)), alphabet(rnd.nextInt(alphabet.size)))
    }
    val got = foldMerge(cases)
    cases.zip(got).foreach { case ((syms, l, r), m) =>
      assert(m == refMerge(syms, l, r),
        s"fold diverges from greedy reference on ($syms, $l, $r): $m")
    }
  }

  test("persisted BPE merges encode from the store, equal to inline training") {
    // the serving-split family (IvfIndex / q36 / q39 / d31) applied to
    // the tokenizer: train once, persist the merge table, encode reading
    // ONLY the stored merges — result-identical to the inline-trained
    // t32 vocab, and the serving plan scans the store
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, sum}
    val path = s"/tmp/graft_stores/bpe_spec_${System.nanoTime()}"
    val q = graft.queries.TextQueries.queries
    q("t29_bpe_merges")(spark, sfDir).write.mode("overwrite").parquet(path)
    val enc = graft.queries.TextQueries.bpeApply(
      spark.read.parquet(path),
      graft.queries.TextQueries.bpeWords(spark, sfDir), 6)
    val got = enc.select(col("cnt"), explode(col("syms")).as("symbol"))
      .groupBy("symbol").agg(sum(col("cnt")).as("c"))
      .as[(String, Long)].collect().toMap
    val want = q("t32_bpe_vocab")(spark, sfDir)
      .select("symbol", "corpus_count").as[(String, Long)].collect().toMap
    assert(got == want, "store-served encoding must equal inline training")
    assert(enc.queryExecution.executedPlan.toString.contains(path),
      "the serving plan must scan the persisted merge table")
  }

  test("t32 vocab conserves corpus characters and carries merged symbols") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, sum}
    val vocab = graft.queries.TextQueries.queries("t32_bpe_vocab")(spark, sfDir)
      .select("symbol", "sym_len", "corpus_count")
      .as[(String, Long, Long)].collect()
    // merging never creates or destroys characters: sym_len-weighted
    // counts must equal the corpus's total token characters
    val totalChars = graft.Tables.documents(spark, sfDir)
      .select(expr("aggregate(split(trim(text), ' '), 0L, (a, t) -> a + length(t))")
        .as("n")).agg(sum("n")).as[Long].head()
    assert(vocab.map(v => v._2 * v._3).sum == totalChars)
    // the learned merges actually show up in the encoded stream
    assert(vocab.exists(v => v._1.length > 1 && v._3 > 0))
    vocab.foreach { case (sym, len, _) => assert(len == sym.length) }
  }

  test("t29 merges are valid: positive counts, vocabulary grows, pairs were adjacent") {
    val df = graft.queries.TextQueries.queries("t29_bpe_merges")(spark, sfDir)
      .collect()
    assert(df.length == 6)
    val seen = scala.collection.mutable.Set[String]()
    df.sortBy(_.getLong(0)).foreach { row =>
      val (l, r, n) = (row.getString(1), row.getString(2), row.getLong(3))
      assert(n > 0, "merge must have positive corpus support")
      val merged = l + r
      assert(!seen.contains(merged), s"merge $merged learned twice")
      seen += merged
      // each side is either a base character or a previously learned merge
      assert(l.length == 1 || seen.contains(l) || df.exists(p =>
        p.getLong(0) < row.getLong(0) && p.getString(1) + p.getString(2) == l),
        s"lhs $l is neither a char nor a learned symbol")
      assert(r.length == 1 || df.exists(p =>
        p.getLong(0) < row.getLong(0) && p.getString(1) + p.getString(2) == r),
        s"rhs $r is neither a char nor a learned symbol")
    }
  }
}

class SamplingSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("t30 partition-less windows operate only on O(shards) aggregates") {
    // the distributed-prefix-sum claim: the corpus-sized running total is
    // shard-partitioned; any global-order (single-partition) window in
    // the plan sits on the 64-row per-shard totals, never on the corpus
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val plan = SparkEntry.queries("t30_weighted_sample")(spark, sfDir)
      .queryExecution.optimizedPlan
    val globals = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(globals.nonEmpty, "expected the 64-row offsets window")
    globals.foreach { w =>
      // its input is the checkpointed per-shard aggregate (a LogicalRDD
      // leaf), never a file scan of the corpus
      assert(w.child.collectFirst { case r: LogicalRelation => r }.isEmpty,
        s"a partition-less window must sit on the shard aggregate, got:\n$w")
    }
    assert(plan.collect {
      case w: LWindow if w.partitionSpec.nonEmpty => w }.nonEmpty,
      "the corpus running total must be shard-partitioned")
  }

  test("t30 systematic sampling: exact tick accounting, heavy docs always drawn") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
    val totalW = docs.agg(sum("n_chars")).as[Long].head()
    val step = totalW / 50
    val sel = SparkEntry.queries("t30_weighted_sample")(spark, sfDir)
      .select("doc_id", "w", "n_ticks").as[(Long, Long, Long)].collect()
    // ticks partition into the docs' weight intervals: every tick lands once
    assert(sel.map(_._3).sum == totalW / step)
    // an interval wider than the step must contain a tick: heavy docs are
    // deterministically drawn — the property quality-weighted mixing needs
    val heavy = docs.filter(col("n_chars") > step)
      .select("doc_id").as[Long].collect().toSet
    assert(heavy.subsetOf(sel.map(_._1).toSet))
  }

  test("t31 repeat factors move the epoch mix toward the uniform target") {
    import spark.implicits._
    val out = SparkEntry.queries("t31_repeat_factor")(spark, sfDir)
      .select("lang", "n_docs", "n_epoch").as[(String, Long, Long)].collect()
    val raw = graft.Tables.documents(spark, sfDir).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val rawTot = raw.values.sum.toDouble
    val epochTot = out.map(_._3).sum.toDouble
    val nl = out.length.toDouble
    def dev(shares: Seq[Double]) = shares.map(s => math.abs(s - 1.0 / nl)).max
    val rawDev = dev(out.map(o => raw(o._1) / rawTot))
    val epochDev = dev(out.map(o => o._3 / epochTot))
    assert(epochDev < rawDev,
      s"epoch mix must be closer to uniform: $epochDev vs raw $rawDev")
  }
}
