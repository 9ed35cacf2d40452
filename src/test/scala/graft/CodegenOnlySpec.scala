package graft

import org.apache.spark.sql.functions._

import graft.plans.GraftFunctions

/** Forces CODEGEN_ONLY evaluation so a broken doGenCode cannot hide
  * behind silent interpreted fallback.
  */
class CodegenOnlySpec extends SparkSpec {

  test("every graft expression evaluates under CODEGEN_ONLY") {
    GraftFunctions.register(spark)
    withCodegenOnly {
      import spark.implicits._
      val r = Seq(("the quick brown fox the lazy dog jumps over it",
        Array(1.0f, 2.0f), Array(1L, 2L, 5L), Array(2L, 5L, 9L)))
        .toDF("text", "fv", "la", "lb")
        .selectExpr(
          "graft_fingerprint(text) AS fp",
          "graft_minhash16(text) AS mh",
          "graft_dot_f32(fv, fv) AS d32",
          "graft_dot_i64(la, lb) AS d64",
          "graft_sqdist_i64(la, lb) AS sq64",
          "graft_isect_sorted_i64(la, lb) AS i64")
        .head()
      assert(!r.anyNull)
      assert(r.getSeq[Long](r.fieldIndex("mh")).length == 16)
      assert(r.getAs[Double]("d32") == 5.0)
      assert(r.getAs[Long]("d64") == 1L * 2 + 2 * 5 + 5 * 9)
      assert(r.getAs[Long]("sq64") == 1L + 9 + 16) // (1-2)²+(2-5)²+(5-9)²
      assert(r.getAs[Long]("i64") == 2L) // {2,5}
    }
  }

  test("graft_shingles3/13 are bit-equal to their declarative twins on the corpus") {
    GraftFunctions.register(spark)
    withCodegenOnly {
      val docs = Tables.documents(spark, sfDir)
      val mismatches = docs.selectExpr(
        "graft_shingles3(text) AS fused3",
        s"sort_array(${graft.operators.Dedup.shingleCodesArraySql}) AS decl3",
        "graft_shingles13(text) AS fused13",
        s"sort_array(${graft.queries.TextQueries.shingleHash13ArraySpark}) AS decl13")
        .filter(col("fused3") =!= col("decl3") || col("fused13") =!= col("decl13"))
        .count()
      assert(mismatches == 0)
      // short/empty-text edge: fused form yields empty arrays, same as the
      // sliced zip_with forms
      import spark.implicits._
      val short = Seq("ab", "").toDF("text")
        .selectExpr("size(graft_shingles3(text)) AS s3",
          "size(graft_shingles13(text)) AS s13")
        .collect()
      assert(short.forall(r => r.getInt(0) == 0 && r.getInt(1) == 0))
    }
  }

  test("graft_sqdist_i64 is bit-equal to the declarative fold on the corpus") {
    GraftFunctions.register(spark)
    withCodegenOnly {
      import graft.operators.SimilaritySearch.quantizeSql
      val e = Tables.embeddings(spark, sfDir)
        .withColumn("q", expr(quantizeSql("embedding")))
        .select(col("vec_id"), col("q"))
      // pairwise shape against a shifted copy — the argmin scan's exact
      // input class (equal-length non-null BIGINT arrays)
      val probe = e.filter(col("vec_id") < 4)
        .select(col("q").as("cq"))
      val bad = e.crossJoin(probe)
        .filter(expr("graft_sqdist_i64(q, cq)") =!=
          expr("aggregate(zip_with(q, cq, (x, c) -> (x - c) * (x - c)), " +
            "0L, (acc, v) -> acc + v)"))
        .count()
      assert(bad == 0)
    }
  }

  test("graft_argmin_sqdist equals the min_by(struct(dist, cent_id)) argmin on the corpus") {
    GraftFunctions.register(spark)
    withCodegenOnly {
      import graft.operators.SimilaritySearch.quantizeSql
      val e = Tables.embeddings(spark, sfDir)
        .withColumn("q", expr(quantizeSql("embedding")))
        .select(col("vec_id"), col("q"))
      val cb = e.filter(col("vec_id") < 6)
        .select(col("vec_id").as("cent_id"), col("q").as("cq"))
      // declarative reference: crossJoin + min_by(struct(dist, cent_id))
      val ref = e.crossJoin(broadcast(cb))
        .withColumn("dist", expr("graft_sqdist_i64(q, cq)"))
        .groupBy("vec_id")
        .agg(min_by(struct(col("cent_id"), col("dist")),
          struct(col("dist"), col("cent_id"))).as("b"))
        .select(col("vec_id"), col("b.cent_id").as("rc"), col("b.dist").as("rd"))
      val got = graft.operators.KMeans.nearest(e, "q", cb)
        .select(col("vec_id"), col("near_id").as("gc"), col("near_dist").as("gd"))
      val bad = ref.join(got, "vec_id")
        .filter(col("rc") =!= col("gc") || col("rd") =!= col("gd")).count()
      assert(bad == 0)
      // empty codebook -> null (the guard shape callers never hit)
      import spark.implicits._
      val r = Seq(Tuple1(Array(1L, 2L))).toDF("q")
        .selectExpr("graft_argmin_sqdist(q, CAST(array() AS ARRAY<ARRAY<BIGINT>>)) AS p")
        .head()
      assert(r.isNullAt(0))
    }
  }

  test("graft_hyperplanes equals bucketSql for every table's plane family") {
    GraftFunctions.register(spark)
    withCodegenOnly {
      import graft.operators.SimilaritySearch._
      val e = Tables.embeddings(spark, sfDir)
        .withColumn("q", expr(quantizeSql("embedding")))
      val declCols = (0 until 8).map(t =>
        expr(bucketSql("q", 4, 64, planeOffset = t * 4)).as(s"d$t"))
      val bad = e.select(Seq(expr("graft_hyperplanes(q, 8, 4)").as("fused")) ++ declCols: _*)
        .filter((0 until 8).map(t =>
          expr(s"element_at(fused, ${t + 1})") =!= col(s"d$t")).reduce(_ || _))
        .count()
      assert(bad == 0)
    }
  }

  test("graft_simhash32 equals the declarative explode pipeline") {
    GraftFunctions.register(spark)
    withCodegenOnly {
      import spark.implicits._
      // corpus + hand-picked edges: dup tokens, shared 8-char prefixes
      // (distinct tokens, same code), consecutive spaces, >8-char tokens
      val edge = Seq((9000001L, 3L, "prefixaaXX prefixaaYY  dup dup longtokenbeyond8"),
        (9000002L, 3L, "a")).toDF("doc_id", "n_chars", "text")
      val docs = Tables.documents(spark, sfDir)
        .select("doc_id", "n_chars", "text").union(edge)
      val fused = graft.operators.Dedup.simHash(docs, 32)
      val decl = graft.operators.Dedup.simHashDeclarative(docs, 32)
      val joined = fused.as("f").join(decl.as("d"), Seq("doc_id"))
        .filter(col("f.simhash") =!= col("d.simhash"))
      assert(joined.count() == 0)
    }
  }
}
