package graft

import org.apache.spark.sql.functions._

import graft.plans.GraftFunctions

class DotProductF32Spec extends SparkSpec {

  test("codegen dot product equals the declarative aggregate/zip_with form") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir).limit(50).cache()
    val pairs = e.select(col("vec_id").as("a"), col("embedding").as("ea"))
      .crossJoin(e.select(col("vec_id").as("b"), col("embedding").as("eb")))
    val diff = pairs
      .withColumn("fast", expr("graft_dot_f32(ea, eb)"))
      .withColumn("slow", expr(
        "aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
          "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(diff == 0L, "fused loop must accumulate identically to the fold")
  }

  test("codegen i64 dot product equals the declarative fold") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir).limit(50)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q")
    val pairs = e.select(col("vec_id").as("a"), col("q").as("qa"))
      .crossJoin(e.select(col("vec_id").as("b"), col("q").as("qb")))
    val diff = pairs
      .withColumn("fast", expr("graft_dot_i64(qa, qb)"))
      .withColumn("slow", expr(
        "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(diff == 0L)
  }

  test("single-pass fingerprint equals the declarative fold, incl. edge shapes") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val edge = Seq("", " ", "a", "  double  spaces  ", "exactlyeightchars!",
      "the quick brown fox", "x " * 200).toDF("text")
    val corpus = Tables.documents(spark, sfDir).select("text").union(edge)
    val diff = corpus
      .withColumn("fast", expr("graft_fingerprint(text)"))
      .withColumn("slow", expr(graft.functions.TextFunctions.fingerprintSpark))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(diff == 0L)
  }

  test("fused minhash signature equals the explode/groupBy pipeline") {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, sfDir).limit(100).cache()
    val fused = graft.operators.Dedup.minHashSignatures(docs, 16)
    // force the generic path by asking for a k that has no fused variant,
    // then compare the shared 8 permutations
    val generic = graft.operators.Dedup.minHashSignatures(docs, 8)
    val joined = fused.as("f").join(generic.as("g"), "doc_id")
    val diff = (0 until 8).map(i =>
      joined.filter(col(s"f.h$i") =!= col(s"g.h$i")).count()).sum
    assert(diff == 0L, "fused and explode-based signatures must agree")
    assert(fused.count() == 100)
  }

  test("null inputs yield null") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((Some(Array(1.0f, 2.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
    val out = df.select(expr("graft_dot_f32(a, b)")).collect()
    assert(out.head.isNullAt(0))
  }

  test("type mismatch is rejected at analysis") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((Array(1.0), Array(1.0f))).toDF("a", "b")
    intercept[Exception] { df.select(expr("graft_dot_f32(a, b)")).collect() }
  }
}
