package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, max}
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}
import graft.operators.{Dedup, KMeans, SimilaritySearch}
import graft.sources.ParquetStore

/** `curate_batch`: the LLM-data curation pass over the generated documents
  * and embeddings, run back to back by one client once warm. Each stage is
  * the registry query that owns its oracle, so run.py can check the
  * outputs against that query's DuckDB SQL; where a stage's spans split a
  * registry query (components after the LSH pairs, ANN training before
  * top-k) it calls graft's operators with that query's parameters:
  *
  *  1. exact dedup (`d01_dedup_exact`);
  *  2. MinHash-LSH candidate pairs, k=16 in 2 bands (`d03_minhash_lsh`),
  *     then connected components (`d11_dedup_clusters`);
  *  3. sampled quantized k-means, then IVF top-k for the query vectors
  *     10..19 (`d10_embed_ivf_trained`);
  *  4. span removal through the registry key `t37_span_removal`.
  */
object Curate {
  /** Untimed passes before the window; the first compiles the plans. On 4
    * cores pass walls keep falling until the third pass (the measured second
    * pass is about 30% above that level); more warm-up passes do not fit
    * the run budget, see README.md.
    */
  val WarmupPasses = 1

  final case class Output(name: String, schema: StructType, rows: Seq[Row])

  /** The registry queries whose oracle SQL checks the stages, in pass order. */
  val Stages = Seq("d01_dedup_exact", "d03_minhash_lsh", "d11_dedup_clusters",
    "d10_embed_ivf_trained", "t37_span_removal")

  def run(spark: SparkSession, o: Opts, res: RunResult): Unit = {
    val tracer = new Tracer(spark.sparkContext, o.trace)
    val raw = s"${o.work}/data"
    val store = s"${o.work}/stores/curate"
    Harness.phase("generate inputs")(DataGen.writeCorpus(spark, o.seed, raw))

    // set-up lands the raw tables in the store the passes read
    val setupS = Harness.phase("set-up")(Harness.timed(Harness.SetupReps) {
      Seq("documents", "embeddings").foreach { t =>
        ParquetStore.installOverwrite(spark.read.parquet(s"$raw/$t.parquet"), s"$store/$t.parquet")
      }
    })

    def freeBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    def out(name: String, df: DataFrame): Output = Output(name, df.schema, df.collect().toSeq)

    def pass(): Seq[Output] = {
      val exact = tracer.span("dedup.exact")(out("d01_dedup_exact",
        SparkEntry.queries("d01_dedup_exact")(spark, store)))
      val (pairs, pairRows) = tracer.span("dedup.lsh") {
        val p = SparkEntry.queries("d03_minhash_lsh")(spark, store).localCheckpoint(eager = true)
        (p, out("d03_minhash_lsh", p))
      }
      val clusters = tracer.span("dedup.components")(out("d11_dedup_clusters",
        Dedup.components(pairs).groupBy("label")
          .agg(count(lit(1)).as("cluster_size"), max(col("id")).as("max_id"))
          .select(col("label").as("rep_id"), col("cluster_size"), col("max_id"))
          .orderBy("rep_id")))
      val vecs = tracer.span("sources.read")(Tables.embeddings(spark, store))
        .withColumn("q", expr(SimilaritySearch.quantizeSql("embedding")))
        .select(col("vec_id"), col("q"))
      val cand = vecs.filter(col("vec_id") >= 20)
      val codebook = tracer.span("ann.train")(
        KMeans.fitQuantizedSampled(cand, targetClusterSize = 16, samplePct = 40, iters = 2)
          .select(col("cent_id").as("vec_id"), col("cq").as("q")))
      val topk = tracer.span("ann.topk")(out("d10_embed_ivf_trained",
        SimilaritySearch.ivfTopK(vecs.filter(col("vec_id") >= 10 && col("vec_id") < 20),
          cand, codebook, nprobe = 2, k = 3).orderBy("query_id", "rn")))
      val cleaned = tracer.span("text.span_removal")(out("t37_span_removal",
        SparkEntry.queries("t37_span_removal")(spark, store)))
      freeBlocks()
      Seq(exact, pairRows, clusters, topk, cleaned)
    }

    Oracle.publish(o.work, store, Stages)
    val warmS = Harness.phase("warm-up")(Harness.timed(WarmupPasses)(pass())).sum
    Harness.phase("wait for oracle")(Oracle.await(o.work))
    val cg0 = (Codegen.compiles, Codegen.compileNs)
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Output]]
    val ops = Harness.phase("measure")(Harness.closedLoop(1, o.seconds) { _ =>
      val (r, rec) = tracer.op("pass")(pass())
      results += r
      Seq(rec.copy(rows = r.map(_.rows.size.toLong).sum))
    })
    val cg = Layers.CodegenWindow(Codegen.compiles - cg0._1, Codegen.compileNs - cg0._2)

    // every pass must reproduce the first; run.py checks the first against
    // the registry's oracle SQL and counts a mismatch against every pass
    val first = results.head
    results.zipWithIndex.foreach { case (r, i) =>
      res.check(r.map(_.rows) == first.map(_.rows), s"pass $i differs from pass 0")
    }
    first.foreach { case Output(name, schema, rows) =>
      val path = s"${o.work}/check/$name"
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(path)
      res.oracle += Json.obj("key" -> Json.str(name), "output" -> Json.str(path))
    }
    res.info("passes") = Json.num(results.size)

    Harness.describe(res, o, setupS, WarmupPasses, warmS, ops)
    if (o.trace) Layers.record(res, tracer, ops, cg,
      Map("dedup.candidate_pairs" -> first(1).rows.size.toDouble), o.spans)
    else Harness.endToEnd(res, setupS, ops, clients = 1)
  }
}
