package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

import graft.sources.ParquetStore
import graft.streaming.EventStreams

/** The local file system under the `faulty` scheme, except that a rename
  * whose destination is [[FaultyFs.failRenameTo]] returns false — Hadoop's
  * rename-failure signal. Registered under its own scheme in one spec's
  * Hadoop conf, after Spark's `DebugFilesystem` pattern, so no other
  * reader of the shared session sees it.
  */
class FaultyFs extends RawLocalFileSystem {
  override def getScheme: String = "faulty"
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (FaultyFs.failRenameTo.contains(dst.toUri.getPath)) false
    else super.rename(src, dst)
}

object FaultyFs {
  /** Local path (no scheme) whose incoming rename fails; None = no fault. */
  @volatile var failRenameTo: Option[String] = None
}

/** Every store writer publishes through one protocol (heal → unique
  * scratch dir → move aside → install → sweep). A rename failure injected
  * at the move-aside or at the install must leave a complete store at
  * `path` or `path.old`, no scratch beyond the marker-recorded kept copy,
  * and a state the next successful call heals and cleans up.
  */
class PublishFaultSpec extends SparkSpec {

  private val ImplKey = "fs.faulty.impl"

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration.set(ImplKey, classOf[FaultyFs].getName)
  }

  override def afterAll(): Unit = {
    FaultyFs.failRenameTo = None
    spark.sparkContext.hadoopConfiguration.unset(ImplKey)
    super.afterAll()
  }

  /** A store writer under test: `setup` publishes generation 1, `run`
    * publishes generation `g`, `want(g)` is that generation's sorted rows.
    */
  private case class Writer(name: String, setup: String => Unit,
      run: (String, Int) => Unit, want: Int => Seq[String])

  private def ids(g: Int) = spark.range(10L * g).toDF("id")
  private def idRows(g: Int) = (0L until 10L * g).map(i => s"[$i]").sorted

  private val mvDeltas = Map(1 -> Seq(("a", 1L), ("b", 1L)), 2 -> Seq(("a", 10L)))
  private def mvBatch(path: String, g: Int): Unit = {
    import spark.implicits._
    EventStreams.mvRefreshBatch(spark, mvDeltas(g).toDF("k", "n"), g - 1L, path,
      identity, Seq("k"))
  }

  private val writers = Seq(
    Writer("installOverwrite",
      path => ParquetStore.installOverwrite(ids(1), path),
      (path, g) => ParquetStore.installOverwrite(ids(g), path),
      idRows),
    Writer("writeBucketedAt",
      path => ParquetStore.writeBucketedAt(ids(1), path, "id", 4),
      (path, g) => ParquetStore.writeBucketedAt(ids(g), path, "id", 4),
      idRows),
    Writer("compact",
      path => spark.range(0L, 30L, 1L, 6).toDF("id").write.parquet(path),
      (path, _) => ParquetStore.compact(spark, path),
      _ => (0L until 30L).map(i => s"[$i]").sorted),
    Writer("mvRefreshBatch",
      path => mvBatch(path, 1),
      mvBatch,
      g => (if (g == 1) Seq("[a,1]", "[b,1]") else Seq("[a,11]", "[b,1]")).sorted))

  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).collect().toSeq.map(_.toString).sorted

  for (w <- writers; (point, suffix) <- Seq("move-aside" -> ".old", "install" -> "")) {
    test(s"${w.name}: a failed $point rename leaves a recoverable store") {
      val parent = Files.createTempDirectory(s"graft_publish_${w.name}").toFile
      val local = s"${parent.getPath}/store"
      val path = s"faulty://$local"
      def siblings = parent.list().toSet
      def kept: Option[String] = {
        val marker = new java.io.File(s"$local.install-kept")
        if (marker.exists()) Some(new String(Files.readAllBytes(marker.toPath), "UTF-8").trim)
        else None
      }
      w.setup(path)
      assert(rows(path) == w.want(1))

      FaultyFs.failRenameTo = Some(local + suffix)
      try intercept[java.io.IOException](w.run(path, 2))
      finally FaultyFs.failRenameTo = None

      // a complete store — old or new generation — is at `path` or `.old`
      val live = Seq(local, s"$local.old").find(new java.io.File(_).exists())
      assert(live.nonEmpty, s"no complete store left: $siblings")
      assert(Set(w.want(1), w.want(2)).contains(rows(s"faulty://${live.get}")))
      // no scratch beyond the marker-recorded kept copy
      val allowed = Set("store", "store.old", "store.install-kept") ++ kept
      assert(siblings.subsetOf(allowed), s"scratch leaked: $siblings (kept: $kept)")
      if (point == "install") {
        // the move-aside happened, so the fully written scratch dir is the
        // freshest complete copy: it must be kept and recorded, not deleted
        assert(kept.exists(k => siblings.contains(k)), s"fresh copy lost: $siblings")
        assert(rows(s"faulty://${parent.getPath}/${kept.get}") == w.want(2))
      } else assert(kept.isEmpty, s"nothing to keep after a failed move-aside: $kept")

      // the next successful call heals, publishes and reclaims the kept copy
      w.run(path, 2)
      assert(rows(path) == w.want(2))
      assert(siblings == Set("store"), s"left after recovery: $siblings")
    }
  }
}
