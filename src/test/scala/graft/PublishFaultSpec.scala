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
  * scratch dir → move aside → install → sweep) with one failure rule: the
  * scratch dir is deleted. A rename failure injected at the move-aside or
  * at the install must leave a complete store at `path` or `path.old`, no
  * `.install-` dir at all, and a state the next successful call heals and
  * leaves as the one store dir.
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
      w.setup(path)
      assert(rows(path) == w.want(1))

      FaultyFs.failRenameTo = Some(local + suffix)
      try intercept[java.io.IOException](w.run(path, 2))
      finally FaultyFs.failRenameTo = None

      // a complete store — old or new generation — is at `path` or `.old`
      val live = Seq(local, s"$local.old").find(new java.io.File(_).exists())
      assert(live.nonEmpty, s"no complete store left: $siblings")
      assert(Set(w.want(1), w.want(2)).contains(rows(s"faulty://${live.get}")))
      // the scratch dir is gone on either failure; nothing else is left
      assert(siblings.subsetOf(Set("store", "store.old")), s"scratch leaked: $siblings")

      // the next successful call heals and publishes generation 2
      w.run(path, 2)
      assert(rows(path) == w.want(2))
      assert(siblings == Set("store"), s"left after recovery: $siblings")
    }
  }
}
