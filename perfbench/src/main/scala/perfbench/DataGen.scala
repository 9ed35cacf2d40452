package perfbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** One raw `events` row (the Jane event document before indexing). */
final case class Event(eventId: Long, tsUs: Long, userId: Long, eventType: String,
    value: Double, props: String)

/** Seeded inputs at the shape and size of the sf0.1 test tables: 100k
  * events, 5k documents and 2k embeddings, with the same schemas and
  * value distributions (documents are 10-100 words drawn from a 30-word
  * vocabulary, 5% near-duplicates and 0.2% exact duplicates; embeddings
  * are unit 64-d vectors with ten weak label clusters). The same seed
  * always yields the same tables.
  */
object DataGen {
  val NEvents = 100000
  val NDocs = 5000
  val NVecs = 2000
  val NUsers = 1500
  val Dim = 64

  val EventTypes: IndexedSeq[String] = IndexedSeq("click", "error", "purchase", "signup", "view")
  /** 2024-01-01T00:00:00Z; events span the following 30 days. */
  val T0Us: Long = 1704067200L * 1000000L
  val SpanUs: Long = 30L * 86400L * 1000000L

  private val Vocab = ("a agg batch big column customer data fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream table the value " +
    "vector window").split(' ').toIndexedSeq
  private val Langs = IndexedSeq("en", "en", "en", "en", "en", "en", "en", "en",
    "de", "de", "de", "es", "es", "es", "fr", "fr", "fr", "zh", "zh", "zh")

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** Event values are exponential with mean 50, rounded to cents. */
  def eventValue(r: SplittableRandom): Double =
    math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100.0) / 100.0

  def props(r: SplittableRandom): String = s"""{"k": ${r.nextInt(100)}}"""

  def events(seed: Long): Array[Event] = {
    val r = rng(seed, 1)
    val meanGap = SpanUs.toDouble / NEvents
    var t = T0Us
    Array.tabulate(NEvents) { i =>
      t += math.max(1L, math.round(-meanGap * math.log(1.0 - r.nextDouble())))
      Event(i.toLong, math.min(t, T0Us + SpanUs - 1), r.nextInt(NUsers).toLong,
        EventTypes(r.nextInt(EventTypes.size)), eventValue(r), props(r))
    }
  }

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def eventRow(e: Event): Row =
    Row(e.eventId, Time.toTimestamp(e.tsUs), e.userId, e.eventType, e.value, e.props)

  /** Documents copied verbatim, and copied with " dup" appended. */
  val ExactDups = 10
  val NearDups = 250

  /** Copies are made of original documents only, as in the test tables, so
    * every duplicate cluster is a star and the amount of dedup work does
    * not depend on the seed.
    */
  private def documents(seed: Long): Seq[Row] = {
    val r = rng(seed, 2)
    val kinds = new Array[Int](NDocs) // 0 original, 1 exact copy, 2 near copy
    java.util.Arrays.fill(kinds, 1, 1 + ExactDups, 1)
    java.util.Arrays.fill(kinds, 1 + ExactDups, 1 + ExactDups + NearDups, 2)
    (NDocs - 1 to 2 by -1).foreach { i => // shuffle all but doc 0, an original
      val j = 1 + r.nextInt(i)
      val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
    }
    val originals = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until NDocs).map { i =>
      val text = kinds(i) match {
        case 1 => originals(r.nextInt(originals.size))
        case 2 => originals(r.nextInt(originals.size)) + " dup"
        case _ =>
          val t = Seq.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
          originals += t
          t
      }
      Row(i.toLong, text, Langs(r.nextInt(Langs.size)), s"src${i % 20}", text.length.toLong)
    }
  }

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def embeddings(seed: Long): Seq[Row] = {
    val r = rng(seed, 3)
    val centers = Array.fill(10, Dim)(r.nextGaussian() * 0.07 / math.sqrt(Dim))
    (0 until NVecs).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(Dim)(d => centers(label)(d) + r.nextGaussian() / math.sqrt(Dim))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
  }

  private val VecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private def save(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(rows.asJava, schema).write.mode("overwrite").parquet(path)

  /** Writes `events.parquet` under `dir` (the layout `graft.Tables` reads)
    * and returns the events for the serving model.
    */
  def writeEvents(spark: SparkSession, seed: Long, dir: String): Array[Event] = {
    val ev = events(seed)
    save(spark, ev.toSeq.map(eventRow), EventSchema, s"$dir/events.parquet")
    ev
  }

  /** Writes `documents.parquet` and `embeddings.parquet` under `dir`. */
  def writeCorpus(spark: SparkSession, seed: Long, dir: String): Unit = {
    save(spark, documents(seed), DocSchema, s"$dir/documents.parquet")
    save(spark, embeddings(seed), VecSchema, s"$dir/embeddings.parquet")
  }
}

/** Timestamp conversions between epoch microseconds and what Spark collects. */
object Time {
  def toTimestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp => Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case other => throw new IllegalArgumentException(s"not a timestamp: $other")
  }

  private val Fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  /** FDSN-style time parameter text for an epoch-second instant. */
  def iso(us: Long): String = Fmt.format(java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L)))
}
