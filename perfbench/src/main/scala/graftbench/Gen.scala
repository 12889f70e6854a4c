package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Shapes follow the repository's sf0.1 tables
  * (`events`, `documents`, `embeddings`); every value comes from the seed. */
object Gen {
  /** A fresh stream for (seed, salt...): the same arguments always give
    * the same draws, independent of what other streams consumed. */
  def rng(seed: Long, salt: Long*): SplittableRandom =
    new SplittableRandom(salt.foldLeft(seed * 0x9E3779B97F4A7C15L + 17) {
      (h, s) => (h ^ s) * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    })

  // ── events ──────────────────────────────────────────────────────────
  final case class Event(eventId: Long, tsUs: Long, userId: Long,
      eventType: String, value: Double, props: String)

  val Spaces: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  val Epoch2024Us = 1704067200000000L
  val MonthUs: Long = 30L * 86400L * 1000000L

  /** sf0.1 `events`: 100k entries over 5 spaces and 1,500 users. Values
    * are exact cents; event ids are unique and unrelated to time order. */
  def events(seed: Long, n: Int = 100000, users: Int = 1500): IndexedSeq[Event] = {
    val r = rng(seed, 1)
    val ids = (0 until n).map(_.toLong).toArray
    // shuffle ids so (ts, event_id) order is not id order
    for (i <- ids.indices.reverse) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    (0 until n).map { i =>
      Event(ids(i), Epoch2024Us + r.nextLong(MonthUs), r.nextInt(users).toLong,
        Spaces(r.nextInt(Spaces.size)), r.nextInt(1, 50000) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }.sortBy(_.eventId)
  }

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_us", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Write `events.parquet` under `dir` in the layout of the sf `events` table. */
  def writeEvents(spark: SparkSession, evs: Seq[Event], dir: String): Unit = {
    val rows = evs.map(e => Row(e.eventId, e.tsUs, e.userId, e.eventType, e.value, e.props))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), eventSchema)
      .selectExpr("event_id", "timestamp_micros(ts_us) AS ts", "user_id",
        "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  // ── documents ───────────────────────────────────────────────────────
  final case class Doc(docId: Long, text: String, lang: String, source: String)

  val Langs: Seq[String] = Seq("de", "en", "fr", "zh")
  private val common = ("a the data spark stream table query value key row " +
    "column part line order group join sort scan hash filter window batch " +
    "vector merge index fast slow big small").split(' ').toIndexedSeq
  private val perLang: Map[String, IndexedSeq[String]] = Map(
    "de" -> "und der die das ist nicht mit sich auf fuer zeile".split(' ').toIndexedSeq,
    "en" -> "and of to in is that with for on it record".split(' ').toIndexedSeq,
    "fr" -> "et le la les est pas avec pour sur une ligne".split(' ').toIndexedSeq,
    "zh" -> "shi de le zai you wo ta men zhe ge shuju".split(' ').toIndexedSeq)

  /** The corpus vocabulary, most frequent first (Zipf draws index it). */
  val Vocabulary: IndexedSeq[String] = common ++ Langs.flatMap(perLang)

  private def word(r: SplittableRandom, lang: String): String =
    if (r.nextInt(3) == 0) perLang(lang)(r.nextInt(perLang(lang).size))
    else common(math.min(common.size - 1, (-math.log(1 - r.nextDouble()) * 6).toInt))

  /** `n` documents like sf0.1 `documents`, ids from `firstId`; a
    * `dupShare` of them are near-duplicate copies (a few words changed) of
    * earlier ones, so the dedup stages have pairs to find. */
  def documents(seed: Long, salt: Long, n: Int, firstId: Long = 0L,
      dupShare: Double = 0.2): IndexedSeq[Doc] = {
    val r = rng(seed, 2, salt)
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    (0 until n).foreach { i =>
      val id = firstId + i
      if (out.nonEmpty && r.nextDouble() < dupShare) {
        val src = out(r.nextInt(out.size))
        val ws = src.text.split(' ')
        (0 until 1 + r.nextInt(3)).foreach(_ => ws(r.nextInt(ws.length)) = word(r, src.lang))
        out += src.copy(docId = id, text = ws.mkString(" "), source = s"src${r.nextInt(5)}")
      } else {
        val lang = Langs(r.nextInt(Langs.size))
        val len = 12 + r.nextInt(60)
        out += Doc(id, Seq.fill(len)(word(r, lang)).mkString(" "), lang, s"src${r.nextInt(5)}")
      }
    }
    out.toIndexedSeq
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def docFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      docs.map(d => Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong)): _*),
      docSchema)

  // ── embeddings ──────────────────────────────────────────────────────
  final case class Vec(vecId: Long, v: Array[Float], label: Int)

  val Dim = 64

  /** `n` vectors around 10 seeded cluster centres (label = centre), ids
    * from `firstId`; a `dupShare` are near-copies of earlier vectors. */
  def embeddings(seed: Long, salt: Long, n: Int, firstId: Long = 0L,
      dupShare: Double = 0.1): IndexedSeq[Vec] = {
    val cr = rng(seed, 3)
    val centres = Array.fill(10, Dim)(cr.nextDouble() * 2 - 1)
    val r = rng(seed, 4, salt)
    def gauss(): Double = {
      val u = 1 - r.nextDouble(); val w = r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * w)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Vec]
    (0 until n).foreach { i =>
      if (out.nonEmpty && r.nextDouble() < dupShare) {
        val src = out(r.nextInt(out.size))
        out += Vec(firstId + i, src.v.map(x => (x + gauss() * 0.01).toFloat), src.label)
      } else {
        val c = r.nextInt(centres.length)
        out += Vec(firstId + i, Array.tabulate(Dim)(d => (centres(c)(d) + gauss() * 0.6).toFloat), c)
      }
    }
    out.toIndexedSeq
  }

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  def vecFrame(spark: SparkSession, vs: Seq[Vec]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      vs.map(x => Row(x.vecId, x.v.toSeq, x.label)): _*), vecSchema)
}
