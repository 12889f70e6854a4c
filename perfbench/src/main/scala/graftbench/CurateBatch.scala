package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.similarity.Knn
import graft.text.TextOps

/** `curate_batch`: repeated full passes of the training-data pipeline over
  * seeded corpora with planted near-duplicates. Passes alternate between
  * variants, so no pass reuses the previous pass's input. Each output is
  * checked against the answer fixed at setup; setup's `lang_id` answers
  * are checked against the registry row's DuckDB oracle SQL after the run. */
final class CurateBatch(spark0: SparkSession, seed: Long, work: Path) extends Workload {
  import CurateBatch._

  private var spark = spark0

  private var dir: Path = _
  /** Expected rows of each (variant, stage), fixed by the warm-up. */
  private val expected = scala.collection.mutable.Map.empty[(Int, String), Seq[String]]
  /** Pairs found by the current pass, persisted by its report write. */
  private var pairs = Vector.empty[Row]

  private def docsPath(v: Int) = dir.resolve(s"docs_$v.parquet").toString
  private def embPath(v: Int) = dir.resolve(s"emb_$v.parquet").toString

  def prepare(d: Path): Unit = {
    dir = d
    (0 until Variants).foreach { v =>
      Gen.docFrame(spark, Gen.documents(seed, v, Docs)).coalesce(1)
        .write.mode("overwrite").parquet(docsPath(v))
      Gen.vecFrame(spark, Gen.embeddings(seed, v, Vectors)).coalesce(1)
        .write.mode("overwrite").parquet(embPath(v))
    }
  }

  /** One pass per variant; its answers become the expectations, and each
    * variant's `lang_id` answer goes to the oracle check. */
  def warmUp(): Seq[Op] = (0 until Variants).flatMap(v => pass(v, -1 - v, record = true))

  def cycle(c: Int): Seq[Op] = pass(c % Variants, c, record = false)

  private def docs(s: SparkSession, v: Int): DataFrame = s.read.parquet(docsPath(v))
  private def emb(s: SparkSession, v: Int): DataFrame = Knn.embOf(s.read.parquet(embPath(v)))

  private def pass(v: Int, c: Int, record: Boolean): Seq[Op] = {
    /** Collect the stage's answer; compare its sorted rows with the
      * expectation of (variant, stage), or record them as it. A stage
      * named after a registry row with oracle SQL is also oracle-checked. */
    def stage(kind: String, name: String, span: String)(df: => DataFrame)(
        use: Seq[Row] => Unit = _ => ()): Op = Op(kind, name, tracer => {
      val (cols, rows) = tracer.span(span) {
        val d = df
        (d.columns.toSeq, d.collect().toSeq)
      }
      use(rows)
      def got = rows.map(_.toString).sorted
      if (!record) Outcome.check(s"$name variant $v", got, expected((v, name)))
      else Outcome(rows.size.toLong, {
        expected((v, name)) = got
        graft.SparkEntry.oracleSql.get(name).foreach { sql =>
          Oracle.add(work, s"$name variant $v", sql, Map("documents" -> docsPath(v)), cols, rows)
        }
        None
      })
    })
    def keep(method: String)(rows: Seq[Row]): Unit =
      pairs ++= rows.map(r => Row(c.toLong, method, r.getLong(0), r.getLong(1)))
    Seq(
      // the curated training set, persisted (overwrite) and read back
      stage(Kind.Build, "curate_full", "text.curate_full") {
        val out = work.resolve(s"curated_$v").toString
        TextOps.curateFull(docs(spark, v)).write.mode(SaveMode.Overwrite).parquet(out)
        spark.read.parquet(out)
      }(),
      stage(Kind.Read, "simhash_pairs", "dedup.simhash_pairs") {
        pairs = Vector.empty
        Dedup.simHashPairs(docs(spark, v))
      }(keep("simhash")),
      stage(Kind.Read, "char_ngram_pairs", "dedup.char_ngram_pairs") {
        Dedup.charNGramPairs(docs(spark, v))
      }(keep("char_ngram")),
      stage(Kind.Read, "embedding_pairs_lsh", "dedup.embedding_pairs_lsh") {
        Dedup.embeddingPairsLsh(emb(spark, v), tau = EmbTau, n = Vectors.toLong)
      }(keep("embedding_lsh")),
      stage(Kind.Read, "lang_id", "text.lang_id") {
        TextOps.langId(docs(spark, v))
      }(),
      stage(Kind.Read, "token_count_bpe", "text.token_count_bpe") {
        TextOps.tokenCountBpe(docs(spark, v), numMerges = BpeMerges)
      }(),
      // the pass's pair report, appended to a persisted log and counted back
      Op(Kind.Write, "pair_report", tracer => {
        val report = work.resolve("pair_report").toString
        val n = tracer.span("io.write") {
          spark.createDataFrame(java.util.Arrays.asList(pairs: _*), pairSchema)
            .write.mode(SaveMode.Append).parquet(report)
          spark.read.parquet(report).where(s"pass = $c").count()
        }
        Outcome.check(s"pair_report pass $c", Seq(n), Seq(pairs.size.toLong))
      }))
  }

  def scalingOps(): Seq[Op] = cycle(1)
  def nominalCycleS: Double = 25.0
  def restart(s: SparkSession): Unit = spark = s
}

object CurateBatch {
  val Variants = 2
  val Docs = 800
  val Vectors = 800
  val EmbTau = 0.9
  val BpeMerges = 20

  private val pairSchema = StructType(Seq(
    StructField("pass", LongType), StructField("method", StringType),
    StructField("id1", LongType), StructField("id2", LongType)))
}
