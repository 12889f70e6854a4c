package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.dedup.Dedup
import graft.similarity.Knn
import graft.text.TextOps

/** `index_serve`: rebuilds of the IVF, IVF-PQ and BM25 postings indexes
  * (each through `Staged.commit`) and, between rebuilds, a closed-loop
  * stream of seeded probes. Mid-cycle the crawl delta arrives: its
  * near-duplicate report is computed and it is appended to each index,
  * after which the probes go through the `*Delta` faces.
  *
  * Checks: IVF answers against a plain Scala cosine model (at
  * nprobe = nlist exactly the brute top-k, which setup also checks
  * against `Knn.brute`; below it, every score exact and no rank better
  * than the brute rank); PQ answers for shape, and against their own
  * first answer when a pooled probe repeats; text answers against the
  * `text_search_indexed` oracle SQL in DuckDB after the run; the delta's
  * duplicate reports against the report fixed at setup. */
final class IndexServe(spark0: SparkSession, seed: Long, work: Path) extends Workload {
  import IndexServe._

  private var spark = spark0
  private var dir: Path = _
  private var centroids: DataFrame = _
  private var coarse: DataFrame = _
  private var codebook: DataFrame = _
  private var ivfTbl, pqTbl, txtTbl: String = _
  private var base: Map[Long, Array[Double]] = _
  private var delta: Map[Long, Array[Double]] = _
  /** Answers fixed by their first occurrence (set-up's warm-up for the
    * delta reports; the first draw of a pooled PQ probe). */
  private val seen = scala.collection.mutable.Map.empty[String, Seq[String]]

  private def path(name: String) = dir.resolve("idx").resolve(name).toString
  private def emb(name: String) = Knn.embOf(spark.read.parquet(dir.resolve(name).toString))
  private def docs(name: String) = spark.read.parquet(dir.resolve(name).toString)

  def prepare(d: Path): Unit = {
    dir = d
    val b = Gen.embeddings(seed, 10, BaseVectors)
    val dv = Gen.embeddings(seed, 11, DeltaVectors, firstId = BaseVectors, dupShare = 0.2)
    Gen.vecFrame(spark, b).coalesce(1).write.mode("overwrite").parquet(d.resolve("emb").toString)
    Gen.vecFrame(spark, dv).coalesce(1).write.mode("overwrite")
      .parquet(d.resolve("emb_delta").toString)
    val bd = Gen.documents(seed, 12, BaseDocs)
    val dd = Gen.documents(seed, 13, DeltaDocs, firstId = BaseDocs)
    Gen.docFrame(spark, bd).coalesce(1).write.mode("overwrite").parquet(d.resolve("docs").toString)
    Gen.docFrame(spark, dd).coalesce(1).write.mode("overwrite")
      .parquet(d.resolve("docs_delta").toString)
    Gen.docFrame(spark, bd ++ dd).coalesce(1).write.mode("overwrite")
      .parquet(d.resolve("docs_all").toString)
    base = b.map(v => v.vecId -> v.v.map(_.toDouble)).toMap
    delta = dv.map(v => v.vecId -> v.v.map(_.toDouble)).toMap
    // table names are per input directory, so a repeated set-up never
    // sees an earlier one's catalog entries
    val tag = d.getFileName.toString.replaceAll("[^A-Za-z0-9]", "_")
    ivfTbl = s"bench_ivf_$tag"; pqTbl = s"bench_pq_$tag"; txtTbl = s"bench_txt_$tag"
  }

  /** Set-up's warm-up: the first (cold) rebuild, the plain Scala brute
    * reference checked against `Knn.brute`, the delta landing (its
    * near-duplicate reports fix the answers later reports must repeat)
    * and one probe of each kind through the `*Delta` faces, so the timed
    * cycle's slowest probes do not pay first-use costs. The timed cycle's
    * rebuild starts a new base generation, which retires this delta. */
  def warmUp(): Seq[Op] = {
    val ids = probes(0, 0).find(_.kind == "ivf").get.ids
    val bruteCheck = Op(Kind.Read, "brute_reference", _ => {
      val got = Knn.brute(emb("emb"), col("vec_id").isin(ids: _*), K).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq.sorted
      Outcome.check("Knn.brute vs reference", got, ids.flatMap(bruteTopK(_, base)).sorted)
    })
    val deltaProbes = probes(-1, 1).groupBy(_.kind).values.map(_.head).toSeq
      .sortBy(_.kind).map(probe(_, 1))
    Seq(rebuild, bruteCheck, deltaLands) ++ deltaProbes
  }

  /** A rebuild: the one slice that runs on a fresh engine (its catalog is
    * new, so probes would need a rebuild first). */
  def scalingOps(): Seq[Op] = Seq(rebuild)
  def nominalCycleS: Double = 20.0
  def restart(s: SparkSession): Unit = spark = s

  /** Rebuild, probes over the base, the delta, probes over base ∪ delta. */
  def cycle(c: Int): Seq[Op] =
    Seq(rebuild) ++ probes(c, 0).map(probe(_, 0)) ++ Seq(deltaLands) ++
      probes(c, 1).map(probe(_, 1))

  /** The probes of one phase, in seeded order: two per kind. The two
    * vector probes of a kind carry a and 9 − a query vectors (a in 1..8)
    * and nprobe 1 or 2 (phase 0 / 1) and nlist; PQ probes are one
    * complementary pair of a seeded pool, so repeats occur; text probes
    * carry n and 4 − n Zipf-skewed terms (n in 1..3). Per-phase work is
    * then the same for every seed. */
  private def probes(c: Int, state: Int): Seq[Probe] = {
    val r = Gen.rng(seed, 300, c, state)
    def pair(rr: java.util.SplittableRandom, kind: String) = {
      val a = 1 + rr.nextInt(8)
      def ids(n: Int) = Iterator.continually(rr.nextInt(BaseVectors).toLong)
        .distinct.take(n).toSeq.sorted
      Seq(Probe(kind, ids(a), 1 + state, Nil), Probe(kind, ids(9 - a), Nlist, Nil))
    }
    val n = 1 + r.nextInt(3)
    def terms(k: Int) = Iterator.continually(zipfTerm(r)).distinct.take(k).toList
    val all = pair(r, "ivf") ++ pair(Gen.rng(seed, 301, r.nextInt(PqPool), state), "pq") ++
      Seq(Probe("text", Nil, 0, terms(n)), Probe("text", Nil, 0, terms(4 - n)))
    scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong())).shuffle(all)
  }

  private val rebuild: Op = Op(Kind.Build, "rebuild", tracer => {
    val e = emb("emb")
    centroids = tracer.span("similarity.ivf_build") {
      Knn.writeIvfIndex(e, ivfTbl, path("ivf"), nlist = Nlist)
    }
    val (co, cb) = tracer.span("similarity.pq_build") {
      Knn.writeIvfPqIndex(e, pqTbl, path("pq"), nlist = Nlist)
    }
    coarse = co
    codebook = cb
    tracer.span("text.index_build") {
      TextOps.writeTextIndex(docs("docs"), txtTbl, path("txt"))
    }
    Outcome.check("rebuild model sizes",
      Seq(centroids.count(), coarse.count()), Seq(Nlist.toLong, Nlist.toLong))
  })

  /** An answer fixed by its first occurrence. */
  private def fixed(key: String, rows: Seq[Row]): Option[String] = {
    val got = rows.map(_.toString).sorted
    seen.get(key) match {
      case None => seen(key) = got; None
      case Some(want) => Outcome.diff(key, got, want)
    }
  }

  private def vectorDups(tracer: Tracer, e: DataFrame): Outcome = {
    val dups = tracer.span("dedup.embedding_pairs_lsh") {
      Dedup.embeddingPairsLsh(e, tau = DupTau, n = DeltaVectors.toLong).collect().toSeq
    }
    Outcome(dups.size.toLong, fixed("delta embedding near-duplicate report", dups))
  }

  private def documentDups(tracer: Tracer, d: DataFrame): Outcome = {
    val dups = tracer.span("dedup.simhash_pairs")(Dedup.simHashPairs(d).collect().toSeq)
    Outcome(dups.size.toLong, fixed("delta document near-duplicate report", dups))
  }

  /** The crawl delta lands: the vector and document batches' near-duplicate
    * reports, then the append to each of the three indexes. One op, so a
    * cycle's write is the same work in every run. */
  private val deltaLands: Op = Op(Kind.Write, "delta", tracer => {
    val e = emb("emb_delta")
    val d = docs("docs_delta")
    val vectors = vectorDups(tracer, e)
    val documents = documentDups(tracer, d)
    tracer.span("similarity.delta_append") {
      Knn.appendIvfIndexDelta(e, ivfTbl, path("ivf"), centroids)
    }
    tracer.span("similarity.delta_append") {
      Knn.appendIvfPqIndexDelta(e, pqTbl, path("pq"))
    }
    tracer.span("text.delta_append") {
      TextOps.appendTextIndexDelta(d, txtTbl, path("txt"))
    }
    Outcome(vectors.rows + documents.rows, vectors.mismatch.orElse(documents.mismatch))
  })

  private def probe(p: Probe, state: Int): Op = Op(Kind.Read, s"${p.kind}_probe", tracer => {
    def queries = emb("emb").filter(col("vec_id").isin(p.ids: _*))
    (p.kind, state) match {
      case ("text", _) =>
        val (cols, rows) = tracer.span("text.index_probe") {
          val df =
            if (state == 0) TextOps.searchIndex(spark, txtTbl, p.terms)
            else TextOps.searchIndexDelta(spark, txtTbl, p.terms)
          (df.columns.toSeq, df.collect().toSeq)
        }
        Outcome(rows.size.toLong, {
          // the registry row's SQL with this probe's terms in place of its own
          val sql = graft.SparkEntry.oracleSql("text_search_indexed").replace(
            OracleTerms, p.terms.map(t => s"'$t'").mkString("(", ", ", ")"))
          Oracle.add(work, s"text_search_indexed $p state $state", sql,
            Map("documents" -> dir.resolve(if (state == 0) "docs" else "docs_all").toString),
            cols, rows)
          None
        })
      case ("ivf", _) =>
        val rows = tracer.span("similarity.ivf_probe") {
          (if (state == 0) Knn.searchIvfIndex(spark, ivfTbl, centroids, queries, K, p.nprobe)
           else Knn.searchIvfIndexDelta(spark, ivfTbl, centroids, queries, K, p.nprobe))
            .collect().toSeq
        }
        def got = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        Outcome(rows.size.toLong, checkShape(p, state, got).orElse(checkIvf(p, state, got)))
      case _ =>
        val rows = tracer.span("similarity.pq_probe") {
          (if (state == 0) Knn.searchIvfPq(spark, pqTbl, coarse, codebook, queries, K, p.nprobe)
           else Knn.searchIvfPqDelta(spark, pqTbl, queries, K, p.nprobe)).collect().toSeq
        }
        def got = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        Outcome(rows.size.toLong,
          checkShape(p, state, got).orElse(fixed(s"$p state $state", rows)))
    }
  })

  // ── the vector reference model ───────────────────────────────────────

  private def corpus(state: Int) = if (state == 0) base else base ++ delta

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** The library's cosine: dot / (|q|·|c|), rounded half-up at 4 places
    * through the decimal form of the double (Spark's `round`). */
  private def cosine(a: Array[Double], b: Array[Double]): Double =
    BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Brute top-k of one query: (query, neighbor, score, rank), ties by id. */
  private def bruteTopK(q: Long, c: Map[Long, Array[Double]]): Seq[(Long, Long, Double, Long)] = {
    val qv = c(q)
    c.iterator.filter(_._1 != q).map { case (id, v) => (id, cosine(qv, v)) }.toSeq
      .sortBy { case (id, s) => (-s, id) }.take(K).zipWithIndex
      .map { case ((id, s), i) => (q, id, s, i + 1L) }
  }

  /** Shape shared by every vector answer: per query ranks 1..n (n ≤ k) in
    * (score desc, neighbor) order, no self match, every neighbor indexed. */
  private def checkShape(p: Probe, state: Int,
      rows: Seq[(Long, Long, Double, Long)]): Option[String] = {
    val c = corpus(state)
    val bad = rows.groupBy(_._1).toSeq.flatMap { case (q, rs) =>
      val byRank = rs.sortBy(_._4)
      val ordered = byRank.map(r => (-r._3, r._2))
      Seq(
        (!p.ids.contains(q)) -> s"unexpected query $q",
        (byRank.map(_._4) != (1L to rs.size.toLong)) -> s"ranks of $q not 1..${rs.size}",
        (rs.size > K) -> s"$q has ${rs.size} > $K rows",
        (ordered != ordered.sorted) -> s"$q not in (score desc, neighbor) order",
        rs.exists(r => r._2 == q || !c.contains(r._2)) -> s"$q has a self or unindexed neighbor")
        .collect { case (true, why) => why }
    }
    val missing = p.ids.filterNot(q => rows.exists(_._1 == q))
    val why = bad ++ missing.map(q => s"no answer for query $q")
    why.headOption.map(w => s"$p state $state: $w")
  }

  /** At nprobe = nlist the answer is the brute top-k. With fewer lists
    * probed each score is still the exact cosine, and the i-th best of a
    * subset can never beat the i-th best overall. */
  private def checkIvf(p: Probe, state: Int,
      rows: Seq[(Long, Long, Double, Long)]): Option[String] = {
    val c = corpus(state)
    val brute = p.ids.flatMap(bruteTopK(_, c))
    if (p.nprobe == Nlist)
      Outcome.diff(s"$p state $state vs brute top-$K", rows.sorted, brute.sorted)
    else {
      val exact = rows.map(r => (r._1, r._2, cosine(c(r._1), c(r._2)), r._4))
      val bound = brute.map(b => (b._1, b._4) -> b._3).toMap
      Outcome.diff(s"$p state $state exact scores", rows.sorted, exact.sorted).orElse(
        rows.find(r => r._3 > bound((r._1, r._4))).map(r => s"$p state $state: $r beats brute"))
    }
  }
}

object IndexServe {
  val BaseVectors = 1000
  val DeltaVectors = 100
  val BaseDocs = 1000
  val DeltaDocs = 100
  val Nlist = 10
  val K = 10
  val PqPool = 2
  val DupTau = 0.95
  /** The query terms baked into the `text_search_indexed` oracle SQL. */
  val OracleTerms = "('vector', 'stream', 'window', 'hash')"

  final case class Probe(kind: String, ids: Seq[Long], nprobe: Int, terms: List[String]) {
    override def toString: String =
      if (kind == "text") s"text[${terms.mkString(",")}]"
      else s"$kind[ids=${ids.mkString(",")} nprobe=$nprobe]"
  }

  private val harmonic = Gen.Vocabulary.indices.map(i => 1.0 / (i + 1)).sum

  /** A vocabulary term drawn with probability ∝ 1/rank. */
  def zipfTerm(r: java.util.SplittableRandom): String = {
    val u = r.nextDouble() * harmonic
    var acc = 0.0
    Gen.Vocabulary.indices.find { k => acc += 1.0 / (k + 1); acc >= u }
      .map(Gen.Vocabulary).getOrElse(Gen.Vocabulary.last)
  }
}
