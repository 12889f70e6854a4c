package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.MinKByKey

/** Pseudo-relevance-feedback query expansion (RM3-style, Rocchio/
  * Lavrenko lineage) — the retrieval-side trick a data pipeline uses to
  * widen a seed query without a model: run the seed BM25 query, mine
  * the top-k₀ result docs for their highest tf-idf-mass terms that are
  * NOT already in the query, and re-run BM25 with the union. Completes
  * the search-service story next to text_search_bm25 (seed), chunk
  * search, hybrid RRF, and the persisted postings index.
  *
  * House numeric contract, end to end: the seed scores are the bm25
  * micro-unit chain (hash-gate-exact), the top-k₀ cut orders on the
  * 1e-4-grid score with a doc_id tie-break, expansion mass is the
  * doc_keywords integer chain (tf · grid-snapped idf_micro, BIGINT
  * sums — [[TextOps.tfidfMicroTable]], one definition), the top-m term
  * cut orders on (mass desc, term asc), and the final ranking is again
  * the bm25 chain over the unioned term TABLE
  * ([[TextOps.bm25SearchTerms]]). Every cut is an integer-or-grid
  * predicate, so both rows and ranks reproduce bit-exactly in DuckDB.
  *
  * Scale shape: both global top-k cuts run the bounded [[MinKByKey]]
  * aggregate (map-side combine ships ≤ k rows per input partition —
  * never a corpus sort; the sample_exact_k doctrine); the expansion
  * window runs over the top-k₀ docs' OWN vocabulary (≤ k₀ · max doc
  * length rows — the bounded-chunk-table precedent); the df floor
  * keeps near-singleton terms from hijacking the expansion with huge
  * idf. */
object Prf {

  /** The corpus's standing probe query (shared with text_search_bm25 /
    * chunk_search). */
  val SeedQuery: Seq[String] = Seq("vector", "stream", "window", "hash")

  private val KeyPad = 999999999999999999L

  /** Engine-side cut key: descending 1e-4-grid score as an ascending
    * fixed-width digit string for [[MinKByKey]]. score·10⁴ recovers the
    * integer grid value exactly (grid values ≪ 2⁵², so the relative
    * double error is far below the final half-up's 0.5 slack). Engine-
    * only construct — the oracle cuts with row_number over
    * (score DESC, doc_id), an order-equivalent key. */
  private def scoreKey: Column =
    format_string("%019d",
      lit(KeyPad) - round(col("score") * lit(10000.0), 0).cast("long"))

  /** Global exact top-k over a scored doc table: ONE group, bounded
    * buffer, no sort anywhere (PlanSpec asserts the shape). Returns
    * (doc_id, rnk) with rnk = 1-based position in (score desc, doc_id)
    * order. */
  private[graft] def topDocs(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy()
      .agg(MinKByKey(struct(scoreKey.as("key"), col("doc_id").as("id")),
        k).as("picks"))
      .select(posexplode(col("picks")))
      .select(col("col.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("rnk"))

  /** The mined expansion dictionary: top-m terms by summed tf-idf micro
    * mass over the seed query's top-k₀ docs, seed terms excluded, df ≥
    * `minDf` (a df-1 term in a feedback doc has the corpus-max idf and
    * would hijack the expansion with a pure singleton — the docSimilar
    * minDf rationale). Registered as its own row (the word_assoc
    * dictionary posture); [[searchPrf]]'s oracle embeds the identical
    * CTE chain verbatim. */
  def prfTerms(d: DataFrame, q0: Seq[String] = SeedQuery, k0: Int = 10,
      m: Int = 5, minDf: Long = 2L): DataFrame =
    prfTermsFrom(d, TextOps.bm25Search(d, q0), q0, k0, m, minDf)

  /** [[prfTerms]] over an ALREADY-SCORED seed ranking — the shared face
    * (r21, guide §1.2 step 1: don't compute things twice):
    * [[expansionEval]] checkpoints the seed scoring for its own overlap
    * row, and routing that same frame here removes a full corpus
    * tokenize + BM25 pass from the expansion chain. `seedScored` must
    * be exactly `TextOps.bm25Search(d, q0)` (or a materialization of
    * it) — the public faces construct it themselves. */
  private def prfTermsFrom(d: DataFrame, seedScored: DataFrame,
      q0: Seq[String], k0: Int, m: Int, minDf: Long): DataFrame = {
    require(q0.nonEmpty && k0 >= 1 && m >= 1 && minDf >= 1L,
      s"bad params q0=$q0 k0=$k0 m=$m minDf=$minDf")
    val r0 = topDocs(seedScored, k0).select("doc_id")
    TextOps.tfidfMicroTable(d)
      .join(broadcast(r0), "doc_id")
      .filter(col("df") >= minDf && !col("term").isin(q0: _*))
      .groupBy(col("term"))
      .agg(sum(col("micro")).as("mass_micro"))
      // the feedback vocabulary is bounded by k0 · max doc length — a
      // window over this tiny derived table, never the corpus
      .withColumn("trank", row_number().over(
        Window.orderBy(col("mass_micro").desc, col("term"))).cast("long"))
      .filter(col("trank") <= m)
      .select(col("term"), col("mass_micro"), col("trank"))
  }

  /** What the expansion CHANGED — the diagnostic a retrieval owner
    * reads before trusting PRF (expansion can drift a query off-topic;
    * the overlap against the seed ranking is the standard sanity
    * number): ONE exact-integer row comparing the seed top-n and the
    * expanded top-n — common/new/dropped docs at the cut plus both
    * matched-doc populations. Both rankings are the same bounded
    * MinKByKey cut; set arithmetic via one full-outer join on doc_id.
    * count(CASE..)-style count(when) so an empty corpus yields zeros. */
  def expansionEval(d: DataFrame, q0: Seq[String] = SeedQuery,
      k0: Int = 10, m: Int = 5, n: Int = 20,
      minDf: Long = 2L): DataFrame = {
    val seedScored = TextOps.bm25Search(d, q0).localCheckpoint(true)
    val seedTop = topDocs(seedScored, n)
      .select(col("doc_id"), lit(1).as("in_seed"))
    // the expanded ranking derives its feedback set from the SAME
    // checkpointed seed scoring as the overlap row (r21): one seed
    // BM25 pass instead of two, rows identical by construction
    val expTop = searchPrfFrom(d, seedScored, q0, k0, m, n, minDf)
      .select(col("doc_id"), lit(1).as("in_exp"))
    val j = seedTop.join(expTop, Seq("doc_id"), "full_outer")
    j.agg(
        count(when(col("in_seed").isNotNull && col("in_exp").isNotNull,
          lit(1))).as("n_common"),
        count(when(col("in_seed").isNull, lit(1))).as("n_new"),
        count(when(col("in_exp").isNull, lit(1))).as("n_dropped"))
      .crossJoin(seedScored.agg(count(lit(1)).as("n_seed_matched")))
  }

  /** The expanded search: BM25 over seed ∪ expansion terms (disjoint by
    * construction — [[prfTerms]] excludes the seed), served as the
    * global top-n cut with full score provenance. */
  def searchPrf(d: DataFrame, q0: Seq[String] = SeedQuery, k0: Int = 10,
      m: Int = 5, n: Int = 20, minDf: Long = 2L): DataFrame =
    searchPrfFrom(d, TextOps.bm25Search(d, q0), q0, k0, m, n, minDf)

  /** [[searchPrf]] over an already-scored seed ranking — see
    * [[prfTermsFrom]]. */
  private def searchPrfFrom(d: DataFrame, seedScored: DataFrame,
      q0: Seq[String], k0: Int, m: Int, n: Int, minDf: Long): DataFrame = {
    require(n >= 1, s"bad n=$n")
    val spark = d.sparkSession
    val seed = spark.createDataset(q0)(org.apache.spark.sql.Encoders.STRING)
      .toDF("term")
    val qterms = seed.unionByName(
      prfTermsFrom(d, seedScored, q0, k0, m, minDf).select("term"))
    // two consumers (the cut and the provenance join): one pass
    val scored = TextOps.bm25SearchTerms(d, qterms).localCheckpoint(true)
    topDocs(scored, n)
      .join(scored, "doc_id")
      .select(col("doc_id"), col("n_terms_matched"), col("score"),
        col("rnk"))
  }

  /** [[prfTerms]] against the PERSISTED postings index
    * ([[TextOps.writeTextIndex]]) — the expansion dictionary with ZERO
    * corpus tokenize passes (r16 verdict Missing #3: an expanded query
    * at 100 TB must not re-tokenize the corpus): the seed ranking is
    * [[TextOps.searchIndex]] (frozen postings + stats), the feedback
    * docs' term masses come from THEIR OWN postings rows (tf rides in
    * the index), df per term rolls up from the bucketed postings scan
    * (no Exchange — the table is bucketed by term, the agg key), and
    * the idf denominator is the frozen `n_docs_tok` stat (the
    * tokenized-doc count — tfidfMicroTable's n_docs definition, which
    * differs from the raw doc count exactly on empty-text docs).
    * Every quantity round-trips the index exactly (tf/df/dl are
    * integers, the stats are frozen BIGINTs), so the mined dictionary
    * is ROW-IDENTICAL to the ad-hoc face — PrfSpec pins it, and
    * `search_prf_persisted` shares `search_prf`'s oracle verbatim (the
    * vocab_coverage_persisted transparent-hop posture). */
  def prfTermsIndexed(spark: org.apache.spark.sql.SparkSession,
      indexTable: String, q0: Seq[String] = SeedQuery, k0: Int = 10,
      m: Int = 5, minDf: Long = 2L): DataFrame = {
    require(k0 >= 1, s"bad k0=$k0")
    val snap = graft.sources.Staged.resolve(spark, indexTable)
    prfTermsOver(
      snap.table(indexTable),
      snap.table(s"${indexTable}_stats").select(col("n_docs_tok")),
      topDocs(TextOps.searchIndex(spark, indexTable, q0), k0)
        .select("doc_id"),
      q0, m, minDf)
  }

  /** [[prfTermsIndexed]] over base ∪ delta ([[TextOps.indexWithDelta]]
    * — the ONE delta resolution): the mined dictionary over a corpus
    * that took a crawl delta, with zero rebuild and zero tokenize.
    * Result-identical to the ad-hoc [[prfTerms]] over the union corpus
    * (df and n_docs_tok merge as additive integers, the feedback block
    * derives from the delta-aware seed ranking), so it shares
    * prf_terms' oracle verbatim. */
  def prfTermsDelta(spark: org.apache.spark.sql.SparkSession,
      indexTable: String, q0: Seq[String] = SeedQuery, k0: Int = 10,
      m: Int = 5, minDf: Long = 2L): DataFrame = {
    require(k0 >= 1, s"bad k0=$k0")
    val (postings, stats) = TextOps.indexWithDelta(spark, indexTable)
    prfTermsOver(postings, stats.select(col("n_docs_tok")),
      topDocs(TextOps.searchIndexDelta(spark, indexTable, q0), k0)
        .select("doc_id"),
      q0, m, minDf)
  }

  /** The ONE expansion-mining chain over explicit (postings,
    * n_docs_tok, seed-ranked docs) frames — shared by the persisted
    * and delta faces so the dictionary definition cannot drift. */
  private def prfTermsOver(postings: DataFrame, nTok: DataFrame,
      r0: DataFrame, q0: Seq[String], m: Int, minDf: Long): DataFrame = {
    require(q0.nonEmpty && m >= 1 && minDf >= 1L,
      s"bad params q0=$q0 m=$m minDf=$minDf")
    // the feedback block is bounded by k0 · max doc length rows —
    // broadcast it so the vocab-sized df rollup streams over the
    // bucketed postings scan with no shuffle on the index side
    val fb = postings.join(broadcast(r0), "doc_id")
      .filter(!col("term").isin(q0: _*))
      .select(col("doc_id"), col("term"), col("tf"))
    // df from the WHOLE postings table, deliberately: the table is
    // bucketed+sorted by term, so this agg is in-bucket map-side work
    // with ZERO Exchange and a vocab-sized output — while pruning to
    // the feedback term set first would need either a broadcast
    // equijoin (which does NOT push into the scan: same bytes read,
    // plus a second fb derivation) or a driver-collected literal isin
    // (real scan pruning, but a collect on the query path); the scan
    // is the persisted family's standard per-probe cost and the
    // "zero corpus TOKENIZE passes" claim is unaffected either way
    val dfT = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    dfT.join(broadcast(fb), "term")
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(nTok))
      .withColumn("micro", col("tf") *
        round(log(col("n_docs_tok") / col("df")) * lit(1000000.0), 0)
          .cast("long"))
      .groupBy(col("term"))
      .agg(sum(col("micro")).as("mass_micro"))
      // the feedback vocabulary is bounded — window over the tiny
      // derived table, never the corpus (the prfTerms shape)
      .withColumn("trank", row_number().over(
        Window.orderBy(col("mass_micro").desc, col("term"))).cast("long"))
      .filter(col("trank") <= m)
      .select(col("term"), col("mass_micro"), col("trank"))
  }

  /** [[searchPrf]] served ENTIRELY from the persisted postings index —
    * seed ranking, expansion mining, and the expanded search are all
    * bucketed index probes ([[TextOps.searchIndex]] /
    * [[prfTermsIndexed]] / [[TextOps.searchIndexTerms]]); the corpus is
    * tokenized ZERO times at query time. Result-identical to the
    * ad-hoc face (every tf/df/dl/stat round-trips the index exactly and
    * the scoring tail is the ONE [[TextOps.bm25ScoreTail]]), so the
    * registered row shares `search_prf`'s oracle verbatim. */
  def searchPrfIndexed(spark: org.apache.spark.sql.SparkSession,
      indexTable: String, q0: Seq[String] = SeedQuery, k0: Int = 10,
      m: Int = 5, n: Int = 20, minDf: Long = 2L): DataFrame = {
    require(n >= 1, s"bad n=$n")
    val seed = spark.createDataset(q0)(org.apache.spark.sql.Encoders.STRING)
      .toDF("term")
    val qterms = seed.unionByName(
      prfTermsIndexed(spark, indexTable, q0, k0, m, minDf).select("term"))
    // two consumers (the cut and the provenance join): one pass
    val scored = TextOps.searchIndexTerms(spark, indexTable, qterms)
      .localCheckpoint(true)
    topDocs(scored, n)
      .join(scored, "doc_id")
      .select(col("doc_id"), col("n_terms_matched"), col("score"),
        col("rnk"))
  }

  /** [[searchPrfIndexed]] over base ∪ delta — the WHOLE PRF serving
    * chain (seed ranking, expansion mining, expanded search) survives
    * a crawl delta with zero rebuild and zero tokenize: every stage
    * probes [[TextOps.indexWithDelta]]'s merged resolution. The delta
    * hop is transparent at every stage (additive integer stats, the
    * ONE scoring tail), so the result equals the ad-hoc [[searchPrf]]
    * over the union corpus — the registered row shares `search_prf`'s
    * oracle verbatim; PrfSpec pins the three faces (ad-hoc, persisted
    * full-rebuild, base + delta) row-identical. */
  def searchPrfDelta(spark: org.apache.spark.sql.SparkSession,
      indexTable: String, q0: Seq[String] = SeedQuery, k0: Int = 10,
      m: Int = 5, n: Int = 20, minDf: Long = 2L): DataFrame = {
    require(n >= 1, s"bad n=$n")
    val seed = spark.createDataset(q0)(org.apache.spark.sql.Encoders.STRING)
      .toDF("term")
    val qterms = seed.unionByName(
      prfTermsDelta(spark, indexTable, q0, k0, m, minDf).select("term"))
    val scored = TextOps.searchIndexDeltaTerms(spark, indexTable, qterms)
      .localCheckpoint(true)
    topDocs(scored, n)
      .join(scored, "doc_id")
      .select(col("doc_id"), col("n_terms_matched"), col("score"),
        col("rnk"))
  }
}
