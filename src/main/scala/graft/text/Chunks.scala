package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Passage chunking and chunk-granular deduplication (SURVEY §2-G).
  *
  * The training-loader / RAG primitive between whole-document dedup and
  * substring anchors: documents are cut into fixed-width word windows on
  * a deterministic grid, each window carries a content digest, and the
  * dedup pass elects one keeper per distinct window content corpus-wide
  * (the C4 recipe's "remove repeated lines" step, re-expressed at window
  * granularity because this corpus is single-line by construction — the
  * grid plays the role newline boundaries play in prose).
  *
  * Everything here is exact integer / digest arithmetic over a pure
  * function of (doc text, grid), so both operators sit under the DuckDB
  * hash gate: the word split is the whitespace `toksExpr` discipline,
  * the grid is integer division, the digest is md5 of the
  * space-rejoined window (identical in both engines), and keeper
  * election is the lexicographic min of (doc_id, chunk_idx) — the
  * dedup_exact rule extended to a position inside the doc so INTRA-doc
  * repetition dedups too (second occurrence loses to the first).
  *
  * Scale: chunking is a stateless per-row pass (explode ∝ corpus
  * words / width — the same fan-out pack_assign's consumers pay);
  * keeper election is ONE map-side-combinable hash agg on the digest
  * plus one digest equijoin back — the dedup_exact shuffle at chunk
  * cardinality, never pairwise. No windows, no sorts, no driver state. */
object Chunks {

  /** One row per (doc, chunk): deterministic non-overlapping word
    * windows of `width`, trailing partial window kept (its chunk_words
    * records the shortfall). Docs with no words emit nothing (integer
    * membership — both engines agree). */
  def chunkAssign(d: DataFrame, width: Int = 32): DataFrame = {
    require(width >= 1, s"bad width=$width")
    val w = lit(width.toLong)
    d.select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x != '')").as("words"))
      .withColumn("n_words", size(col("words")).cast("long"))
      .filter(col("n_words") > 0L)
      .select(col("doc_id"), col("words"), col("n_words"),
        explode(sequence(lit(0L), expr(s"(n_words - 1) div ${width}L")))
          .as("chunk_idx"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        (col("chunk_idx") * w).as("start_word"),
        least(w, col("n_words") - col("chunk_idx") * w).as("chunk_words"),
        md5(concat_ws(" ",
          slice(col("words"), (col("chunk_idx") * w + 1L).cast("int"),
            lit(width))))
          .as("chunk_digest"))
  }

  /** Persist the corpus's chunk-digest KEEPER index as a bucketed
    * external table (bucketBy digest — the writeAnchorIndex posture,
    * extending the persisted-index story to chunk dedup): one row per
    * distinct chunk content with its elected keeper, so a rolling crawl
    * can probe "have we seen this passage" without re-chunking the
    * corpus. Build = the chunkDedup keeper election (one digest agg);
    * probe = [[chunkDedupIncremental]]. */
  def writeChunkIndex(d: DataFrame, tableName: String, path: String,
      width: Int = 32, buckets: Int = 8): Unit =
    // one generation behind the artifact pointer (Staged.commit): the
    // live index serves while the new generation builds
    graft.sources.Staged.commit(d.sparkSession, tableName, path)(_.write() {
      (tbl, p) =>
        chunkAssign(d, width)
          .groupBy(col("chunk_digest"))
          .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("keeper"))
          .select(col("chunk_digest"), col("keeper.doc_id").as("keeper_doc"),
            col("keeper.chunk_idx").as("keeper_idx"))
          .repartition(col("chunk_digest"))
          .write
          .option("path", p)
          .bucketBy(buckets, "chunk_digest")
          .sortBy("chunk_digest")
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .saveAsTable(tbl)
    })

  /** The maximum chunks one document may hold under the composite
    * chunk id ([[chunkCorpus]]): 2²⁰ chunks × width-32 words ≈ 33M
    * words per doc — far past any real document; the bound is ENFORCED
    * in-plan (the momentGuard posture), never silently wrapped. */
  private[graft] val MaxChunksPerDoc = 1L << 20

  /** One row per (doc, chunk) carrying the chunk's TEXT and a single
    * composite id `doc_id · 2²⁰ + chunk_idx` (r17) — the relation that
    * lets any doc-keyed text operator run at PASSAGE granularity
    * unchanged (chunk_search feeds it to the BM25 scorer verbatim).
    * The composite id is a pure integer function both engines compute
    * identically and decode with one div/mod; the 2²⁰ bound carries an
    * in-plan assert (a doc over ~33M words raises a named error
    * instead of colliding ids). Chunk text re-splits to exactly its
    * own word window (words are ' '-split, so slice + ' '-join round
    * trips). Stateless per-row pass, fan-out ∝ corpus words / width. */
  /** The composite-id fence expression (shared by both chunk faces). */
  private def idGuard = coalesce(
    assert_true(col("chunk_idx") < lit(MaxChunksPerDoc),
      concat(lit("composite chunk-id fence: chunk_idx "),
        col("chunk_idx").cast("string"),
        lit(s" reaches $MaxChunksPerDoc — the doc_id·2^20 + idx id " +
          "would collide across docs; raise the width or widen the " +
          "id instead of letting ids alias"))).cast("long"),
    lit(0L))

  /** Shared chunk-grid prefix: one ' '-split pass + the chunk-index
    * explode — (doc_id, lang, words, chunk_idx). The ONE word-split of
    * the chunk family; both faces ([[chunkCorpus]] text,
    * [[chunkDocsTok]] tokens) slice the same `words`. */
  private def chunkRows(d: DataFrame, width: Int): DataFrame = {
    require(width >= 1, s"bad width=$width")
    // lang rides along when the input carries it (the doc_similar
    // family blocks on it); a lang-less relation (chunk_search only
    // needs text) gets an empty-string block
    val langCol =
      if (d.columns.contains("lang")) col("lang") else lit("").as("lang")
    d.select(col("doc_id"), langCol,
        expr("filter(split(text, ' '), x -> x != '')").as("words"))
      .withColumn("n_words", size(col("words")).cast("long"))
      .filter(col("n_words") > 0L)
      .select(col("doc_id"), col("lang"), col("words"),
        explode(sequence(lit(0L), expr(s"(n_words - 1) div ${width}L")))
          .as("chunk_idx"))
  }

  def chunkCorpus(d: DataFrame, width: Int = 32): DataFrame = {
    val w = lit(width.toLong)
    chunkRows(d, width)
      .select(col("doc_id"), col("lang"), col("chunk_idx"),
        (col("doc_id") * lit(MaxChunksPerDoc) + col("chunk_idx") + idGuard)
          .as("chunk_id"),
        concat_ws(" ", slice(col("words"),
          (col("chunk_idx") * w + 1L).cast("int"), lit(width)))
          .as("text"))
  }

  /** The chunk corpus AS a document relation — (doc_id = composite
    * chunk id, lang, text), the shape every doc-keyed text operator
    * consumes. [[chunkSearch]] is this + the BM25 scorer; r15's
    * `chunk_similar_persisted` is this + the doc_similar persisted
    * vector index — the chunk grid composes with the whole doc-keyed
    * family for free, which is the point of the composite id. */
  def chunkDocs(d: DataFrame, width: Int = 32): DataFrame =
    chunkCorpus(d, width)
      .select(col("chunk_id").as("doc_id"), col("lang"), col("text"))

  /** [[chunkDocs]] with the chunk TOKENS pre-sliced from the one
    * word-split pass (r21, the r20 verdict's #5 — restructure, don't
    * spread): a chunk's text is `concat_ws(' ', slice(words, …))` of
    * non-empty space-free words, so `filter(split(lower(text), ' '),
    * != '')` — what every downstream tokenizer computes — is exactly
    * `transform(slice(words, …), lower)`: emit that as `toks`, marked
    * with [[graft.text.TextOps.asLowerToks]], and the
    * bm25/posting/vector builds ([[graft.text.TextOps.lowerToks]])
    * skip the concat + re-split entirely. The chunk family previously
    * paid the word-split THREE times per hybrid-serve build (chunk
    * explode + postings tokenize + vector tokenize); with this face it
    * pays it once. Token-identity to the text path is spec-pinned
    * (ChunkSpec); consumers that need the chunk TEXT itself (the grid
    * digests) keep [[chunkCorpus]]. */
  def chunkDocsTok(d: DataFrame, width: Int = 32): DataFrame =
    chunkRows(d, width)
      .select(
        (col("doc_id") * lit(MaxChunksPerDoc) + col("chunk_idx") + idGuard)
          .as("doc_id"),
        col("lang"),
        graft.text.TextOps.asLowerToks(expr(
          s"transform(slice(words, CAST(chunk_idx * $width + 1 AS INT), " +
            s"$width), w -> lower(w))")))

  /** PASSAGE-granular BM25 retrieval (r17) — the actual RAG/eval
    * retrieval unit (document-level search returns a 10k-word doc when
    * the query matched one paragraph; serving wants the chunk): the
    * [[chunkCorpus]] relation feeds [[graft.text.TextOps.bm25Search]]
    * VERBATIM — same idf snap, same integer-micro summation, same
    * half-up display — so chunk scores are exactly what the doc scorer
    * would emit on a corpus of chunk-documents, and the oracle is the
    * bm25 SQL instantiated over the chunk relation (the parameterized
    * q4/budget-CTE discipline). Output decodes the composite id back
    * to (doc_id, chunk_idx). Per-chunk dl is the chunk's OWN length,
    * so long docs no longer drown a matching passage in their length
    * normalization — the retrieval argument for chunking. */
  def chunkSearch(d: DataFrame, terms: Seq[String],
      width: Int = 32): DataFrame =
    graft.text.TextOps.bm25Search(chunkDocsTok(d, width), terms)
      .select(
        expr(s"doc_id div ${MaxChunksPerDoc}L").as("doc_id"),
        expr(s"doc_id % ${MaxChunksPerDoc}L").as("chunk_idx"),
        col("n_terms_matched"), col("score"))

  /** PASSAGE-granular HYBRID retrieval (r16 verdict #2) — the actual
    * RAG serving query: ONE standing query (the seed term set) served
    * as the RRF fusion of the two chunk retrieval modalities this
    * engine already checks separately — the [[chunkSearch]] BM25
    * member (keyword relevance, per-chunk length normalization) and a
    * chunk-COSINE member where the query string itself is vectorized
    * per language against the FROZEN chunk vocabulary
    * ([[graft.text.TextOps.docSimilarPersisted]] over a one-row-per-
    * lang pseudo-document relation — the standing-query posture
    * applied to the vector index: zero corpus tokenization at query
    * time) and scored against the persisted chunk vectors. Fusion is
    * [[graft.similarity.Hybrid.fuseRanked]] — the identical integer
    * reciprocal-mass arithmetic as doc-level hybrid_search_rrf.
    *
    * Scale shape: BOTH member rankings are GLOBAL top-k cuts through
    * the bounded [[graft.text.Prf.topDocs]] MinKByKey aggregate (a
    * corpus-wide match list is NOT bounded — ranking it with a window
    * would be a single-reducer sort of every matching chunk; the
    * bounded cut ships ≤ kMember rows per partition), so the fusion
    * join and the serving window run over ≤ kLex + kSem rows. Both
    * caps are declared member depths (the RRF-standard top-k fusion,
    * not silent truncation — ranks past the cut contribute ≤
    * 1e9/(60+k) mass and cannot reach the served page for any serving
    * k ≪ kMember).
    *
    * Everything is grid/integer arithmetic (bm25 micro-units, 1e-4
    * cosine grid, integer masses), so the full composition sits under
    * the DuckDB hash gate: the oracle instantiates the bm25 SQL over
    * the chunk relation, derives the query vector from the df-banded
    * chunk vocabulary CTEs, and repeats the fusion — one SQL, the
    * whole serving path cross-checked. */
  def chunkHybridRrf(spark: org.apache.spark.sql.SparkSession,
      cd: DataFrame, vecTable: String, vocabTable: String,
      terms: Seq[String] = graft.text.Prf.SeedQuery,
      tauSem: Double = 0.05, kLex: Int = 50, kSem: Int = 50,
      k: Int = 10): DataFrame = {
    require(kLex >= k && kSem >= k,
      s"member depth below serving k: kLex=$kLex kSem=$kSem k=$k")
    require(terms.nonEmpty && terms.distinct == terms,
      s"query terms must be distinct and non-empty: $terms")
    // `cd` is the [[chunkDocs]] relation — the SAME one the vector
    // index was built from: both members derive from one grid by
    // construction, so a width mismatch between the BM25 member's
    // composite ids and the index's frozen ids (two different id
    // spaces silently full-outer-joined — the composite-id aliasing
    // class) is UNCONSTRUCTIBLE through this signature
    val lexScored = graft.text.TextOps.bm25Search(cd, terms)
    val lexR = Prf.topDocs(lexScored, kLex)
      .select(col("doc_id").as("cand_id"), col("rnk").as("lex_rank"))
      .withColumn("doc_id", lit(0L))
    // the query string as a pseudo-document PER LANGUAGE (the chunk
    // vector space is lang-scoped): one row per lang, vectorized
    // against the frozen vocab by the persisted probe verbatim; the
    // -1 pseudo-id can never collide with a composite chunk id
    val queryRel = cd.select(col("lang")).distinct()
      .select(lit(-1L).as("doc_id"), col("lang"),
        lit(terms.mkString(" ")).as("text"))
    val semScored = graft.text.TextOps.docSimilarPersisted(
        spark, queryRel, vecTable, vocabTable, lit(true), tauSem)
      .select(col("similar_id").as("doc_id"), col("score"))
    val semR = Prf.topDocs(semScored, kSem)
      .select(col("doc_id").as("cand_id"), col("rnk").as("sem_rank"))
      .withColumn("doc_id", lit(0L))
    graft.similarity.Hybrid.topK(
        graft.similarity.Hybrid.fuseRanked(lexR, semR), k)
      .select(
        expr(s"cand_id div ${MaxChunksPerDoc}L").as("doc_id"),
        expr(s"cand_id % ${MaxChunksPerDoc}L").as("chunk_idx"),
        col("lex_rank"), col("sem_rank"), col("rrf_micro"), col("rnk"))
  }

  /** [[chunkHybridRrf]] served ENTIRELY from persisted artifacts — the
    * face a live router probes (r17 verdict #4): the lexical member is
    * BM25 against the persisted chunk-granular postings index
    * ([[graft.text.TextOps.searchIndex]] — result-identical to the
    * ad-hoc `bm25Search` over the same relation, the
    * text_search_indexed transparent-hop), the semantic member
    * vectorizes the query string per lang against the frozen chunk
    * vocabulary exactly as the batch face does, and the language set
    * comes from the FROZEN vocab table instead of the corpus (a lang
    * absent from the vocab has no in-band terms, vectorizes to
    * nothing, and contributes no pairs either way — result-identical).
    * ZERO corpus passes at query time: both members are index probes,
    * so per-query cost is independent of corpus size — the property
    * the streaming dual ([[graft.streaming.Streaming
    * .runChunkHybridProbe]]) needs. Shares chunk_hybrid_rrf's oracle
    * (every hop transparent; ChunkSpec pins row-identity to the
    * ad-hoc face). */
  def chunkHybridServe(spark: org.apache.spark.sql.SparkSession,
      postingsTable: String, vecTable: String, vocabTable: String,
      terms: Seq[String] = graft.text.Prf.SeedQuery,
      tauSem: Double = 0.05, kLex: Int = 50, kSem: Int = 50,
      k: Int = 10): DataFrame =
    chunkHybridServeCore(spark,
      graft.text.TextOps.searchIndex(spark, postingsTable, terms),
      (queryRel, tau) => graft.text.TextOps.docSimilarPersisted(
        spark, queryRel, vecTable, vocabTable, lit(true), tau),
      vocabTable, terms, tauSem, kLex, kSem, k)

  /** [[chunkHybridServe]] over base ∪ delta ON BOTH MEMBERS (r24, r18
    * verdict #2 — the chunk-granular tokenize is the most expensive
    * build in the tree, 8.5 s of chunk_hybrid_serve's 9.9 s cold at
    * sf0.1; a crawl batch must extend BOTH chunk indexes without
    * re-paying it): the lexical member probes the chunk postings
    * base ∪ delta ([[graft.text.TextOps.searchIndexDelta]] — exact,
    * additive stats), the semantic member scores the frozen-base-vocab
    * query vector against base ∪ delta chunk vectors
    * ([[graft.text.TextOps.docSimilarPersistedDelta]] — the frozen-
    * vocab serving semantic), fusion untouched. The lexical hop is
    * transparent (≡ ad-hoc BM25 over the union chunk corpus); the
    * semantic member serves delta chunks vectorized against the BASE
    * vocabulary — so the oracle is the chunk-hybrid SQL with its
    * vocabulary CTEs instantiated over the base split only (the
    * doc_similar_delta two-relation parameterized-CTE posture). */
  def chunkHybridServeDelta(spark: org.apache.spark.sql.SparkSession,
      postingsTable: String, vecTable: String, vocabTable: String,
      terms: Seq[String] = graft.text.Prf.SeedQuery,
      tauSem: Double = 0.05, kLex: Int = 50, kSem: Int = 50,
      k: Int = 10): DataFrame =
    chunkHybridServeCore(spark,
      graft.text.TextOps.searchIndexDelta(spark, postingsTable, terms),
      (queryRel, tau) => graft.text.TextOps.docSimilarPersistedDelta(
        spark, queryRel, vecTable, vocabTable, lit(true), tau),
      vocabTable, terms, tauSem, kLex, kSem, k)

  /** The ONE persisted-hybrid serving tail (member cuts → RRF fusion →
    * composite-id decode) shared by [[chunkHybridServe]] and
    * [[chunkHybridServeDelta]] — the faces differ only in which index
    * resolution each member probes, so the fusion arithmetic cannot
    * drift between them. `semMember` receives the per-lang pseudo-doc
    * query relation (langs from the FROZEN vocab — a lang absent from
    * the vocab has no in-band terms and contributes no pairs either
    * way) and the τ threshold. */
  private def chunkHybridServeCore(
      spark: org.apache.spark.sql.SparkSession, lexScored: DataFrame,
      semMember: (DataFrame, Double) => DataFrame, vocabTable: String,
      terms: Seq[String], tauSem: Double, kLex: Int, kSem: Int,
      k: Int): DataFrame = {
    require(kLex >= k && kSem >= k,
      s"member depth below serving k: kLex=$kLex kSem=$kSem k=$k")
    require(terms.nonEmpty && terms.distinct == terms,
      s"query terms must be distinct and non-empty: $terms")
    val lexR = Prf.topDocs(lexScored, kLex)
      .select(col("doc_id").as("cand_id"), col("rnk").as("lex_rank"))
      .withColumn("doc_id", lit(0L))
    val queryRel = graft.sources.Staged.table(spark, vocabTable)
      .select(col("lang")).distinct()
      .select(lit(-1L).as("doc_id"), col("lang"),
        lit(terms.mkString(" ")).as("text"))
    val semScored = semMember(queryRel, tauSem)
      .select(col("similar_id").as("doc_id"), col("score"))
    val semR = Prf.topDocs(semScored, kSem)
      .select(col("doc_id").as("cand_id"), col("rnk").as("sem_rank"))
      .withColumn("doc_id", lit(0L))
    graft.similarity.Hybrid.topK(
        graft.similarity.Hybrid.fuseRanked(lexR, semR), k)
      .select(
        expr(s"cand_id div ${MaxChunksPerDoc}L").as("doc_id"),
        expr(s"cand_id % ${MaxChunksPerDoc}L").as("chunk_idx"),
        col("lex_rank"), col("sem_rank"), col("rrf_micro"), col("rnk"))
  }

  /** PASSAGE-granular BM25 over base ∪ delta chunk postings — the
    * [[chunkSearch]] result served from a delta-maintained index (r24):
    * [[graft.text.TextOps.searchIndexDelta]] over the chunk-granular
    * postings, composite ids decoded back to (doc_id, chunk_idx).
    * Result-identical to [[chunkSearch]] over the union corpus (the
    * text_search_delta transparency at chunk granularity — chunk ids
    * are disjoint because the underlying doc split is), so it shares
    * chunk_search's oracle verbatim. */
  def chunkSearchDelta(spark: org.apache.spark.sql.SparkSession,
      tableName: String, terms: Seq[String]): DataFrame =
    graft.text.TextOps.searchIndexDelta(spark, tableName, terms)
      .select(
        expr(s"doc_id div ${MaxChunksPerDoc}L").as("doc_id"),
        expr(s"doc_id % ${MaxChunksPerDoc}L").as("chunk_idx"),
        col("n_terms_matched"), col("score"))

  /** Incremental chunk dedup — the rolling-crawl shape (the
    * dedup_incremental posture at passage granularity): a NEW shard's
    * chunks probe the PERSISTED corpus index in one digest equijoin
    * (index side pre-bucketed — no corpus-side Exchange; only the shard
    * shuffles) and each shard doc reports how much of its content the
    * corpus has already seen vs the novel mass it adds — the number an
    * ingest gate thresholds before admitting a crawl batch. `seen`
    * means present in the CORPUS index only; intra-shard repetition is
    * the shard's own [[chunkDedup]] run (each pass keeps one concern).
    * The digest round trip is transparent (exact md5 equality, no caps,
    * no approximation boundary), so the oracle reproduces the whole
    * persisted pipeline relationally. */
  def chunkDedupIncremental(spark: org.apache.spark.sql.SparkSession,
      tableName: String, newDocs: DataFrame, width: Int = 32): DataFrame = {
    val idx = graft.sources.Staged.table(spark, tableName)
      .select(col("chunk_digest"), col("keeper_doc"))
    chunkAssign(newDocs, width)
      .join(idx, Seq("chunk_digest"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("keeper_doc").isNotNull, 1L).otherwise(0L))
          .as("n_seen"),
        sum(when(col("keeper_doc").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("keeper_doc").isNull, col("chunk_words"))
          .otherwise(0L)).as("words_new"))
  }

  /** Per-document survival accounting under corpus-wide chunk-keeper
    * election: a chunk survives iff it IS the lexicographically smallest
    * (doc_id, chunk_idx) holding its digest. Output per doc with ≥ 1
    * chunk: total/kept/duplicate chunk counts and the word mass kept —
    * the per-doc signal a curation pass thresholds on (a doc whose
    * chunks all lose is pure boilerplate already seen elsewhere). */
  def chunkDedup(d: DataFrame, width: Int = 32): DataFrame = {
    // the grid derivation (split + per-chunk md5) feeds TWO consumers
    // (the keeper election and the survival join) — materialize the
    // compact chunk table once instead of re-chunking the corpus per
    // consumer (the minhash banded-table pattern; §5's eager-
    // intermediates note covers the cluster-scale persist swap)
    val chunks = chunkAssign(d, width).localCheckpoint(true)
    val keepers = chunks.groupBy(col("chunk_digest"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("keeper"))
    chunks.join(keepers, Seq("chunk_digest"))
      .withColumn("kept",
        (col("keeper.doc_id") === col("doc_id")) &&
          (col("keeper.chunk_idx") === col("chunk_idx")))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dup"),
        sum(col("chunk_words")).as("words_total"),
        sum(when(col("kept"), col("chunk_words")).otherwise(0L))
          .as("words_kept"))
  }
}
