package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.DotProduct

/** Hybrid retrieval — reciprocal-rank fusion (RRF) of the two retrieval
  * modalities this engine already serves oracle-checked (SURVEY §2-F/G):
  * the LEXICAL member is the doc_similar tf-idf cosine pair set
  * ([[graft.text.TextOps.docSimilar]] — inverted-index formulation,
  * integer weights, 1e-4-grid scores) and the SEMANTIC member is
  * embedding cosine against the `embeddings` table (the dedup_embedding
  * kernel chain over [[Knn.embOf]]'s fenced frame). RRF (Cormack,
  * Clarke & Büttcher, SIGIR'09) is the standard training-data/RAG recipe for combining a
  * term index with a vector index without score calibration: each
  * member contributes 1/(60+rank), so a candidate surfacing in BOTH
  * modalities outranks one that tops either alone.
  *
  * House numeric contract: member ranks are INTEGERS (row_number over
  * the 1e-4-grid member score with an id tie-break — deterministic and
  * engine-identical because the grid score itself is hash-gate-exact),
  * and the fused score is computed in INTEGER micro-units
  * (`1e9 div (60+rank)`, summed as BIGINT) — never a float reciprocal —
  * so fusion, final ordering, and the k-boundary reproduce bit-exactly
  * in DuckDB (quantization vs the textbook 1/(60+r) is ≤ 1e-9 per
  * member, far below any rank-flipping gap at served depths). A
  * candidate absent from a member carries rank 0 ("not retrieved") and
  * contributes zero mass — the full-outer-join shape, so either index
  * alone still serves.
  *
  * Scale shape: both members are τ-bounded lists, so ranking windows
  * run over candidate lists (bounded per query), never the corpus; the
  * registered row's members are the declared baselines (lang-blocked
  * pair join, brute slice×corpus kernel scan) and the 100 TB pair
  * sources swap in WITHOUT touching the fusion: docSimilarPrefix for
  * the lexical member (spec-proven row-identical) and the persisted
  * IVF probe ([[Knn.searchIvfIndex]], as [[hybridSearchIvf]] runs it)
  * for the semantic member — the dedup_clusters_lsh pair-source-swap
  * argument. The streaming face
  * ([[graft.streaming.Streaming.runHybridSearchProbe]]) probes the
  * persisted doc-vector index + the frozen embedding table per
  * micro-batch and reuses [[fuse]] verbatim.
  *
  * Reference: fgrzl/streamkit has no retrieval surface; this family
  * extends the training-data pipeline side (contamination triage, RAG
  * serving, mined hard-negative pooling all consume fused candidates).
  */
object Hybrid {

  /** Query-slice predicate (~1/4 of ids) — the doc_similar_persisted
    * md5-slice posture; concat_ws on BOTH engines (identical null
    * handling) and a salt so the slice is independent of every other
    * sampled family. */
  def slicePred(id: Column, salt: String = "hyb"): Column =
    substring(md5(concat_ws(":", id.cast("string"), lit(salt))), 1, 1) < "4"

  /** Direct an undirected pair table (id1 < id2) to slice endpoints:
    * each in-slice endpoint becomes a query seeing the other side as a
    * candidate (both-in-slice pairs serve both directions) — exactly
    * the doc_similar_persisted directed contract, so the lexical
    * member's directed set equals the persisted probe's output. */
  def directedMember(pairs: DataFrame, id1: String, id2: String,
      score: String, salt: String = "hyb"): DataFrame =
    pairs.filter(slicePred(col(id1), salt))
      .select(col(id1).as("doc_id"), col(id2).as("cand_id"),
        col(score).as("score"))
      .unionByName(
        pairs.filter(slicePred(col(id2), salt))
          .select(col(id2).as("doc_id"), col(id1).as("cand_id"),
            col(score).as("score")))

  /** Semantic member for an explicit query set: rounded cosine of each
    * query vector against every corpus vector, τ-bounded. One
    * definition for the batch slice AND the streaming probe (whose
    * queries are the arriving micro-batch). Inputs are [[Knn.embOf]]
    * frames (vec_id, v, nrm), so both sides are fenced. The join is the
    * declared brute baseline (the knn_brute broadcast-queries shape);
    * τ bounds the OUTPUT, and the persisted IVF probe swaps in as the
    * candidate source at corpus scale. */
  def semMemberFor(queries: DataFrame, corpus: DataFrame,
      tauSem: Double): DataFrame = {
    require(tauSem > 0.0, s"bad tauSem=$tauSem")
    val q = queries.select(col("vec_id").as("doc_id"), col("v").as("qv"),
      col("nrm").as("qnrm"))
    val c = corpus.select(col("vec_id").as("cand_id"), col("v").as("cv"),
      col("nrm").as("cnrm"))
    q.join(c, col("doc_id") =!= col("cand_id"))
      .withColumn("score",
        round(DotProduct(col("qv"), col("cv")) /
          (col("qnrm") * col("cnrm")), 4))
      .filter(col("score") >= tauSem)
      .select(col("doc_id"), col("cand_id"), col("score"))
  }

  /** Rank a member list within each query: row_number over the
    * 1e-4-grid score with the candidate-id tie-break (the
    * doc_similar_topk deterministic-k-boundary discipline). The window
    * partitions the τ-BOUNDED candidate list, never the corpus. */
  private def rankMember(m: DataFrame, rankName: String): DataFrame =
    m.withColumn(rankName, row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("cand_id"))).cast("long"))
      .select("doc_id", "cand_id", rankName)

  /** RRF-fuse two member lists (doc_id, cand_id, score) — ranks, then
    * integer reciprocal masses, full-outer on the candidate key so a
    * single-member candidate still scores. Shared VERBATIM by the
    * registered batch rows and the streaming probe (one-definition
    * discipline: a fusion drift can only break one place). Returns the
    * PRE-CUT fused table (doc_id, cand_id, lex_rank, sem_rank,
    * rrf_micro); [[topK]] applies the serving cut. */
  def fuse(lex: DataFrame, sem: DataFrame): DataFrame =
    fuseRanked(rankMember(lex, "lex_rank"), rankMember(sem, "sem_rank"))

  /** The fusion arithmetic alone, over PRE-RANKED member lists
    * (doc_id, cand_id, lex_rank) / (doc_id, cand_id, sem_rank) — the
    * face a GLOBALLY-cut member feeds: chunk_hybrid_rrf ranks its
    * members with the bounded [[graft.text.Prf.topDocs]] aggregate
    * (MinKByKey over (score desc, id) — rank-identical to
    * [[rankMember]]'s window on the same list, no corpus sort), then
    * fuses here. One definition of the reciprocal-mass arithmetic for
    * every face. */
  def fuseRanked(lexR: DataFrame, semR: DataFrame): DataFrame =
    lexR.join(semR, Seq("doc_id", "cand_id"), "full_outer")
      .na.fill(0L, Seq("lex_rank", "sem_rank"))
      .withColumn("rrf_micro", expr(
        "CASE WHEN lex_rank > 0 THEN 1000000000L div (60L + lex_rank) " +
          "ELSE 0L END + " +
        "CASE WHEN sem_rank > 0 THEN 1000000000L div (60L + sem_rank) " +
          "ELSE 0L END"))

  /** The serving cut: top-k per query by fused mass, candidate-id
    * tie-break — deterministic because rrf_micro is an exact BIGINT. */
  def topK(fused: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"bad k=$k")
    fused.withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("rrf_micro").desc, col("cand_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select("doc_id", "cand_id", "lex_rank", "sem_rank", "rrf_micro",
        "rnk")
  }

  /** The registered batch operator: query-by-example hybrid retrieval
    * for the md5 query slice, both members over the SAME corpus the
    * oracle sees. `lexPairs` defaults to the doc_similar pair join and
    * accepts docSimilarPrefix's row-identical output at scale (the
    * contaminationReport member-as-parameter posture). */
  def hybridSearch(d: DataFrame, e: DataFrame, k: Int = 10,
      tauLex: Double = 0.9, tauSem: Double = 0.3,
      lexPairs: Option[DataFrame] = None,
      salt: String = "hyb"): DataFrame =
    topK(fused(d, e, tauLex, tauSem, lexPairs, salt), k)

  /** `e` is the [[Knn.emb]]-normalized embedding table. */
  private def fused(d: DataFrame, e: DataFrame, tauLex: Double,
      tauSem: Double, lexPairs: Option[DataFrame],
      salt: String): DataFrame = {
    val pairs = lexPairs.getOrElse(graft.text.TextOps.docSimilar(d, tauLex))
    val lex = directedMember(pairs, "doc1", "doc2", "score", salt)
    val sem = semMemberFor(e.filter(slicePred(col("vec_id"), salt)), e,
      tauSem)
    fuse(lex, sem)
  }

  /** The 100 TB shape of [[hybridSearch]] — BOTH member sources swapped
    * for their scale paths without touching the fusion (the
    * dedup_clusters_lsh pair-source-swap argument, realized): the
    * lexical member rides [[graft.text.TextOps.docSimilarPrefix]]'s
    * τ-bounded candidate join (spec-proven ROW-IDENTICAL to the lang
    * block, so this swap changes nothing), and the semantic member
    * probes a PERSISTED bucketed IVF index ([[Knn.searchIvfIndex]] —
    * same rounded-cosine score definition as the brute member, zero
    * index-side Exchange) with an nprobe-bounded list scan instead of a
    * corpus scan. IVF pruning makes the semantic member an
    * nprobe-reached SUBSET of the brute member (same scores, possibly
    * compressed ranks) — rows-only by design (seeded k-means is not
    * ANSI-expressible); HybridSpec proves the planted equivalence: at
    * nprobe = nlist the probe reaches everything and the fused output
    * equals [[hybridSearch]] row-for-row. kSem bounds the semantic
    * member's per-query depth — a bounded-coverage cap, so it carries
    * drop accounting: [[capAudit]] (registered `hybrid_cap_audit`)
    * counts the queries whose full τ-passing list exceeds kSem against
    * the exact brute member. */
  def hybridSearchIvf(spark: org.apache.spark.sql.SparkSession,
      d: DataFrame, e: DataFrame, indexTable: String, path: String,
      k: Int = 10, tauLex: Double = 0.9, tauSem: Double = 0.3,
      kSem: Int = 50, nlist: Int = 10, nprobe: Int = 2,
      salt: String = "hyb"): DataFrame = {
    require(kSem >= k, s"semantic member depth kSem=$kSem below k=$k")
    val lex = directedMember(
      graft.text.TextOps.docSimilarPrefix(d, tauLex),
      "doc1", "doc2", "score", salt)
    val centroids = Knn.writeIvfIndex(e, indexTable, path, nlist)
    val sem = Knn.searchIvfIndex(spark, indexTable, centroids,
        e.filter(slicePred(col("vec_id"), salt)), kSem, nprobe)
      .filter(col("score") >= tauSem)
      .select(col("query_id").as("doc_id"),
        col("neighbor_id").as("cand_id"), col("score"))
    topK(fuse(lex, sem), k)
  }

  /** The PQ-backed face of [[hybridSearchIvf]] — completes the serving
    * matrix (brute / IVF-float / IVF-PQ × lexical, r17 verdict #5): the
    * semantic member probes the persisted IVF-PQ index
    * ([[Knn.searchIvfPq]] — O(m) ADC table-lookup scoring over code
    * lists dim/m× smaller than the int8 index, the cache-residency
    * shape for corpora whose float vectors don't fit the cluster), the
    * lexical member and the fusion are UNCHANGED (the
    * member-as-parameter argument, third instantiation). PQ scores are
    * LOSSY by design — this face trades exactness for index size, so
    * the row is rows-only; HybridSpec pins the planted-prototype
    * equivalence (exact ADC scores ⇒ fused ≡ the brute row at
    * nprobe = nlist) and `pq_recall_audit` prices the loss on real
    * data. kSem carries the same cap-accounting row as the IVF face. */
  def hybridSearchPq(spark: org.apache.spark.sql.SparkSession,
      d: DataFrame, e: DataFrame, indexTable: String, path: String,
      k: Int = 10, tauLex: Double = 0.9, tauSem: Double = 0.3,
      kSem: Int = 50, nlist: Int = 10, nprobe: Int = 2,
      salt: String = "hyb"): DataFrame = {
    require(kSem >= k, s"semantic member depth kSem=$kSem below k=$k")
    val lex = directedMember(
      graft.text.TextOps.docSimilarPrefix(d, tauLex),
      "doc1", "doc2", "score", salt)
    val (coarse, codebook) = Knn.writeIvfPqIndex(e, indexTable, path, nlist)
    val sem = Knn.searchIvfPq(spark, indexTable, coarse, codebook,
        e.filter(slicePred(col("vec_id"), salt)), kSem, nprobe)
      .filter(col("score") >= tauSem)
      .select(col("query_id").as("doc_id"),
        col("neighbor_id").as("cand_id"), col("score"))
    topK(fuse(lex, sem), k)
  }

  /** Drop accounting for the kSem member-depth cap — [[hybridSearchIvf]]
    * truncates each query's semantic candidate list at kSem before
    * fusing, which silently COMPRESSES RRF ranks for any query whose
    * full τ-passing list runs deeper (the 'no silent caps' doctrine:
    * bounded coverage must be audited — r16 ADVICE). One exact-integer
    * row measured against the GROUND-TRUTH brute member (stronger than
    * counting inside the capped probe, which can only see what survived
    * its own pruning): queries probing, queries whose τ-passing
    * candidate count EXCEEDS kSem — a top-kSem cut drops candidates
    * and compresses ranks for exactly these; a query with exactly kSem
    * candidates loses nothing — the deepest list, and the declared
    * kSem. `e` is the fenced [[Knn.embOf]] embedding table, as
    * everywhere in this family. count(when(..)) + coalesce(max, 0):
    * exact zeros on an empty corpus in both engines. */
  def capAudit(e: DataFrame, tauSem: Double = 0.3, kSem: Int = 50,
      salt: String = "hyb"): DataFrame = {
    require(kSem >= 1, s"bad kSem=$kSem")
    // n_queries counts every PROBING query — the sliced (fenced)
    // set, left-joined so a query whose τ-passing list is EMPTY still
    // lands in the denominator with n_cand = 0 (r17 ADVICE: the old
    // groupBy-only shape silently dropped empty-list queries and
    // under-reported the probing denominator)
    val probing = e.filter(slicePred(col("vec_id"), salt))
      .select(col("vec_id").as("doc_id"))
    val sem = semMemberFor(e.filter(slicePred(col("vec_id"), salt)), e,
      tauSem)
    probing
      .join(sem.groupBy(col("doc_id")).agg(count(lit(1)).as("nc")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("nc"), lit(0L)).as("n_cand"))
      .agg(
        count(lit(1)).as("n_queries"),
        count(when(col("n_cand") > kSem, lit(1))).as("n_over_cap"),
        coalesce(max(col("n_cand")), lit(0L)).as("max_cands"))
      .withColumn("k_sem", lit(kSem.toLong))
  }

  /** Provenance accounting for the fused set — ONE exact-integer row
    * (the drop-accounting/audit posture): how much of the candidate
    * mass each modality contributes, how much both agree on, and how
    * many rows the serving cut emits. count(CASE..) not sum(CASE..):
    * zero on an empty corpus in both engines. */
  def hybridAudit(d: DataFrame, e: DataFrame, k: Int = 10,
      tauLex: Double = 0.9, tauSem: Double = 0.3,
      salt: String = "hyb"): DataFrame = {
    val f = fused(d, e, tauLex, tauSem, None, salt)
      .localCheckpoint(true) // two consumers: the rollup and the cut
    val served = topK(f, k).agg(count(lit(1)).as("n_served"))
    f.agg(
        countDistinct(col("doc_id")).as("n_queries"),
        count(lit(1)).as("n_candidates"),
        count(when(col("lex_rank") > 0 && col("sem_rank") > 0, lit(1)))
          .as("n_both"),
        count(when(col("lex_rank") > 0 && col("sem_rank") === 0, lit(1)))
          .as("n_lex_only"),
        count(when(col("lex_rank") === 0 && col("sem_rank") > 0, lit(1)))
          .as("n_sem_only"))
      .crossJoin(served)
  }
}
