package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{MinKByKey, PolyHash64}

/** Text-analysis operators over the `documents` table (SURVEY §2-G) —
  * the per-document scoring/counting passes a training-data pipeline runs
  * before filtering a 100 TB corpus.
  *
  * Everything is built from codegen'd built-ins (split/filter/transform/
  * aggregate); the only custom expression is the fingerprint hash, which
  * has `doGenCode`. All ops are embarrassingly parallel per-row maps +
  * one partial-combinable aggregation — no shuffles besides the final
  * group-by, so they scale linearly with input splits. */
object TextOps {

  def docs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ParquetSource.read(spark, s"$dir/documents.parquet")

  /** Whitespace tokens, empty-safe. Kept as an expression so downstream
    * ops stay inside whole-stage codegen. */
  private val toksExpr = "filter(split(text, ' '), x -> x != '')"

  private[text] def withToks(d: DataFrame): DataFrame =
    d.withColumn("toks", expr(toksExpr))

  /** Lowercased tokenization as ONE definition for batch and streaming
    * consumers (the streamingCurate convergence argument): stateless
    * per-row expressions, so it applies to a stream unchanged.
    *
    * PASS-THROUGH only for a relation whose `toks` column carries the
    * [[asLowerToks]] marker (r21, the r20 verdict's #5 — restructure the
    * chunk tokenize, don't spread it): the marker is the producer's
    * declaration that `toks` is the lowercase of exactly the ' '-split
    * non-empty words — [[graft.text.Chunks.chunkDocsTok]] is the one
    * producer, spec-pinned token-identical to the text path — so a
    * pre-tokenized corpus skips the re-split and the chunk grid pays ONE
    * split pass per corpus instead of one per index build. Every other
    * relation, including one that merely has a column named `toks`, is
    * tokenized from `text`. */
  private[graft] def lowerToks(d: DataFrame): DataFrame =
    if (d.columns.contains("toks") &&
        d.schema("toks").metadata.contains(LowerToksMarker)) d
    else withToks(d.withColumn("text", lower(col("text"))))

  private val LowerToksMarker = "graft.lowerToks"

  /** `toks` as a column [[lowerToks]] passes through: the caller vouches
    * that it holds the lowercase ' '-split non-empty words of the row's
    * text. The marker is column metadata, so it follows the column
    * through selects, filters, joins and checkpoints. */
  private[graft] def asLowerToks(toks: Column): Column =
    toks.as("toks", new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean(LowerToksMarker, true).build())

  /** Per-document surface statistics. Ratio divisors go through
    * nullif: a zero-token doc (null/empty/whitespace text — one
    * malformed shard row at 100 TB) gets NULL ratios instead of an
    * ANSI DIVIDE_BY_ZERO that kills the whole job (Spark 4 ANSI throws
    * on a zero divisor even when the result type is double; found by
    * the HostileCorpusSpec sweep). The oracle divides through the same
    * nullif. */
  def stats(d: DataFrame): DataFrame =
    withToks(d).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(col("toks")).cast("long").as("n_tokens"),
      size(array_distinct(col("toks"))).cast("long").as("n_uniq_tokens"),
      round(size(array_distinct(col("toks"))) /
        nullif(size(col("toks")), lit(0)), 4).as("uniq_ratio"),
      round(length(regexp_replace(col("text"), " ", "")) /
        nullif(size(col("toks")), lit(0)), 4).as("avg_token_len"))

  private val StopWords = Seq("a", "value", "data", "key", "the")

  /** [[quality]] with the INPUT columns preserved next to the metric
    * columns — a pure per-row transform, so it applies unchanged to a
    * STREAM of documents ([[graft.streaming.Streaming.streamingCurate]]
    * reuses it verbatim: one definition of quality is what makes the
    * stream==batch convergence spec meaningful). */
  def qualityScored(d: DataFrame): DataFrame = {
    val stopList = StopWords.map(w => s"'$w'").mkString(", ")
    withToks(d)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      // nullif divisors (the stats rationale): a zero-token doc scores
      // NULL ratios → every band predicate is false → quality 0.00,
      // instead of an ANSI DIVIDE_BY_ZERO killing the curation run on
      // its first malformed row
      .withColumn("stop_ratio",
        round(expr(s"size(filter(toks, x -> x IN ($stopList)))") /
          nullif(col("n_tokens"), lit(0L)), 4))
      .withColumn("uniq_ratio",
        round(size(array_distinct(col("toks"))) /
          nullif(col("n_tokens"), lit(0L)), 4))
      .withColumn("avg_token_len",
        round(length(regexp_replace(col("text"), " ", "")) /
          nullif(col("n_tokens"), lit(0L)), 4))
      .withColumn("quality_score", round(
        when(col("n_tokens").between(30, 500), 0.25).otherwise(0.0) +
        when(col("stop_ratio").between(0.02, 0.5), 0.25).otherwise(0.0) +
        when(col("uniq_ratio") >= 0.2, 0.25).otherwise(0.0) +
        when(col("avg_token_len").between(2.0, 10.0), 0.25).otherwise(0.0),
        2))
      .drop("toks")
  }

  /** Composite quality score in [0,1]: length band + stopword ratio band +
    * uniqueness + mean token length band (0.25 each). */
  def quality(d: DataFrame): DataFrame =
    qualityScored(d).select("doc_id", "n_tokens", "stop_ratio",
      "uniq_ratio", "avg_token_len", "quality_score")

  /** Per-source RELEASE SCORECARD — the one-table-per-source view a
    * data-governance review reads before weighting sources: the
    * dedup_report savings columns joined with exact-integer quality
    * moments (q4 quarters, the quality_drift contract) and the raw
    * token mass. Mean quality is ONE floor-half-up milli expression
    * over exact integers (sum_q4·250/n — no float round anywhere), so
    * the whole row sits under the hash gate; the oracle embeds the
    * dedup_report SQL verbatim (the reportBlock discipline), so the
    * scorecard can only drift from its members by the join itself.
    * Two map-side-combinable corpus aggs + one #sources join. */
  def sourceScorecard(d: DataFrame): DataFrame = {
    val rep = graft.dedup.Dedup.dedupReport(d)
    val q = qualityScored(d)
      .select(col("source"), col("n_tokens"),
        round(col("quality_score") * 4, 0).cast("long").as("q4"))
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).cast("long").as("tokens_total"),
        sum(col("q4")).as("sum_q4"), count(lit(1)).as("nq"))
    rep.join(q, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_uniq"), col("n_dup"),
        col("chars_total"), col("chars_saved"), col("tokens_total"),
        floor(col("sum_q4").cast("double") * lit(250.0) /
          col("nq").cast("double") + lit(0.5)).cast("long")
          .as("mean_quality_milli"))
  }

  /** The raw → dedup → budget SELECTION FUNNEL per source — the release
    * accounting a data-constrained training run signs off on: offered
    * docs/tokens, the mass surviving GLOBAL exact dedup (the
    * [[graft.dedup.Dedup.exact]] keeper election — min doc_id per
    * digest corpus-wide, the token_yield attribution), and the mass the
    * per-source token budget finally admits ([[budgetCut]] over the
    * KEEPER corpus — dedup before selection, the pipeline order), with
    * the end-to-end yield as the ALL-INTEGER half-up milli
    * tok_sel/tok_raw. Oracle embeds the budget derivation over the
    * keeper relation verbatim (the reportBlock discipline), so a
    * member-formulation drift breaks one place. Costs: one digest agg,
    * one keeper equijoin, the budgetCut passes, two stratum aggs. */
  def selectionReport(d: DataFrame, budget: Long = 800L): DataFrame = {
    val keepers = d.join(
      graft.dedup.Dedup.exact(d).select(col("keeper").as("doc_id")),
      "doc_id")
    val sel = budgetCut(keepers, budget)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_dedup"), sum(col("n_tok")).as("tok_dedup"),
        sum(col("kept")).as("n_sel"),
        sum(when(col("kept") === 1L, col("n_tok")).otherwise(0L))
          .as("tok_sel"))
    val raw = withToks(d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        sum(size(col("toks")).cast("long")).as("tok_raw"))
    raw.join(sel, "source")
      .withColumn("sel_milli",
        expr("(2 * tok_sel * 1000 + tok_raw) div (2 * tok_raw)"))
  }

  /** Cross-table referential-integrity audit — the precondition check
    * the embedding-dependent operators (semantic dedup, contamination,
    * label propagation) silently assume: every document has exactly one
    * vector and no vector dangles. One row: matched mass + each side's
    * orphans (doc without vector = not yet embedded — the re-embed
    * queue; vector without doc = leaked past a purge — the delete
    * queue). One full-outer key equijoin into a single agg; with both
    * tables bucketed by id the join is Exchange-free (the crawl_diff
    * posture). */
  def pipelineIntegrity(d: DataFrame, e: DataFrame): DataFrame = {
    val dd = d.select(col("doc_id")).withColumn("has_doc", lit(1L))
    val ee = e.select(col("vec_id").as("doc_id"))
      .withColumn("has_vec", lit(1L))
    dd.join(ee, Seq("doc_id"), "full_outer")
      .agg(
        sum(coalesce(col("has_doc"), lit(0L))).as("n_docs"),
        sum(coalesce(col("has_vec"), lit(0L))).as("n_vecs"),
        sum(when(col("has_doc").isNotNull && col("has_vec").isNotNull, 1L)
          .otherwise(0L)).as("n_matched"),
        sum(when(col("has_vec").isNull, 1L).otherwise(0L)).as("n_doc_only"),
        sum(when(col("has_doc").isNull, 1L).otherwise(0L)).as("n_vec_only"))
  }

  /** Pre-flight CORPUS HEALTH audit — the "drops are never silent"
    * doctrine applied to the r16 hostile-payload fences: the quality
    * chain silently scores zero-token docs 0.00 and the tokenizing
    * operators silently drop null-text rows, so this ONE row accounts
    * for exactly the mass those definitions exclude (null/empty/
    * tokenless text, null lang/source, duplicate ids) — the gate a
    * pipeline thresholds BEFORE admitting a crawl shard, and the
    * number that explains a row-count delta after it. One map-side-
    * combinable corpus agg; every count is an exact integer, so the
    * whole row sits under the hash gate. `n_empty_text` ⊆
    * `n_tokenless` (a whitespace-only doc that still splits into a
    * token — e.g. a lone tab — is NOT tokenless: the toksExpr
    * definition, shared verbatim with the oracle). */
  def corpusHealth(d: DataFrame): DataFrame =
    withToks(d).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("doc_id")).as("n_distinct_ids"),
      sum(when(col("text").isNull, 1L).otherwise(0L)).as("n_null_text"),
      sum(when(col("text") === "", 1L).otherwise(0L)).as("n_empty_text"),
      sum(when(col("text").isNotNull && size(col("toks")) === 0, 1L)
        .otherwise(0L)).as("n_tokenless"),
      sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_null_lang"),
      sum(when(col("source").isNull, 1L).otherwise(0L))
        .as("n_null_source"))

  /** Per-source quality drift — the data-quality monitor a curation
    * pipeline tracks per crawl batch: each source's mean quality scored
    * against the corpus distribution as
    * z = (mean_src − mean_corpus)·√n_src / σ_corpus (the standard error
    * of the source mean). Quality scores are exact QUARTERS, so q4 =
    * 4·quality is an exact integer and every moment (n, Σq4, Σq4²) is
    * integer-exact — the [[graft.operators.Windows.spaceCorrelation]]
    * oracle contract: one double expression over integers, identical in
    * DuckDB, integer zero-variance guard. One corpus hash agg; the
    * per-source table is #sources-sized. */
  def qualityDrift(d: DataFrame): DataFrame = {
    val q4 = qualityScored(d)
      .select(col("source"),
        round(col("quality_score") * 4, 0).cast("long").as("q4"))
      .localCheckpoint(true) // 2 consumers: global + per-source moments
    val global = q4.groupBy().agg(
      count(lit(1)).as("n"), sum(col("q4")).as("g"),
      sum(col("q4") * col("q4")).as("gg"))
    q4.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("q4")).as("sum_q4"))
      .crossJoin(broadcast(global))
      .filter(col("n") * col("gg") - col("g") * col("g") > 0)
      .select(col("source"), col("n_docs"), col("sum_q4"),
        round((col("n") * col("sum_q4") - col("n_docs") * col("g"))
            .cast("double") *
          sqrt(col("n_docs").cast("double")) /
          (col("n_docs").cast("double") *
           sqrt((col("n") * col("gg") - col("g") * col("g"))
             .cast("double"))), 4).as("z"))
  }

  /** BPE-ish token regex: letter runs, single digits, single punctuation. */
  val BpePattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"

  /** Token-count rollup per source: whitespace tokens vs regex tokens. */
  def tokenCountBySource(d: DataFrame): DataFrame =
    withToks(d)
      .withColumn("ws_tokens", size(col("toks")).cast("long"))
      .withColumn("bpe_tokens",
        size(expr(s"regexp_extract_all(text, '$BpePattern', 0)"))
          .cast("long"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("total_ws_tokens"),
        sum(col("bpe_tokens")).as("total_bpe_tokens"),
        round(avg(col("ws_tokens")), 4).as("avg_ws_tokens"))

  /** Character-bigram-profile language classifier: learns the top-K
    * bigrams per language from the corpus itself (one agg + topK), then
    * scores each document by profile overlap. Train side is tiny
    * (#langs × K) and broadcast; score side is one explode + hash join —
    * linear, no all-pairs anything. */
  def langId(d: DataFrame, profileSize: Int = 30): DataFrame = {
    // int-coded bigrams from the native kernel (one linear pass per doc);
    // kept non-distinct — array_intersect dedups on its own
    val withBg = d.withColumn("bgs",
      graft.functions.CharBigrams(col("text")))
    // train: frequency of each bigram per language → top-K profile
    // arrays (one tiny row per language, broadcastable)
    val profiles = withBg
      .select(col("lang"), explode(col("bgs")).as("bg"))
      .groupBy(col("lang").as("cand_lang"), col("bg"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("cand_lang").orderBy(col("cnt").desc, col("bg"))))
      .filter(col("rnk") <= profileSize)
      .groupBy("cand_lang")
      .agg(sort_array(collect_list(col("bg"))).as("profile"))
    // score: one array_intersect per (doc, lang) — #docs × #langs rows,
    // never an exploded bigram join; argmax via min_by, ties → smallest
    // language code
    withBg.select("doc_id", "lang", "bgs")
      .crossJoin(broadcast(profiles))
      .withColumn("overlap",
        size(array_intersect(col("bgs"), col("profile"))).cast("long"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        min_by(col("cand_lang"),
          struct((-col("overlap")).as("neg"), col("cand_lang")))
          .as("pred_lang"),
        max(col("overlap")).as("overlap"))
      .select("doc_id", "lang", "pred_lang", "overlap")
  }

  /** Language-ID confusion matrix: (true lang, predicted lang, count) —
    * the classifier-quality rollup a pipeline monitors per crawl batch.
    * One tiny agg over [[langId]]'s output (#langs² rows). */
  def langIdConfusion(d: DataFrame): DataFrame =
    langId(d).groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** Corpus vocabulary: top-k tokens by frequency (deterministic order:
    * count desc, token asc). One explode + partial-combined count — the
    * canonical vocabulary-builder pass of a training pipeline. */
  def vocabTopK(d: DataFrame, k: Int): DataFrame =
    withToks(d.withColumn("text", lower(col("text"))))
      .select(explode(col("toks")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(k)

  /** Per-source LEXICAL HEALTH audit (r17) — the vocabulary-shape
    * scorecard a curation review reads next to [[sourceScorecard]]:
    * token mass, type count, hapax count (types seen once — the
    * misspelling/noise signal), type-token ratio and hapax share as
    * integer half-up milli, and the dominant token with its mass share
    * (a top token owning a large share flags boilerplate or a
    * degenerate extractor). ALL-INTEGER output: every ratio is the
    * `(2·x·1000 + d) div (2·d)` half-up over exact BIGINTs, so the row
    * sits under the hash gate with no float round anywhere; divisors
    * are structurally ≥ 1 (a source appears only if it produced a
    * token). Dominant token via the argmax discipline — `min_by` on
    * (−cnt, word) with a deterministic lexicographic tie, never a
    * window (the oracle runs the row_number formulation:
    * two-formulation cross-check). Scale: one corpus explode into a
    * map-side-combinable (source, word) agg; everything downstream is
    * vocabulary-sized, the final agg is |sources|-sized. */
  def vocabAudit(d: DataFrame): DataFrame =
    lowerToks(d)
      .select(col("source"), explode(col("toks")).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(
        sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        min_by(col("word"),
          struct((-col("cnt")).as("neg_cnt"), col("word").as("w")))
          .as("top_word"),
        max(col("cnt")).as("top_cnt"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        expr("(2 * n_types * 1000 + n_tokens) div (2 * n_tokens)")
          .as("ttr_milli"),
        expr("(2 * n_hapax * 1000 + n_types) div (2 * n_types)")
          .as("hapax_milli"),
        col("top_word"), col("top_cnt"),
        expr("(2 * top_cnt * 1000 + n_tokens) div (2 * n_tokens)")
          .as("top_milli"))

  /** Cross-source VOCABULARY REDUNDANCY matrix-in-one-pass (r17) — the
    * lexical dual of `source_overlap` (that one counts shared byte
    * digests; this one measures how much of each source's vocabulary
    * and token mass lives on words ANOTHER source also has — a source
    * whose mass is almost entirely shared adds domain-vocabulary
    * nothing and is a down-weighting candidate before mixing). Per
    * source: distinct types, types shared with ≥ 1 other source,
    * exclusive types, and the shared share of both types and token
    * mass as integer half-up milli — all exact BIGINTs, hash-gate
    * safe. Scale: ONE corpus explode compressed into the (source,
    * word) count table (eagerly checkpointed — it feeds the per-word
    * source-df table AND the probe join, so the corpus is scanned
    * once); the join and both aggs are vocabulary-sized, never
    * corpus-sized, and the word-keyed shuffle is shared between the
    * df agg and the join. */
  def vocabOverlap(d: DataFrame): DataFrame = {
    val wc = lowerToks(d)
      .select(col("source"), explode(col("toks")).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // 2 consumers: per-word df + the probe join
    val wsrc = wc.groupBy(col("word")).agg(count(lit(1)).as("n_src"))
    wc.join(wsrc, Seq("word"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("types_total"),
        sum(when(col("n_src") >= 2L, 1L).otherwise(0L))
          .as("types_shared"),
        sum(col("cnt")).as("tokens_total"),
        sum(when(col("n_src") >= 2L, col("cnt")).otherwise(0L))
          .as("tokens_shared"))
      .select(col("source"), col("types_total"), col("types_shared"),
        (col("types_total") - col("types_shared")).as("types_exclusive"),
        col("tokens_total"), col("tokens_shared"),
        expr("(2 * types_shared * 1000 + types_total)" +
          " div (2 * types_total)").as("shared_types_milli"),
        expr("(2 * tokens_shared * 1000 + tokens_total)" +
          " div (2 * tokens_total)").as("shared_mass_milli"))
  }

  /** MARGINAL VOCABULARY ATTRIBUTION in a fixed greedy order (r20) —
    * the submodular-coverage question data-mixing actually asks ("if I
    * add sources biggest-first, what NEW vocabulary does each one
    * bring?") answered exactly: sources are ranked by (doc count desc,
    * source asc) — the deterministic greedy order — and every word
    * type is attributed to the FIRST-ranked source containing it; per
    * source the row reports its total vs newly-contributed types, the
    * token mass carried by its new types, novelty as integer half-up
    * milli, and the running cumulative type count down the greedy
    * order. A source whose novelty_milli ≈ 0 is lexically redundant
    * given everything ranked above it — `vocab_overlap` says who
    * shares; THIS says who was there first under a stated order, which
    * is the actual add/drop decision input. ALL-integer (hash-gate
    * safe); attribution = min(struct(rank, source)) per word — the
    * argmin aggregate, never a window over the vocabulary. Scale: one
    * corpus explode compressed to the (source, word) count table
    * (checkpointed — feeds the per-word argmin AND the rollup), then
    * everything is vocabulary-sized; the cumulative window runs over
    * |sources| rows. */
  def sourceNovelty(d: DataFrame): DataFrame = {
    val ranks = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("src_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n_docs").desc, col("source"))).cast("long"))
    val wc = lowerToks(d)
      .select(col("source"), explode(col("toks")).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(ranks), Seq("source"))
      .localCheckpoint(true) // feeds the per-word argmin AND the rollup
    val firstSeen = wc.groupBy(col("word"))
      .agg(min(struct(col("src_rank"), col("source"))).as("fs"))
      .select(col("word"), col("fs.source").as("first_source"))
    wc.join(firstSeen, Seq("word"))
      .groupBy(col("source"), col("src_rank"), col("n_docs"))
      .agg(
        count(lit(1)).as("types_total"),
        sum(when(col("first_source") === col("source"), 1L).otherwise(0L))
          .as("types_new"),
        sum(col("cnt")).as("tokens_total"),
        sum(when(col("first_source") === col("source"), col("cnt"))
          .otherwise(0L)).as("tokens_new"))
      .withColumn("novelty_milli",
        expr("(2 * types_new * 1000 + types_total) div (2 * types_total)"))
      .withColumn("cum_types_new",
        sum(col("types_new")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("src_rank"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
      .select(col("source"), col("src_rank"), col("n_docs"),
        col("types_total"), col("types_new"), col("tokens_total"),
        col("tokens_new"), col("novelty_milli"), col("cum_types_new"))
  }

  /** CONTEXT-WINDOW PLANNING grid (r17) — the sizing table a training
    * run reads before choosing a sequence length: for each candidate
    * window W, per source: docs that fit whole, docs that must split,
    * the exact chunk count under per-doc chunking (Σ ⌈n_tokens/W⌉ —
    * integer ceiling division, zero-token docs contribute zero
    * chunks), the padding tokens that chunking wastes
    * (chunks·W − tokens), and utilization as integer half-up milli.
    * Complements the pack family: `pack_assign` packs documents into a
    * CHOSEN budget; this op is the upstream sweep that chooses it.
    * ALL-INTEGER except nothing — even utilization is the half-up
    * milli over exact BIGINTs; the divisor goes through nullif so a
    * source of only empty docs yields NULL utilization instead of an
    * ANSI DIVIDE_BY_ZERO (the hostile-sweep contract). Scale: one
    * corpus pass computing per-doc token counts, a |grid|-way explode
    * of COUNTS (not text), one map-side-combinable (source, W) agg —
    * output is |sources|·|grid| rows. */
  def contextFit(d: DataFrame,
      windows: Seq[Int] = Seq(64, 256, 1024, 4096)): DataFrame = {
    require(windows.nonEmpty && windows.forall(_ > 0),
      s"context windows must be positive, got $windows")
    val wArr = array(windows.map(w => lit(w.toLong)): _*)
    withToks(d)
      .select(col("source"), size(col("toks")).cast("long").as("nt"))
      .select(col("source"), col("nt"), explode(wArr).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("nt") <= col("w"), 1L).otherwise(0L)).as("docs_fit"),
        sum(col("nt")).as("tokens_total"),
        sum(expr("(nt + w - 1) div w")).as("n_chunks"))
      .select(col("source"), col("w"), col("n_docs"), col("docs_fit"),
        (col("n_docs") - col("docs_fit")).as("docs_split"),
        col("tokens_total"), col("n_chunks"),
        (col("n_chunks") * col("w") - col("tokens_total"))
          .as("pad_tokens"),
        expr("(2 * tokens_total * 1000 + nullif(n_chunks * w, 0))" +
          " div (2 * nullif(n_chunks * w, 0))").as("util_milli"))
  }

  /** Out-of-vocabulary AUDIT against a df-banded baseline vocabulary
    * (r17) — the ingest drift monitor: the train split (the
    * [[splitAssign]] md5-nibble split, embedded verbatim in the
    * oracle) defines a vocabulary of words with document frequency
    * ≥ `minDf` (the df-banding posture — banding bounds the vocabulary
    * and drops the hapax noise that would make every typo "known");
    * the test split then scores per source: token mass and distinct
    * types not covered by that vocabulary, both shares as integer
    * half-up milli. An OOV spike on a new crawl batch = a new domain,
    * language, or extractor regression — the signal that triggers
    * re-training the tokenizer or quarantining the source. Scale: the
    * df table is one distinct + agg over the train split's exploded
    * tokens (map-side combinable); the probe compresses the test split
    * to (source, word) counts BEFORE the vocab equijoin, so the join
    * carries vocabulary-sized keys, never raw tokens; final agg is
    * |sources|-sized. Divisors are structurally ≥ 1 (a probe source
    * appears only if it produced a token). */
  def vocabCoverage(d: DataFrame, minDf: Long = 2L,
      trainSixteenths: Int = 13): DataFrame =
    oovRollup(
      lowerToks(d).filter(splitExpr(trainSixteenths) === "test"),
      dfBandedVocab(d, minDf, trainSixteenths))

  /** The df-banded train-split vocabulary — ONE derivation shared by
    * [[vocabCoverage]] (in-plan) and [[writeVocabIndex]] (persisted),
    * so the two paths cannot drift: distinct (doc, word) over the
    * train split, document frequency ≥ `minDf`. */
  private def dfBandedVocab(d: DataFrame, minDf: Long,
      trainSixteenths: Int): DataFrame =
    lowerToks(d).filter(splitExpr(trainSixteenths) === "train")
      .select(col("doc_id"), explode(col("toks")).as("word"))
      .distinct()
      .groupBy(col("word")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)

  /** The OOV per-source rollup shared by [[vocabCoverage]] and
    * [[vocabCoverageIndexed]] — the probe compresses to (source, word)
    * counts BEFORE the vocab equijoin, so the join carries
    * vocabulary-sized keys, never raw tokens. */
  private def oovRollup(probeToks: DataFrame,
      vocab: DataFrame): DataFrame =
    probeToks
      .select(col("source"), explode(col("toks")).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .join(vocab.select(col("word"), lit(1L).as("known")),
        Seq("word"), "left")
      .groupBy(col("source"))
      .agg(
        sum(col("cnt")).as("tokens_total"),
        sum(when(col("known").isNull, col("cnt")).otherwise(0L))
          .as("tokens_oov"),
        count(lit(1)).as("types_total"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("types_oov"))
      .select(col("source"), col("tokens_total"), col("tokens_oov"),
        expr("(2 * tokens_oov * 1000 + tokens_total)" +
          " div (2 * tokens_total)").as("oov_mass_milli"),
        col("types_total"), col("types_oov"),
        expr("(2 * types_oov * 1000 + types_total)" +
          " div (2 * types_total)").as("oov_types_milli"))

  /** Persist the df-banded train-split vocabulary as a bucketed
    * external table (r17) — the SEVENTH persisted-index family
    * (postings / IVF vectors / anchors / BPE model / NB model /
    * chunk grid / doc vectors came before): a real ingest pipeline
    * freezes the vocabulary once per reference crawl and scores every
    * incoming batch against the frozen artifact instead of re-deriving
    * it per query. Bucketed by `word` (the probe join's key — a vocab
    * beyond broadcast budget still joins with no index-side Exchange);
    * rebuilds commit through [[graft.sources.Staged]]'s pointer flip, so
    * a crash mid-rebuild leaves the old generation serving. */
  def writeVocabIndex(d: DataFrame, tableName: String, path: String,
      minDf: Long = 2L, trainSixteenths: Int = 13,
      buckets: Int = 8): Unit =
    graft.sources.Staged.commit(d.sparkSession, tableName, path)(_.write() {
      (tbl, p) =>
        dfBandedVocab(d, minDf, trainSixteenths)
          .repartition(col("word"))
          .write
          .option("path", p)
          .bucketBy(buckets, "word")
          .sortBy("word")
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .saveAsTable(tbl)
    })

  /** OOV audit against the PERSISTED vocabulary ([[writeVocabIndex]])
    * — result-identical to [[vocabCoverage]] when the table was
    * written from the same corpus and parameters (same split rule,
    * same df band, same rollup — TextSpec proves row parity), so the
    * freeze-once/score-per-batch hop is transparent to the result and
    * the operator keeps the vocab_coverage ORACLE verbatim. */
  def vocabCoverageIndexed(spark: SparkSession, tableName: String,
      d: DataFrame, trainSixteenths: Int = 13): DataFrame =
    oovRollup(
      lowerToks(d).filter(splitExpr(trainSixteenths) === "test"),
      graft.sources.Staged.table(spark, tableName))

  /** Per-document OOV TAGGER against the persisted vocabulary (r17) —
    * the row-granular dual of [[vocabCoverageIndexed]] and the batch
    * scorer [[graft.streaming.Streaming]]'s live OOV monitor replays
    * per micro-batch: every document (the WHOLE corpus — a tagger
    * scores everything arriving, not a split) gets its exact token
    * mass and OOV mass against the frozen vocab. Token masses are
    * per-doc ADDITIVE (unlike type counts, which dedup across docs —
    * deliberately absent here), so any partition of the corpus into
    * batches sums to the same per-source totals: the property that
    * makes the streaming dual converge exactly. Scale: the corpus
    * compresses to per-doc (word, cnt) rows before the bucketed-vocab
    * equijoin; output is one row per document. */
  def oovTag(spark: SparkSession, tableName: String,
      d: DataFrame): DataFrame =
    lowerToks(d)
      .select(col("doc_id"), col("source"),
        explode(col("toks")).as("word"))
      .groupBy(col("doc_id"), col("source"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .join(graft.sources.Staged.table(spark, tableName).select(col("word"),
        lit(1L).as("known")), Seq("word"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(
        sum(col("cnt")).as("tokens_total"),
        sum(when(col("known").isNull, col("cnt")).otherwise(0L))
          .as("tokens_oov"))

  /** Collocation extraction — the per-language PMI DICTIONARY of
    * adjacent word pairs (the "new york" / "machine learning" detector
    * a tokenizer-merging or phrase-mining pass consumes): every bigram
    * with corpus support ≥ `minCount` and positive pointwise mutual
    * information over the lang's bigram distribution. Marginals are the
    * LEFT/RIGHT bigram marginals (Σ marginals = n exactly, so PMI is
    * well-formed over the pair distribution) and derive from the bigram
    * count table itself — the corpus is tokenized ONCE.
    *
    * Numeric contract: counts are exact integers; the score is
    * pmi = ln(n_pair·n / (cx·cy)) with the products taken as doubles
    * MULTIPLY-BEFORE-DIVIDE (identical IEEE order both engines) and the
    * one transcendental snapped to the 1e-6 grid (the bm25 idf
    * discipline); BOTH membership predicates are EXACT-INTEGER —
    * support ≥ minCount on an exact count, positivity as the
    * cross-multiplication n_pair·n > cx·cy in DECIMAL(38,0)/HUGEINT
    * (r13 ADVICE: the snapped ln is display-only; membership can never
    * sit one libm ulp from a rounding boundary).
    *
    * Scale: the bigram explode is linear (zip_with over two slices —
    * bound lambda vars, so the toks alias is never re-derived per
    * element); the (lang, w1, w2) agg map-side-combines; marginals and
    * lang totals are three re-aggs of the ONE checkpointed count table
    * (never a second corpus pass); the scored join touches only
    * support-filtered pairs. No sort, no window, no top-k cut — the
    * thresholded dictionary IS the artifact; consumers sort their
    * slice. */
  def wordAssoc(d: DataFrame, minCount: Long = 5L): DataFrame = {
    val cnt = bigramPairs(d).groupBy(col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .localCheckpoint(true) // 4 consumers: marginals ×2, totals, main
    val left = cnt.groupBy(col("lang"), col("w1"))
      .agg(sum(col("n_pair")).as("cx"))
    val right = cnt.groupBy(col("lang"), col("w2"))
      .agg(sum(col("n_pair")).as("cy"))
    val tot = cnt.groupBy(col("lang")).agg(sum(col("n_pair")).as("n"))
    cnt.filter(col("n_pair") >= lit(minCount))
      .join(left, Seq("lang", "w1"))
      .join(right, Seq("lang", "w2"))
      .join(broadcast(tot), "lang")
      // membership is the EXACT integer cross-multiplication
      // (pmi > 0 ⟺ n_pair·n > cx·cy — the transition_drift predicate
      // discipline, r13 ADVICE: the snapped ln stays a DISPLAY value
      // and can never decide row membership on a libm boundary draw).
      // DECIMAL(38,0) products: exact at any corpus size (BIGINT pairs
      // would wrap past ~3·10⁹ total bigrams); the oracle mirrors with
      // HUGEINT.
      .filter(col("n_pair").cast("decimal(38,0)") * col("n") >
        col("cx").cast("decimal(38,0)") * col("cy"))
      .withColumn("pmi_micro",
        round(log((col("n_pair").cast("double") * col("n").cast("double")) /
          (col("cx").cast("double") * col("cy").cast("double"))) *
          lit(1000000.0), 0).cast("long"))
      .select(col("lang"), col("w1"), col("w2"), col("n_pair"), col("cx"),
        col("cy"),
        (col("pmi_micro").cast("double") / lit(1000000.0)).as("pmi"))
  }

  /** Exploded adjacent word bigrams, one row per (doc, position) — the
    * ONE pair definition behind [[wordAssoc]] and [[phraseDensity]]
    * (and, as an expression via [[bigramKeysExpr]], their streaming
    * dual). zip_with over two slices: bound lambda vars, so the toks
    * alias is never re-derived per element (the documented
    * sibling-alias O(n²) inlining trap). */
  private[graft] def bigramPairs(d: DataFrame): DataFrame =
    lowerToks(d)
      .select(col("doc_id"), col("lang"), col("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        """zip_with(slice(toks, 1, size(toks) - 1),
                    slice(toks, 2, size(toks) - 1),
                    (a, b) -> struct(a AS w1, b AS w2))""")).as("p"))
      .select(col("doc_id"), col("lang"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** Per-document PHRASE DENSITY against the [[wordAssoc]] collocation
    * dictionary — the signal a phrase-aware tokenizer or a
    * formulaic-text filter thresholds on (a doc whose adjacent pairs
    * are mostly dictionary collocations is boilerplate-like; one with
    * none is unidiomatic): for every doc with at least one bigram, the
    * bigram count, the count of bigrams that are dictionary entries
    * (multiset — repeats count), and their ratio as the ALL-INTEGER
    * half-up milli. Integer end to end; docs with < 2 tokens have no
    * bigram distribution and emit no row (an integer membership rule).
    *
    * Scale: one bigram explode (linear), one equijoin against the
    * support-thresholded dictionary — bounded because minCount should
    * scale with corpus mass (support n/10⁶-ish keeps the dict
    * broadcastable; a looser threshold degrades the hint to a shuffle
    * equijoin, never a cross product), one per-doc agg. The dictionary
    * build re-runs [[wordAssoc]]; pass a precomputed/persisted dict
    * frame to score against a frozen artifact. */
  def phraseDensity(d: DataFrame, minCount: Long = 5L,
      dict: Option[DataFrame] = None): DataFrame = {
    val dictDf = dict.getOrElse(wordAssoc(d, minCount))
      .select(col("lang"), col("w1"), col("w2"), lit(1L).as("hit"))
    bigramPairs(d)
      .join(broadcast(dictDf), Seq("lang", "w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_phrase"))
      .withColumn("phrase_milli",
        expr("(2 * n_phrase * 1000 + n_bigrams) div (2 * n_bigrams)"))
  }

  /** Exact corpus heavy hitters with a sketch-pruned shuffle: the tokens
    * whose corpus frequency strictly exceeds n_tokens/k.
    *
    * Phase 1 runs a Misra–Gries summary (capacity k, O(k) state) inside
    * each partition: a token with GLOBAL count > n/k must exceed n_p/k in
    * at least one partition (else the partition counts couldn't sum past
    * n/k), and MG with k counters retains every token above
    * n_p/(k+1) ≤ n_p/k — so the unioned candidates are a GUARANTEED
    * superset of the true heavy hitters. The same pass emits each
    * partition's token total (marker row), so phase 1 is one scan with a
    * ≤(k+1)·#partitions-row output (eagerly checkpointed — it feeds both
    * the candidate list and the corpus total). Phase 2 exact-counts ONLY
    * the candidates (broadcast semi-join under the agg) and applies the
    * integer threshold cnt·k > n_total. Output is bit-identical to the
    * naive full groupBy — the oracle IS that naive query — but the
    * count shuffle carries candidate keys only (≤ k·#partitions distinct
    * tokens instead of the whole vocabulary). The 100 TB shape: vocab
    * can be billions of keys; candidates stay driver-broadcastable. */
  def heavyHitters(d: DataFrame, k: Int): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    require(k >= 2 && k <= 100000, s"heavyHitters k out of range: $k")
    def toks = withToks(d.withColumn("text", lower(col("text"))))
      .select(explode(col("toks")).as("word"))
    // (word, 0) candidate rows + one ("", n_p) partition-total marker;
    // "" is never a token (toksExpr drops empties)
    val phase1 = toks.as[String].mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      it.foreach { w =>
        n += 1L
        if (counts.contains(w)) counts(w) += 1L
        else if (counts.size < k) counts(w) = 1L
        else {
          // canonical MG step: decrement every counter, discard w
          val dead = List.newBuilder[String]
          counts.keysIterator.toArray.foreach { key =>
            val c = counts(key) - 1L
            if (c == 0L) dead += key else counts(key) = c
          }
          dead.result().foreach(counts.remove)
        }
      }
      counts.keysIterator.map(w => (w, 0L)) ++ Iterator(("", n))
    }.toDF("word", "n").localCheckpoint(true)
    val total = phase1.groupBy().agg(sum(col("n")).as("n_total"))
    val cands = phase1.filter(col("word") =!= "")
      .select(col("word")).distinct()
    toks.join(broadcast(cands), "word")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * k > col("n_total"))
      .select(col("word"), col("cnt"))
  }

  /** Document-length histogram (bucket = chars div width * width). */
  def lengthHistogram(d: DataFrame, width: Int): DataFrame =
    d.withColumn("bucket",
        (expr(s"length(text) div $width") * width).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))

  /** Redaction pass: mask PII-shaped spans (emails, long digit runs,
    * phone-ish sequences) before training. Pure regexp_replace chain —
    * codegen'd, linear, identical semantics in the oracle dialect. */
  def redact(d: DataFrame): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val digits = "[0-9]{6,}"
    d.select(
      col("doc_id"),
      regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"),
        digits, "<NUM>").as("redacted"),
      (length(col("text")) -
        length(regexp_replace(regexp_replace(col("text"), email, ""),
          digits, ""))).cast("long").as("chars_redacted"))
  }

  /** Deterministic hash-based train/test assignment: the split is a pure
    * function of doc_id (first md5 hex nibble), so it's stable across
    * runs, engines, partitionings, and re-ingests — the property a
    * training pipeline needs to avoid split leakage. trainFrac is in
    * sixteenths (e.g. 13 → ~81% train). */
  def splitAssign(d: DataFrame, trainSixteenths: Int): DataFrame =
    d.select(col("doc_id"), col("lang"), col("source"),
      splitExpr(trainSixteenths).as("split"))

  /** ONE definition of the md5-nibble train/test split for every
    * consumer ([[splitAssign]], [[vocabCoverage]]) — the oracles embed
    * the identical predicate verbatim, so sharing the expression is
    * what keeps a future boundary change from silently diverging the
    * split across operators. */
  private[text] def splitExpr(trainSixteenths: Int): Column = {
    // single hex nibble compare — 16 would need a two-char boundary that
    // breaks the lexicographic comparison
    require(trainSixteenths >= 1 && trainSixteenths <= 15,
      s"trainSixteenths must be in [1, 15], got $trainSixteenths")
    when(substring(md5(col("doc_id").cast("string")), 1, 1) <
      trainSixteenths.toHexString, "train").otherwise("test")
  }

  /** Seeded stratified sample: `fraction` per language stratum, as a pure
    * per-row Bernoulli on md5(doc_id:lang:seed) — fully distributed (no
    * driver-side strata collect), engine-independent (same rows in any
    * engine that has md5), and trivially mergeable across corpus shards.
    * The keep decision compares the first 4 hex digits against
    * round(fraction · 16^4), so the realized rate is within 1/65536 of
    * `fraction` in expectation per stratum. */
  def stratifiedSample(d: DataFrame, fraction: Double,
      seed: Long = 42L): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"bad fraction $fraction")
    val cut = math.round(fraction * 65536)
    val base = d.select(col("doc_id"), col("lang"), col("source"))
    // cut = 65536 would format as the 5-char "10000", which compares
    // lexicographically BELOW most 4-char prefixes — keep-all must skip
    // the filter entirely
    if (cut >= 65536L) base
    else base.filter(
      substring(md5(concat_ws(":", col("doc_id").cast("string"), col("lang"),
        lit(seed.toString))), 1, 4) < f"$cut%04x")
  }

  /** EXACT-k stratified sample — the eval-set construction primitive:
    * exactly `k` documents per (lang, source) stratum (fewer only when
    * the stratum is smaller), chosen as the k smallest
    * md5(doc_id:salt) keys — uniform-without-replacement per stratum,
    * deterministic, engine-independent, and stable under corpus
    * re-partitioning (the keep set is a pure function of the stratum's
    * id set). Complements [[stratifiedSample]]: that one is a Bernoulli
    * FRACTION (rate control), this one is an exact COUNT (an eval suite
    * needs exactly k, not ≈k).
    *
    * Scale: the naive formulation (`row_number` over a per-stratum
    * window) sorts every stratum — a full corpus sort at 100 TB. This
    * runs the [[graft.functions.MinKByKey]] bounded aggregate instead:
    * one hash agg whose map-side combine ships ≤ k rows per (stratum ×
    * input partition), no sort anywhere (PlanSpec-asserted).
    * `sample_rank` is the position in the ascending (key, doc_id) order, so
    * consumers can take a smaller prefix without resampling. */
  def sampleExactK(d: DataFrame, k: Int = 5,
      salt: String = "strat"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val key = md5(concat_ws(":", col("doc_id").cast("string"), lit(salt)))
    d.groupBy(col("lang"), col("source"))
      .agg(MinKByKey(struct(key.as("key"), col("doc_id").as("id")), k)
        .as("picks"))
      .select(col("lang"), col("source"), posexplode(col("picks")))
      .select(col("lang"), col("source"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("sample_rank"))
  }

  /** Dedup-adjusted token accounting per (lang, source) — the number a
    * training-data owner actually budgets with: raw token counts next to
    * the counts surviving exact dedup (digest keepers only), plus the
    * survival fraction. A corpus slice with a low yield is dominated by
    * copies; its raw size overstates its training value. Keepers are
    * elected GLOBALLY (min doc_id per md5 digest, the [[graft.dedup
    * .Dedup.exact]] rule) and attributed to the keeper's own stratum, so
    * cross-source copies debit the stratum that loses the election —
    * the same attribution dedup_report uses for chars_saved.
    *
    * Scale: one digest hash agg (map-side combined), one doc_id
    * equijoin, one stratum agg — nothing pairwise, no skew hazard
    * (digest groups are copy-counts, strata are few). The yield guard is
    * an INTEGER predicate (tokens_raw > 0), so row membership can't flip
    * on an engine FP difference. */
  /** Data-ablation LADDER receipts — the nested subsample chain a
    * scaling-law experiment trains on (D/16 ⊂ D/8 ⊂ D/4 ⊂ D/2 ⊂ D):
    * rung membership is an md5 hex-prefix threshold on doc_id, so the
    * rungs are NESTED BY CONSTRUCTION (the same key under increasing
    * thresholds — growing the budget only ADDS documents, it never
    * resamples, which is what makes per-rung loss curves comparable),
    * deterministic, engine-independent, and stable under
    * repartitioning (the doc_sample/split_assign md5 posture). One
    * corpus scan theta-joined to the 5-row rung table (broadcast
    * nested-loop over a constant side), one hash agg to 5 rows; every
    * output is an exact integer under the hash gate. The denom-1 rung
    * doubles as the full-corpus control row. */
  def scalingLadder(d: DataFrame, salt: String = "ladder"): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    // 'g' sorts above every hex digit — the full-corpus rung
    val rungs = Seq((16L, "1"), (8L, "2"), (4L, "4"), (2L, "8"),
      (1L, "g")).toDF("denom", "thr")
    d.withColumn("k", substring(md5(concat_ws(":",
        col("doc_id").cast("string"), lit(salt))), 1, 1))
      .withColumn("n_toks", size(expr(toksExpr)).cast("long"))
      .join(broadcast(rungs), col("k") < col("thr"))
      .groupBy(col("denom"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        countDistinct(col("source")).as("n_sources"))
  }

  def tokenYield(d: DataFrame): DataFrame = {
    val toks = withToks(d).select(col("doc_id"), col("lang"), col("source"),
      size(col("toks")).cast("long").as("n_tok"))
    val keepers = d
      .groupBy(md5(lower(trim(col("text")))).as("digest"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1L).as("kept"))
    toks.join(keepers, Seq("doc_id"), "left")
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tokens_raw"),
        sum(coalesce(col("kept"), lit(0L))).as("n_docs_kept"),
        sum(when(col("kept").isNotNull, col("n_tok")).otherwise(0L))
          .as("tokens_kept"))
      .filter(col("tokens_raw") > 0L)
      // floor-half-up in one double expression (the knn_quantized FP
      // contract): multiply, divide, add, floor — IEEE-identical in any
      // engine, no float round() anywhere
      .withColumn("yield_frac",
        floor(col("tokens_kept").cast("double") * lit(10000.0) /
            col("tokens_raw").cast("double") + lit(0.5))
          .cast("double") / lit(10000.0))
  }

  /** Temperature-balanced mixture plan over dedup-adjusted token yields
    * — the data-mixing computation a training run performs before
    * sampling: allocate a token budget across (lang, source) strata
    * proportionally to tokens_kept^α with α = 1/2, the temperature-
    * sampling rule of multilingual pretraining (small corpora are
    * upweighted; sqrt flattens the size distribution), then report each
    * stratum's share and epoch (repeat) factor. Composes over
    * [[tokenYield]] so the budget is allocated over tokens that SURVIVE
    * exact dedup — raw counts overstate a copy-heavy source.
    *
    * FP contract (the token_yield discipline extended by one
    * nonlinearity): sqrt over an exact-integer double is IEEE-
    * correctly-rounded — the one non-rational op that is engine-
    * identical, unlike ln/exp/pow (which is why α is pinned to 1/2
    * rather than parameterized) — and is snapped immediately to the
    * milli grid (floor(sqrt(kept)·1000) AS BIGINT), so stratum weights
    * and their total are EXACT integers; share/epochs are ONE
    * floor-half-up double expression each over those integers;
    * target_tokens = floor(budget·w/W) with multiply before divide.
    * Membership is guarded by the INTEGER tokens_kept > 0 predicate.
    *
    * `budget` defaults to the corpus's own total kept tokens (an exact
    * integer both engines compute): re-balance at constant size, no
    * absolute constant that breaks at a different scale.
    *
    * Scale: everything past tokenYield's stratum agg operates on a
    * strata-sized table (the broadcast total is one row) — cost is the
    * yield scan, which is one map-side-combinable pass. */
  def mixPlan(d: DataFrame, budget: Option[Long] = None): DataFrame = {
    val y = tokenYield(d).filter(col("tokens_kept") > 0L)
      .select(col("lang"), col("source"), col("tokens_kept"))
      .withColumn("weight_milli",
        floor(sqrt(col("tokens_kept").cast("double")) * lit(1000.0))
          .cast("long"))
    val tot = y.groupBy().agg(
      sum(col("weight_milli")).as("w_total"),
      sum(col("tokens_kept")).as("kept_total"))
    y.crossJoin(broadcast(tot))
      .withColumn("budget_tokens",
        budget.map(lit(_).cast("long")).getOrElse(col("kept_total")))
      .withColumn("target_tokens",
        floor(col("budget_tokens").cast("double") *
          col("weight_milli").cast("double") /
          col("w_total").cast("double")).cast("long"))
      .select(
        col("lang"), col("source"), col("tokens_kept"), col("weight_milli"),
        (floor(col("weight_milli").cast("double") * lit(10000.0) /
          col("w_total").cast("double") + lit(0.5)).cast("double") /
          lit(10000.0)).as("share"),
        col("target_tokens"),
        (floor(col("target_tokens").cast("double") * lit(10000.0) /
          col("tokens_kept").cast("double") + lit(0.5)).cast("double") /
          lit(10000.0)).as("epochs"))
  }

  /** One-row governance audit for [[mixPlan]] (the lsh_bucket_audit
    * discipline: every allocation operator carries an accounting row a
    * pipeline can alert on): strata count, the kept-token pool, the
    * summed allocation (≤ pool by floor rounding — the difference is
    * the rounding slack, bounded by n_strata tokens), how many strata
    * the temperature UPSAMPLES (an integer target > kept predicate —
    * the strata whose docs will repeat epochs), and the worst repeat
    * factor (a max over already-grid-snapped doubles — comparisons of
    * identical values, no new FP hazard). Everything is one agg over
    * the strata-sized plan. */
  def mixAudit(d: DataFrame, budget: Option[Long] = None): DataFrame =
    mixPlan(d, budget).agg(
      count(lit(1)).as("n_strata"),
      sum(col("tokens_kept")).as("kept_total"),
      sum(col("target_tokens")).as("target_total"),
      sum(when(col("target_tokens") > col("tokens_kept"), 1L)
        .otherwise(0L)).as("n_upsampled"),
      max(col("epochs")).as("max_epochs"))

  /** Materialized mixture: per-document COPY COUNT under [[mixPlan]] —
    * the stratum's epoch factor target/kept splits into whole copies
    * (floor) plus one Bernoulli fractional copy decided by a 16-bit
    * md5(doc_id:lang:source:seed) threshold, so the expected token mass
    * emitted per stratum is exactly target_tokens and the copy set is a
    * deterministic pure function of the id set (partition-stable,
    * engine-reproducible). The fractional part is strictly < 1, so the
    * threshold stays below 65536 and needs no keep-all bypass branch
    * (unlike [[sourceBalance]]/[[stratifiedSample]], whose rates can
    * reach 1). Threshold arithmetic is the IDENTICAL IEEE expression on
    * both engines (divide, subtract its own floor, multiply, floor).
    *
    * Scale: the plan is a strata-sized broadcast joined back onto the
    * corpus; the copy decision is a stateless per-row expression — the
    * fact table is never shuffled (the source_balance posture,
    * PlanSpec-asserted). Zero-kept strata and zero-copy draws drop out
    * via INTEGER predicates. Consumers explode n_copies at read time
    * (keeping copies implicit is deliberate: a 3.7-epoch stratum would
    * otherwise quadruple its bytes on disk). */
  def mixApply(d: DataFrame, budget: Option[Long] = None,
      seed: Long = 42L): DataFrame =
    mixApplyWith(d,
      mixPlan(d, budget)
        .select("lang", "source", "tokens_kept", "target_tokens"),
      seed)

  /** The decision half of [[mixApply]], parameterized by an
    * ALREADY-BUILT plan (lang, source, tokens_kept, target_tokens) —
    * one definition shared with the stream-static probe
    * ([[graft.streaming.Streaming.runMixApplyProbe]]), which replays it
    * per micro-batch against the frozen plan TABLE so no driver-side
    * closure constant exists on the serving path. */
  def mixApplyWith(d: DataFrame, plan: DataFrame,
      seed: Long = 42L): DataFrame = {
    val ratio = col("target_tokens").cast("double") /
      col("tokens_kept").cast("double")
    d.select(col("doc_id"), col("lang"), col("source"))
      .join(broadcast(plan), Seq("lang", "source"))
      .withColumn("n_copies",
        floor(ratio).cast("long") +
          when(substring(md5(concat_ws(":", col("doc_id").cast("string"),
            col("lang"), col("source"), lit(seed.toString))), 1, 4) <
            format_string("%04x",
              floor((ratio - floor(ratio)) * lit(65536.0)).cast("long")),
            1L).otherwise(0L))
      .filter(col("n_copies") > 0L)
      .select("doc_id", "lang", "source", "n_copies")
  }

  /** In-engine TRAINED linear text classifier (the CCNet/GPT-3
    * quality-filter shape: label a reference corpus vs the crawl, train
    * a cheap linear model on tokens, score everything): multinomial
    * Naive-Bayes log-odds per in-band term, trained by COUNTING (one
    * corpus pass — NB's closed form is what makes an in-engine trainer
    * oracle-checkable end to end; an SGD loop's float gradient sums are
    * not), applied as an exact integer sum per document.
    *
    * FP contract (the lm_score → doc_similar ladder): class counts,
    * totals and vocabulary size are exact integers; the ONLY
    * transcendental is one ln over one double expression
    * (Laplace-smoothed odds ratio, multiply-multiply-divide — each
    * engine rounds the same IEEE chain identically), snapped
    * immediately to the milli grid (floor(·1000 + 0.5) AS BIGINT); doc
    * scores are exact integer Σ tf·logodds_milli; the CLASS DECISION is
    * the INTEGER predicate sum > 0 (σ is monotone, so thresholding the
    * logit ≡ thresholding the probability — no sigmoid anywhere).
    *
    * Returns per-doc rows: (doc_id, n_scored_tokens, logodds_milli_sum,
    * pred_ref). Docs with zero in-band terms have no evidence and no
    * row (inner-join membership — an integer decision). The df band
    * (`minDf`) is the doc_similar vocabulary discipline: rare terms are
    * noise AND unbounded vocabulary; at 100 TB the model table is the
    * banded vocab, which is what [[writeDomainModel]] persists.
    *
    * Scale: train = one map-side-combinable term agg (the heavy_hitters
    * shuffle shape, term-hash partitioned); score = one (doc, term) tf
    * agg + one term equijoin + one doc agg. Nothing pairwise, no
    * windows, no iteration. */
  def domainClassifier(d: DataFrame, refSource: String = "src0",
      minDf: Int = 2): DataFrame = {
    val model = domainModel(d, refSource, minDf)
      .select("term", "logodds_milli")
    scoreAgainstModel(docTermTf(d), model)
  }

  /** Exploded (doc_id, is_ref, term) rows — the one-definition
    * tokenization (lowercased whitespace split) shared by train, score,
    * and the streaming dual's closure. */
  private def labeledTerms(d: DataFrame, refSource: String): DataFrame =
    lowerToks(d).select(col("doc_id"),
      (col("source") === refSource).cast("long").as("is_ref"),
      explode(col("toks")).as("term"))

  private def docTermTf(d: DataFrame): DataFrame =
    lowerToks(d).select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** The trained model: per in-band term, class counts and the
    * milli-snapped NB log-odds. One term agg + a broadcast one-row
    * total. */
  def domainModel(d: DataFrame, refSource: String = "src0",
      minDf: Int = 2): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    val termClass = labeledTerms(d, refSource)
      .groupBy(col("term"))
      .agg(
        sum(col("is_ref")).as("c_ref"),
        sum(lit(1L) - col("is_ref")).as("c_oth"),
        countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
    val tot = termClass.groupBy().agg(
      sum(col("c_ref")).as("r_total"),
      sum(col("c_oth")).as("o_total"),
      count(lit(1)).as("v_size"))
    termClass.crossJoin(broadcast(tot))
      .withColumn("logodds_milli",
        floor(log(
          (col("c_ref") + 1L).cast("double") *
            (col("o_total") + col("v_size")).cast("double") /
            ((col("c_oth") + 1L).cast("double") *
              (col("r_total") + col("v_size")).cast("double"))) *
          lit(1000.0) + lit(0.5)).cast("long"))
      .select("term", "c_ref", "c_oth", "df", "logodds_milli")
  }

  private def scoreAgainstModel(tf: DataFrame, model: DataFrame): DataFrame =
    tf.join(model, "term")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_scored_tokens"),
        sum(col("tf") * col("logodds_milli")).as("logodds_milli_sum"))
      .withColumn("pred_ref",
        (col("logodds_milli_sum") > 0L).cast("long"))

  /** Held-out variant of [[domainClassifier]]: the model trains on the
    * TRAIN split only and scores the TEST split only — the
    * hygiene-correct evaluation (self-scoring inflates separability:
    * every term count includes the doc being scored, so a memorized
    * rare term is its own evidence). Same closed-form trainer, same
    * integer contract; the oracle reproduces the split with the
    * split_assign md5-nibble predicate, so train/test membership is an
    * engine-independent pure function of doc_id. */
  def domainClassifierHoldout(d: DataFrame, refSource: String = "src0",
      minDf: Int = 2, trainSixteenths: Int = 13): DataFrame = {
    val split = splitAssign(d, trainSixteenths).select("doc_id", "split")
    val train = d.join(
      split.filter(col("split") === "train").select("doc_id"), "doc_id")
    val test = d.join(
      split.filter(col("split") === "test").select("doc_id"), "doc_id")
    scoreAgainstModel(docTermTf(test),
      domainModel(train, refSource, minDf)
        .select("term", "logodds_milli"))
  }

  /** Confusion rollup of [[domainClassifier]] against the true source
    * labels — the train-time accuracy view a filtering pipeline signs
    * off on before applying the model to a crawl. Scored docs only
    * (no-evidence docs have no prediction); composition embeds the
    * per-doc oracle verbatim (the contamination_report discipline). */
  def domainClassifierEval(d: DataFrame, refSource: String = "src0",
      minDf: Int = 2): DataFrame =
    domainClassifier(d, refSource, minDf)
      .join(d.select(col("doc_id"),
        (col("source") === refSource).cast("long").as("is_ref")), "doc_id")
      .groupBy(col("is_ref"), col("pred_ref"))
      .agg(count(lit(1)).as("n_docs"))

  /** Persist the trained model as a bucketed external table keyed by the
    * APPLY key (`term` — the writeBpeModel posture): the serving
    * artifact a filtering fleet loads, so scoring a new crawl never
    * re-trains. */
  def writeDomainModel(d: DataFrame, tableName: String, path: String,
      refSource: String = "src0", minDf: Int = 2,
      buckets: Int = 8): Unit = {
    // one generation behind the artifact pointer (Staged.commit): the
    // live model serves while the new generation trains
    graft.sources.Staged.commit(d.sparkSession, tableName, path)(_.write() {
      (tbl, p) =>
        domainModel(d, refSource, minDf)
          .repartition(col("term"))
          .write
          .option("path", p)
          .bucketBy(buckets, "term")
          .sortBy("term")
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .saveAsTable(tbl)
    })
  }

  /** Score a corpus against the PERSISTED model ([[writeDomainModel]])
    * — result-identical to [[domainClassifier]] on the training corpus
    * (spec-proven row parity): the train-once/score-per-crawl hop is
    * transparent to the result. */
  def domainScorePersisted(spark: SparkSession, d: DataFrame,
      tableName: String): DataFrame =
    scoreAgainstModel(docTermTf(d),
      graft.sources.Staged.table(spark, tableName).select("term", "logodds_milli"))

  /** Source/domain balancing — the data-mixing step before training:
    * every source is Bernoulli-downsampled to at most ≈`cap` expected
    * rows, so no domain dominates the mix. Per-source keep rate
    * r_s = min(1, cap / n_s) expressed as a 16-bit threshold, keep
    * decision a pure function of md5(doc_id:source:seed) — fully
    * distributed, engine-independent (the oracle reproduces the exact
    * row set), and mergeable across shards.
    *
    * Scale: one map-side-combinable count per source (sources are a
    * dim-sized set), the per-source thresholds broadcast back, then a
    * stateless per-row filter — no shuffle of the fact table at all.
    * The threshold arithmetic (`floor(cap * 65536.0 / n_s)`) is kept
    * as the IDENTICAL IEEE expression in the oracle SQL: same multiply,
    * same divide, same floor, so the boundary row set can't drift. */
  def sourceBalance(d: DataFrame, cap: Long, seed: Long = 42L): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val rates = d.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      .withColumn("thresh",
        floor(lit(cap) * lit(65536.0) / col("n_src")).cast("long"))
    // thresh >= 65536 (source already within cap) would format as a
    // 5-char hex string that compares lexicographically BELOW most
    // 4-char prefixes — keep-all must bypass the string compare
    // (cf. stratifiedSample)
    d.join(broadcast(rates.select(col("source"), col("thresh"))), "source")
      .filter(col("thresh") >= 65536L ||
        substring(md5(concat_ws(":", col("doc_id").cast("string"),
          col("source"), lit(seed.toString))), 1, 4) <
          format_string("%04x", col("thresh")))
      .select("doc_id", "lang", "source")
  }

  /** Per-document novelty — the fraction of a document's distinct word
    * n-grams that appear for the FIRST time in the corpus (first = the
    * lowest doc_id containing the gram, i.e. ingestion order): the
    * burstiness/novelty curation signal — near-zero novelty means the
    * doc is assembled from already-seen phrasing even when no single
    * pair-wise near-dup fires.
    *
    * Scale: one map-side-combinable min-agg over the gram postings
    * (first occurrence is an argmin, not a window over a global order)
    * and one gram equijoin back — shuffle volume ∝ corpus tokens,
    * never pairs. */
  def docNovelty(d: DataFrame, n: Int = 5): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    val gramExpr = (0 until n).map(j => s"toks[i + $j]").mkString(", ")
    // the gram postings feed BOTH the first-occurrence agg and the
    // join-back — checkpoint so the explode runs once
    val grams = withToks(d)
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(array_distinct(
        expr(s"transform(sequence(0, size(toks) - $n), " +
          s"i -> concat_ws(' ', $gramExpr))"))).as("gram"))
      .localCheckpoint(true)
    val first = grams.groupBy("gram").agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, "gram")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_first"))
      .withColumn("novelty",
        round(col("n_first").cast("double") / col("n_grams"), 4))
  }

  /** Sequence packing — concat-and-chunk assignment of documents into
    * fixed token-budget packs (what a training loader does to fill
    * context windows): documents are laid out in doc_id order within
    * each source, and a document's pack is the chunk its FIRST token
    * lands in (`floor(start_tok / budget)` over the running token
    * prefix sum). Deterministic and oracle-reproducible (window cumsum +
    * the same IEEE divide/floor).
    *
    * Scale: the prefix sum partitions BY SOURCE — parallelism =
    * #sources, the same one-task-per-partition design point as the
    * per-segment ordered operators (SURVEY §5 hot-segment bound); for a
    * pathological single giant source, the chunked two-phase prefix
    * pattern of `StreamOps.watermarkAudit` is the documented escape
    * hatch (token sums are reassociable). */
  def packAssign(d: DataFrame, budget: Long = 256L): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withToks(d)
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_tok"))
      .withColumn("start_tok", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("pack_id",
        floor(col("start_tok") / lit(budget.toDouble)).cast("long"))
      .select("doc_id", "source", "n_tok", "pack_id")
  }

  /** Curriculum phase assignment — split the corpus into `nPhases`
    * equal-mass phases in GLOBAL quality order (phase 0 = highest
    * quality, the curriculum/annealing data-ordering step of a training
    * run) WITHOUT any global sort: quality scores are exact quarters
    * (q4 integers), so the global order statistic collapses to a
    * grid-HISTOGRAM prefix — one tiny per-score count table, a window
    * over THAT (the watermarkAudit chunk-table pattern: the window runs
    * over ≤ a handful of grid rows, never over docs), and a per-doc
    * integer decision. Docs sharing a score straddle phase cuts; they
    * are spread deterministically by a 16-bit md5 draw against
    * per-group integer thresholds (the stratifiedSample rule, with the
    * ceil ((d·65536 + cnt − 1) div cnt) so a cut at the group edge
    * excludes/includes exactly; t ≥ 65536 is decided on the INTEGER,
    * never the 5-char hex string — the documented compare trap).
    * EVERYTHING is integer arithmetic + one md5 string compare: no
    * doubles anywhere, so phase membership cannot drift between
    * engines or partitionings. Cross-score monotonicity is exact: a
    * higher-q4 doc never lands in a later phase than a lower-q4 doc
    * (group position intervals are disjoint; spec-asserted).
    *
    * Scale: this is the zero-sort formulation of a global ntile — the
    * naive `row_number() OVER (ORDER BY quality)` sorts the corpus on
    * one task chain at 100 TB; here the corpus is touched by two
    * stateless passes (score, assign) and the only window runs over the
    * score grid. The same shape generalizes to any rounded-grid order
    * key. */
  def curriculumAssign(d: DataFrame, nPhases: Int = 4,
      salt: String = "curr"): DataFrame =
    assignPhases(scoredQ4(d), curriculumBoundaries(d, nPhases),
      nPhases, salt)

  /** The per-row quarter-score — stateless expressions only, so it
    * applies to a STREAM of documents unchanged (one definition with
    * the boundary build). */
  private[graft] def scoredQ4(d: DataFrame): DataFrame =
    scoredQ4Full(d).select("doc_id", "q4")

  /** Quarter-score plus the columns the budget family needs (source,
    * token count) — the ONE q4 definition behind curriculum_assign,
    * budget_cut, and both streaming duals; unused columns prune. */
  private[graft] def scoredQ4Full(d: DataFrame): DataFrame =
    qualityScored(d).select(col("doc_id"), col("source"),
      col("n_tokens").as("n_tok"), q4Expr.as("q4"))

  /** The ONE quarter-score expression (shared by the batch scorers and
    * the streaming recrawl-priority dual). */
  private[graft] def q4Expr: org.apache.spark.sql.Column =
    round(col("quality_score") * 4, 0).cast("long")

  /** The frozen distribution artifact: per score-grid row, its count,
    * the mass strictly above it, and the corpus total — everything the
    * per-doc phase decision needs. Grid-sized (≤ #distinct quarter
    * scores). */
  private[graft] def curriculumBoundaries(d: DataFrame,
      nPhases: Int): DataFrame = {
    require(nPhases >= 2 && nPhases <= 16,
      s"nPhases must be in [2, 16], got $nPhases")
    val grid = scoredQ4(d).groupBy(col("q4")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("q4").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val pref = grid.withColumn("cum_before",
      coalesce(sum(col("cnt")).over(w), lit(0L)))
    val tot = grid.groupBy().agg(sum(col("cnt")).as("total"))
    pref.crossJoin(broadcast(tot))
  }

  /** The all-integer per-doc phase decision against a (frozen)
    * boundaries table — a stateless broadcast equijoin + expression,
    * shared verbatim by the batch operator and the streaming dual. */
  private[graft] def assignPhases(scored: DataFrame, boundaries: DataFrame,
      nPhases: Int, salt: String): DataFrame = {
    val terms = (1 until nPhases).map { p =>
      val dp = s"(($p * total) div $nPhases) - cum_before"
      val tp = s"((($dp) * 65536 + cnt - 1) div cnt)"
      s"""CASE WHEN ($dp) <= 0 THEN 1
               WHEN $tp >= 65536 THEN 0
               WHEN hex4 >= format_string('%04x', $tp) THEN 1
               ELSE 0 END"""
    }
    scored.join(broadcast(boundaries), "q4")
      .withColumn("hex4", substring(md5(concat_ws(":",
        col("doc_id").cast("string"), lit(salt))), 1, 4))
      .withColumn("phase", expr(terms.mkString(" + ")).cast("long"))
      .select("doc_id", "q4", "phase")
  }

  /** Per-source RELATIVE quality gate (r17) — "keep the top X‰ of
    * each source by quality", the per-source percentile cut a curation
    * run applies when absolute quality thresholds would empty weak
    * sources and barely touch strong ones (the complement of
    * [[budgetCut]]'s absolute token ceiling): every doc gets a kept
    * 0/1 decision; whole quarters above the per-source boundary are
    * kept, below dropped, and the BOUNDARY quarter is sub-split
    * doc-granularly by the salted 16-bit md5 draw at the exact ceil
    * threshold (the [[assignPhases]] machinery, re-derived per
    * source), so the realized kept count tracks target = (n_docs ·
    * keepMilli) div 1000 to md5-uniformity precision instead of a
    * whole quarter. All-integer decision (grid counts, prefix sums,
    * one ceil division, a 4-hex-char compare); the tp ≥ 65536 branch
    * keeps the whole group rather than comparing against the 5-char
    * '10000' (the format_string trap). Deterministic pure function of
    * the (doc_id, source, q4) set — partition- and engine-stable.
    *
    * Scale: the corpus is touched by two stateless passes (score+hash,
    * decide); the only window runs over the (source, q4) GRID —
    * ≤ 5·|sources| rows, corpus-independent — eagerly checkpointed for
    * its two consumers; the decision join is a broadcast equijoin
    * against that grid. */
  def qualityCut(d: DataFrame, keepMilli: Long = 400L): DataFrame =
    applyQualityGate(qualityCutScored(d),
      broadcast(qualityDecisions(d, keepMilli)))

  /** The per-row score+hash pass — stateless pure expressions only, so
    * it applies to a STREAM of documents unchanged (the budgetScored
    * convention; one definition with the decision build). */
  private[graft] def qualityCutScored(d: DataFrame): DataFrame =
    scoredQ4Full(d)
      .withColumn("hex4", substring(md5(concat_ws(":",
        col("doc_id").cast("string"), lit("qcut"))), 1, 4))

  /** The frozen per-source decision grid ((source, q4) → cnt, deficit,
    * ceil threshold) — the artifact a live gate scores against (the
    * budgetDecisions posture): ≤ 5·|sources| rows, corpus-independent,
    * checkpointed once for its prefix and total consumers. */
  def qualityDecisions(d: DataFrame, keepMilli: Long = 400L): DataFrame = {
    require(keepMilli >= 1L && keepMilli <= 999L,
      s"keepMilli must be in [1, 999], got $keepMilli")
    val grid = qualityCutScored(d).groupBy(col("source"), col("q4"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // 2 consumers: prefix + per-source total
    val w = Window.partitionBy("source").orderBy(col("q4").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val pref = grid.withColumn("cum_before",
      coalesce(sum(col("cnt")).over(w), lit(0L)))
    val tot = grid.groupBy(col("source")).agg(sum(col("cnt")).as("n_docs"))
    pref.join(tot, "source")
      .withColumn("deficit",
        expr(s"(n_docs * $keepMilli) div 1000") - col("cum_before"))
      .withColumn("tp",
        expr("(deficit * 65536 + cnt - 1) div cnt"))
      .select("source", "q4", "cnt", "deficit", "tp")
  }

  /** The gate decision — a stateless equijoin + when-chain against a
    * (frozen) decision grid, shared verbatim by the batch operator and
    * the streaming gate (the applyBudget posture). Branch order is
    * load-bearing: the ceil threshold only ever decides on a positive
    * deficit strictly under cnt (the oracle mirrors the CASE order). */
  private[graft] def applyQualityGate(scored: DataFrame,
      decisions: DataFrame): DataFrame =
    scored.join(decisions, Seq("source", "q4"))
      .withColumn("kept",
        when(col("deficit") <= 0L, 0L)
          .when(col("deficit") >= col("cnt"), 1L)
          .when(col("tp") >= 65536L, 1L)
          .when(col("hex4") < format_string("%04x", col("tp")), 1L)
          .otherwise(0L))
      .select("doc_id", "source", "q4", "kept")

  /** Per-source accounting for [[qualityCut]] (the lsh_bucket_audit
    * discipline): docs, integer target, realized kept count and its
    * half-up milli share — the target-vs-realized delta is the
    * md5-uniformity slack a pipeline alerts on. Oracle embeds the cut
    * SQL verbatim. */
  def qualityCutAudit(d: DataFrame, keepMilli: Long = 400L): DataFrame =
    qualityCut(d, keepMilli)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"))
      .select(col("source"), col("n_docs"),
        expr(s"(n_docs * $keepMilli) div 1000").as("target_keep"),
        col("n_kept"),
        expr("(2 * n_kept * 1000 + n_docs) div (2 * n_docs)")
          .as("kept_milli"))

  /** Token-BUDGET data selection — keep the highest-quality slice of
    * each source under a hard per-source token budget (the "select the
    * best N tokens" step of a data-constrained training run, the
    * quality-filtered cousin of published select-then-train recipes):
    * docs are consumed in (q4 desc, hex4 asc) order — quality first,
    * ties spread by the 16-bit md5 draw — and a doc is kept iff its
    * whole (q4, hex4) GROUP still fits the remaining budget.
    * Group-granular admission makes membership a pure integer function
    * of the group prefix sums (no within-group ordering ever needed);
    * the budget is a HARD ceiling. The admission rule, stated exactly:
    * a group is kept iff the cumulative mass of ALL prior groups in
    * (q4 desc, hex4 asc) order — rejected ones included — plus its own
    * still fits, so the kept set is the maximal PREFIX of that order
    * whose cumulative mass fits (not a best-fit packing: a later small
    * group that would still fit after a non-fitting one is rejected
    * too). With near-uniform group sizes — the corpus/(9·65536)-per-
    * group regime this grid produces — the undershoot is bounded by
    * about one group's tokens; heavily skewed group sizes can leave
    * more on the table, which `budget_audit`'s utilization row
    * surfaces.
    *
    * Scale (the curriculum_assign zero-sort argument, extended to token
    * mass): the corpus is touched by two stateless passes (score+hash,
    * decide); the only window runs over the (source, q4, hex4) GRID,
    * whose size is CORPUS-INDEPENDENT (≤ sources·9·65536 rows — it
    * saturates, never grows with docs). The decision join is a
    * co-partitioned equijoin against that bounded grid (AQE broadcasts
    * it while small); nothing sorts doc rows, nothing is pairwise.
    * EVERYTHING is integer arithmetic — no doubles anywhere, so
    * membership can't drift between engines or partitionings. */
  def budgetCut(d: DataFrame, budget: Long = 2000L,
      salt: String = "budget"): DataFrame = {
    val scored = budgetScored(d, salt)
      // feeds the grid agg AND the decision join — one materialization
      .localCheckpoint(true)
    applyBudget(scored, decisionsFrom(scored, budget))
  }

  /** Per-doc (q4, hex4) scoring + draw — stateless expressions only, so
    * it applies to a STREAM of documents unchanged (one definition with
    * the decision build; the scoredQ4 posture). */
  private[graft] def budgetScored(d: DataFrame, salt: String): DataFrame =
    scoredQ4Full(d)
      .withColumn("hex4", substring(md5(concat_ws(":",
        col("doc_id").cast("string"), lit(salt))), 1, 4))

  /** The frozen budget-decision artifact: one `kept` flag per realized
    * (source, q4, hex4) group — grid-bounded (≤ sources·9·65536 rows at
    * ANY corpus size), the serving-side table
    * [[graft.streaming.Streaming.budgetGateStream]] joins against. */
  def budgetDecisions(d: DataFrame, budget: Long = 2000L,
      salt: String = "budget"): DataFrame =
    decisionsFrom(budgetScored(d, salt), budget)

  private def decisionsFrom(scored: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    import org.apache.spark.sql.expressions.Window
    val grid = scored.groupBy(col("source"), col("q4"), col("hex4"))
      .agg(sum(col("n_tok")).as("g_tok"))
    val w = Window.partitionBy("source")
      .orderBy(col("q4").desc, col("hex4").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    grid
      .withColumn("cum_before",
        coalesce(sum(col("g_tok")).over(w), lit(0L)))
      .withColumn("kept",
        (col("cum_before") + col("g_tok") <= lit(budget)).cast("long"))
      .select("source", "q4", "hex4", "kept")
  }

  /** The admission join — a stateless equijoin against a (frozen)
    * decision table, shared verbatim by the batch operator and the
    * streaming gate (the assignPhases posture). */
  private[graft] def applyBudget(scored: DataFrame,
      decisions: DataFrame): DataFrame =
    scored.join(decisions, Seq("source", "q4", "hex4"))
      .select("doc_id", "source", "q4", "n_tok", "kept")

  /** Per-source accounting for [[budgetCut]] (the pack_audit
    * discipline): docs and tokens offered vs kept, the configured
    * budget, and the realized utilization as an ALL-INTEGER half-up
    * milli — low utilization means the boundary group was large
    * (consider a finer draw), kept == offered means the budget is slack
    * and selection is a no-op. */
  def budgetAudit(d: DataFrame, budget: Long = 2000L,
      salt: String = "budget"): DataFrame =
    budgetCut(d, budget, salt)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        sum(col("n_tok")).as("tok_total"),
        sum(when(col("kept") === 1L, col("n_tok")).otherwise(0L))
          .as("tok_kept"))
      .withColumn("budget", lit(budget))
      .withColumn("util_milli",
        expr("(2 * tok_kept * 1000 + budget) div (2 * budget)"))

  /** Deterministic PACK MANIFEST — the reproducibility receipt of the
    * [[packAssign]] layout (data lineage for a training run: two
    * builds of the same corpus must produce byte-identical pack
    * contents, and THIS is the check): per (source, pack), the doc
    * count, token mass, and an md5 over the ':'-joined ASCENDING doc
    * ids — a pure function of the pack's id SET, so any reorder,
    * loss, or intrusion flips the digest. Engine sorts the collected
    * ids (bounded per pack by the token budget — never corpus-sized
    * state); the oracle is DuckDB's ordered string_agg over the
    * embedded pack derivation. */
  def packManifest(d: DataFrame, budget: Long = 256L): DataFrame =
    packAssign(d, budget)
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok_total"),
        expr("md5(concat_ws(':', transform(sort_array(" +
          "collect_list(doc_id)), x -> cast(x AS string))))")
          .as("manifest_md5"))

  /** Per-source packing audit for [[packAssign]] (the mix_audit
    * discipline): docs, packs, token mass, docs LONGER than the context
    * budget (the rows a sequence builder must truncate or document-split
    * — silent in pack_assign's own output), and the realized fill as a
    * floor-half-up milli fraction of n_packs·budget. A fill collapse
    * means doc-length drift against the budget; oversize growth means
    * the corpus outgrew the context window. One agg over the
    * pack-assigned table; all integers plus one floor-half-up
    * expression. */
  def packAudit(d: DataFrame, budget: Long = 256L): DataFrame =
    packAssign(d, budget)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("pack_id")).as("n_packs"),
        sum(col("n_tok")).as("tokens_total"),
        sum(when(col("n_tok") > budget, 1L).otherwise(0L))
          .as("n_oversize_docs"))
      .withColumn("fill_milli",
        floor(col("tokens_total").cast("double") * lit(1000.0) /
          (col("n_packs").cast("double") * lit(budget.toDouble)) +
          lit(0.5)).cast("long"))

  /** Composed curation pipeline — the end-to-end pass a training-data
    * pipeline runs: quality gate → exact dedup (keep lowest doc_id) →
    * per-language survivor stats. Stays one lazy plan: Catalyst fuses the
    * quality scoring into the scan and the dedup is a single digest
    * shuffle. */
  def curate(d: DataFrame, minQuality: Double): DataFrame = {
    val scored = quality(d).select("doc_id", "quality_score")
    val kept = d.join(scored, "doc_id")
      .filter(col("quality_score") >= minQuality)
    val survivors = kept
      .groupBy(md5(lower(trim(col("text")))).as("digest"))
      .agg(min(col("doc_id")).as("doc_id"))
    kept.join(survivors, "doc_id")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        round(avg(col("quality_score")), 4).as("avg_quality"))
  }

  /** The FULL composed curation run — every stage a production
    * training-data pass chains, as one composition (the driver gate
    * exercises the stage interactions: shared scans, the eager-
    * checkpoint placement inside the candidate-join stages, filter
    * pushdown across stage boundaries):
    *
    *   quality gate → exact dedup (keep lowest doc_id per digest) →
    *   exact-substring dedup (winnowed anchors → CC, keep cluster
    *   representatives) → MinHash near-dup (banded LSH → CC, keep
    *   representatives) → substring decontamination (drop train docs
    *   sharing a verbatim run with any test doc) → source balancing →
    *   sequence packing.
    *
    * Output: the packed training set — (doc_id, source, n_tok, pack_id).
    * Each candidate-join stage keeps its own occupancy/DF fence, so the
    * composition inherits every 100 TB bound of its parts. Rows-only
    * (the LSH and winnowing stages aren't ANSI-expressible); every
    * individual stage is oracle-checked by its own registry row. */
  def curateFull(d: DataFrame, minQuality: Double = 0.5,
      balanceCap: Long = 15L, trainSixteenths: Int = 13,
      packBudget: Long = 256L): DataFrame = {
    import graft.dedup.Dedup
    val kept = d.join(quality(d).select("doc_id", "quality_score"), "doc_id")
      .filter(col("quality_score") >= minQuality)
      .select(d.columns.map(col): _*)
    val exactSurv = kept
      .groupBy(md5(lower(trim(col("text")))).as("digest"))
      .agg(min(col("doc_id")).as("doc_id"))
    val afterExact = kept.join(exactSurv.select("doc_id"), "doc_id")
    // CC keepers: a doc whose cluster label is NOT itself is a dropped
    // near-duplicate; docs absent from the pair graph keep themselves
    def keepRepresentatives(corpus: DataFrame, clusters: DataFrame) =
      corpus.join(
        clusters.filter(col("doc_id") =!= col("cluster")).select("doc_id"),
        Seq("doc_id"), "left_anti")
    val afterSub = keepRepresentatives(afterExact,
      Dedup.dedupClusters(Dedup.substringPairs(afterExact)))
    val afterMh = keepRepresentatives(afterSub,
      Dedup.dedupClusters(Dedup.minHashPairs(afterSub)))
    val split = splitAssign(afterMh, trainSixteenths)
    val contaminated = Dedup.contaminationSubstring(afterMh, split)
      .select(col("train_doc").as("doc_id")).distinct()
    val train = afterMh
      .join(split.filter(col("split") === "train").select("doc_id"), "doc_id")
      .join(contaminated, Seq("doc_id"), "left_anti")
    // balance thresholds are computed on the CURATED train corpus, then
    // packing lays out the balanced survivors
    val balanced = sourceBalance(train, balanceCap).select("doc_id")
    packAssign(train.join(balanced, "doc_id"), packBudget)
  }

  /** Unigram language-model scoring — the perplexity-style quality
    * filter of a training pipeline: train token log-probabilities on the
    * corpus itself (one count agg; at 100 TB this is the classic
    * KenLM-lite pass trained once and broadcast), then score each
    * document by its mean token log-prob and perplexity. Trained on the
    * scored corpus, so every token is in-vocabulary (no smoothing term
    * to keep the oracle exact). The vocabulary join is a plain shuffle
    * join on `token`: a 100 TB web corpus has 10⁸–10⁹ distinct tokens —
    * far over any broadcast budget — and AQE still picks broadcast on its
    * own whenever the vocab actually fits. Only the 1-row total is
    * broadcast. */
  def lmScore(d: DataFrame): DataFrame = {
    val toks = withToks(d.withColumn("text", lower(col("text"))))
      .select(col("doc_id"), explode(col("toks")).as("token"))
    val counts = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    toks
      .join(counts, "token")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (log(col("cnt")) - log(col("n_total"))).as("logp"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(col("logp")), 4).as("avg_logp"),
        round(exp(-avg(col("logp"))), 2).as("perplexity"))
  }

  /** Intra-document repetition signal (the dup-n-gram quality rule of
    * Rae et al. '21 "Scaling Language Models" §A1.1 / MassiveText
    * filtering): fraction of a document's word n-grams that are
    * duplicates of an earlier n-gram in the SAME document — boilerplate,
    * keyword stuffing, and degenerate generations score high and get
    * filtered before training. Pure per-row map (one transform +
    * array_distinct per doc), embarrassingly parallel, no shuffle at
    * all — the cheapest kind of 100 TB pass. */
  def repetitionStats(d: DataFrame, n: Int = 3): DataFrame = {
    val parts = (0 until n).map(j => s"toks[i + $j]").mkString(", ")
    withToks(d.withColumn("text", lower(col("text"))))
      .filter(size(col("toks")) >= n)
      .withColumn("grams", expr(
        s"transform(sequence(0, size(toks) - $n), i -> concat_ws(' ', $parts))"))
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        size(array_distinct(col("grams"))).cast("long").as("n_uniq_grams"))
      .withColumn("dup_ratio",
        round((col("n_grams") - col("n_uniq_grams")) / col("n_grams"), 4))
  }

  /** Unsigned-UTF-8-byte lexicographic compare — the exact ordering
    * Spark's UTF8String binary comparison gives `orderBy` on strings, so
    * driver-side tie-breaks reproduce what the in-engine `orderBy(a, b)`
    * tie-break produced (Scala's String.compareTo differs on
    * supplementary-plane characters). */
  private def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    a.length < b.length
  }

  /** REAL byte-pair-encoding merge-table training (Sennrich, Haddow &
    * Birch, ACL 2016 — "Neural Machine Translation of Rare Words with
    * Subword Units"):
    *
    *  - Spark does the one corpus-sized pass: build the (word, freq)
    *    vocabulary (one shuffle), frequency-capped at `maxVocab` — the
    *    standard frequency-floor cut, which BOUNDS the vocab at 65,536
    *    rows by construction no matter the corpus size;
    *  - the bounded vocab is collected ONCE (a control-plane collect of a
    *    provably small table, not a data collect) and the Sennrich merge
    *    loop runs driver-local: count adjacent symbol pairs weighted by
    *    word frequency, pick the top pair with the deterministic
    *    (count desc, pair asc by UTF-8 bytes) tie-break, apply the merge
    *    left-to-right greedily. 30k merges on a 65k-word vocab is
    *    milliseconds per round in-process — versus 2 serialized Spark
    *    jobs per round in the previous in-engine loop, which was days of
    *    pure scheduling latency at a real tokenizer's merge count and no
    *    cluster size could reduce it (the round count serializes, not the
    *    data);
    *  - the segmented vocab goes back as a local relation ≤ maxVocab rows
    *    — broadcast-sized for the corpus-side apply join
    *    ([[tokenCountBpe]]).
    *
    * Returns (vocab with final `syms`/`n_bpe` per word, ordered merge
    * list). Training stops early when no pair occurs at least twice.
    * TextSpec proves this trainer's merge list identical to the previous
    * in-engine DataFrame loop on the planted corpus. */
  def bpeTrain(d: DataFrame, numMerges: Int,
      maxVocab: Int = 65536): (DataFrame, Seq[(String, String)]) = {
    val spark = d.sparkSession
    import spark.implicits._
    val vocabRows = withToks(d.withColumn("text", lower(col("text"))))
      .select(explode(col("toks")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(maxVocab)
      .as[(String, Long)].collect()
    val words = vocabRows.map(_._1)
    val freqs = vocabRows.map(_._2)
    // per-word symbol arrays, char-split start (codepoint-safe: a
    // surrogate pair stays one symbol, matching substring(word, i, 1)
    // semantics only for BMP — the corpus tokenizer splits on spaces so
    // words are BMP text; merged symbols are concatenations of these)
    val syms: Array[Array[String]] =
      words.map(w => w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.length < numMerges) {
      // pair counts weighted by word frequency (every adjacent position,
      // overlaps included — the paper's get_stats)
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      var i = 0
      while (i < syms.length) {
        val s = syms(i); val f = freqs(i)
        var j = 0
        while (j < s.length - 1) {
          val k = (s(j), s(j + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          j += 1
        }
        i += 1
      }
      val best = counts.foldLeft(Option.empty[((String, String), Long)]) {
        case (acc, (k, c)) => acc match {
          case Some((bk, bc)) if c < bc || (c == bc &&
            (utf8Lt(bk._1, k._1) ||
              (bk._1 == k._1 && utf8Lt(bk._2, k._2)))) => acc
          case _ => Some((k, c))
        }
      }
      best match {
        case Some(((a, b), c)) if c >= 2L =>
          merges += ((a, b))
          val ab = a + b
          // greedy left-to-right merge: replace a trailing [a, b] with
          // [ab]. The merged symbol a+b can never equal `a` (b is
          // non-empty), so a fresh merge is never re-merged within the
          // same round — exactly the paper's scan semantics.
          var i2 = 0
          while (i2 < syms.length) {
            val s = syms(i2)
            if (s.length >= 2) {
              val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
              var j = 0
              while (j < s.length) {
                if (out.nonEmpty && out.last == a && s(j) == b) {
                  out(out.length - 1) = ab
                } else out += s(j)
                j += 1
              }
              syms(i2) = out.toArray
            }
            i2 += 1
          }
        case _ => done = true
      }
    }
    val vocabOut = words.indices
      .map(i => (words(i), freqs(i), syms(i).toSeq))
      .toDF("word", "freq", "syms")
      .withColumn("n_bpe", size(col("syms")).cast("long"))
    (vocabOut, merges.toSeq)
  }

  /** Per-source token budget under the TRAINED BPE segmentation — the
    * real token accounting a training pipeline runs (the regex in
    * [[tokenCountBySource]] is the cheap approximation; this is the
    * ground truth for a learned merge table). Apply is a join of corpus
    * words against the vocab's symbol counts — vocab ≤ maxVocab rows, so
    * AQE broadcasts it; the corpus side is one explode + hash agg. */
  def tokenCountBpe(d: DataFrame, numMerges: Int = 40,
      maxVocab: Int = 65536): DataFrame = {
    val (vocab, _) = bpeTrain(d, numMerges, maxVocab)
    val seg = vocab.select(col("word"), col("n_bpe"))
    // LEFT join: a word outside the frequency-capped training vocab
    // still counts — at its character-split length, the upper bound of
    // any BPE segmentation (an inner join would silently drop OOV words
    // from the budget once maxVocab bites at corpus scale)
    withToks(d.withColumn("text", lower(col("text"))))
      .select(col("doc_id"), col("source"), explode(col("toks")).as("word"))
      .join(seg, Seq("word"), "left")
      .withColumn("n_bpe",
        coalesce(col("n_bpe"), length(col("word")).cast("long")))
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("n_bpe")).as("total_bpe_tokens"),
        round(avg(col("n_bpe")), 4).as("avg_bpe_per_word"))
  }

  /** Persist the trained BPE model — the tokenizer's "model file" as
    * tables, completing the persisted-index story for the tokenizer
    * family (postings: `writeTextIndex`; vectors: `writeIvfIndex*`;
    * anchors: `writeAnchorIndex`): a real pipeline trains the merge
    * table ONCE on a reference corpus and then tokenizes every
    * incoming batch against the frozen model instead of retraining per
    * query. Two tables: the segmented vocabulary (word, freq, n_bpe)
    * BUCKETED BY word (the apply join's key — a vocab bigger than the
    * broadcast budget still joins bucket-to-shuffle with no index-side
    * Exchange), and `<table>_merges`, the ORDERED merge list — the
    * actual model artifact, which is what lets a serving tokenizer
    * segment genuinely novel words; the spec asserts it round-trips
    * exactly. */
  def writeBpeModel(d: DataFrame, tableName: String, path: String,
      numMerges: Int = 40, maxVocab: Int = 65536,
      buckets: Int = 8): Unit = {
    val spark = d.sparkSession
    import spark.implicits._
    val (vocab, merges) = bpeTrain(d, numMerges, maxVocab)
    // vocab + merge list: one generation, one pointer flip
    graft.sources.Staged.commit(spark, tableName, path) { g =>
      g.save("_merges", merges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("merge_rank", "left", "right"))
      g.write() { (tbl, p) =>
        vocab.select(col("word"), col("freq"), col("n_bpe"))
          .repartition(col("word"))
          .write
          .option("path", p)
          .bucketBy(buckets, "word")
          .sortBy("word")
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .saveAsTable(tbl)
      }
    }
  }

  /** Per-source BPE token budget against the PERSISTED model
    * ([[writeBpeModel]]) — result-identical to [[tokenCountBpe]] on the
    * training corpus (same vocab, same segmentation, same OOV
    * char-length upper bound; TextSpec proves row parity), so the
    * train-once/apply-per-batch hop is transparent to the result. The
    * probe is one tokenize pass + a join against the bucketed vocab
    * (broadcast when it fits, bucket-side Exchange-free when it
    * doesn't). */
  def tokenCountBpeIndexed(spark: SparkSession, tableName: String,
      d: DataFrame): DataFrame = {
    val seg = graft.sources.Staged.table(spark, tableName).select(col("word"), col("n_bpe"))
    withToks(d.withColumn("text", lower(col("text"))))
      .select(col("doc_id"), col("source"), explode(col("toks")).as("word"))
      .join(seg, Seq("word"), "left")
      .withColumn("n_bpe",
        coalesce(col("n_bpe"), length(col("word")).cast("long")))
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("n_bpe")).as("total_bpe_tokens"),
        round(avg(col("n_bpe")), 4).as("avg_bpe_per_word"))
  }

  /** Bigram language-model scoring — the actual n-gram shape of a
    * KenLM-style perplexity filter ([[lmScore]] is the unigram
    * baseline): P(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1} ·),
    * trained on the scored corpus itself so every transition is
    * in-vocabulary and the oracle is exact (no smoothing/backoff term).
    * Only transitions are scored (documents shorter than 2 tokens drop
    * out). Counts join by plain shuffle joins on the bigram/context
    * keys — the bigram table of a web corpus is far beyond broadcast
    * budget; AQE upgrades when it isn't. */
  /** Exploded (doc_id, w1, w2) transition rows — the ONE bigram-LM
    * derivation shared by the in-session trainer+scorer
    * ([[lmScoreBigram]]), the index writer ([[writeLmIndex]]) and the
    * persisted probe ([[lmScoreIndexed]]). */
  private def lmBigrams(d: DataFrame): DataFrame =
    withToks(d.withColumn("text", lower(col("text"))))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), " +
          "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  def lmScoreBigram(d: DataFrame): DataFrame = {
    // the exploded transition table feeds TWO consumers (the count agg
    // and the probe side of the scoring join) and the count table feeds
    // two more (the scoring join and the context rollup) — materialize
    // each once or the tokenize+explode pass re-runs per consumer (the
    // multi-consumer lesson; at cluster scale the same reuse is
    // persist(MEMORY_AND_DISK): the table is 3 slim columns, sharded)
    val bigrams = lmBigrams(d).localCheckpoint(true)
    val c2 = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
      .localCheckpoint(true)
    // context totals roll up from the (already tiny) bigram table, not
    // the corpus — one extra vocab-sized agg instead of a corpus pass
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    bigrams
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .select(col("doc_id"), (log(col("c2")) - log(col("c1"))).as("logp"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_transitions"),
        round(avg(col("logp")), 4).as("avg_logp"),
        round(exp(-avg(col("logp"))), 2).as("perplexity"))
  }

  /** Persist the bigram LANGUAGE MODEL — the EIGHTH persisted-index
    * family: one (w1, w2, c2, c1) row per observed transition with its
    * context total pre-joined, written bucketed by `w1` (the probe
    * join's leading key — HashPartitioning(w1) satisfies the
    * (w1, w2) clustered distribution, so the probe equijoin reads the
    * model with ZERO index-side Exchange; TextSpec asserts the
    * bucketed scan). Train-once/score-per-crawl: the model is
    * vocabulary²-bounded (in practice transition-sparse), the Staged
    * rebuild serves the live generation while the next builds. */
  def writeLmIndex(d: DataFrame, tableName: String, path: String,
      buckets: Int = 8): Unit = {
    val c2 = lmBigrams(d).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
      .localCheckpoint(true) // 2 consumers: context rollup + model rows
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    graft.sources.Staged.commit(d.sparkSession, tableName, path)(_.write() {
      (tbl, p) =>
        c2.join(c1, Seq("w1"))
          .repartition(col("w1"))
          .write
          .option("path", p)
          .bucketBy(buckets, "w1")
          .sortBy("w1", "w2")
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .saveAsTable(tbl)
    })
  }

  /** Score documents against the PERSISTED bigram LM
    * ([[writeLmIndex]]) — result-identical to [[lmScoreBigram]] when
    * the model was written from the same corpus (same counts, same
    * log(c2)−log(c1) doubles — TextSpec proves row parity), so the
    * freeze-once/score-per-batch hop is transparent and the operator
    * keeps the lm_score_bigram ORACLE verbatim (the
    * vocabCoverageIndexed posture). Probe docs tokenize once; only
    * model-KNOWN transitions score (inner membership — an unseen
    * transition in a live batch is the rebuild signal, the
    * stream-gate convention). */
  def lmScoreIndexed(spark: SparkSession, tableName: String,
      d: DataFrame): DataFrame =
    lmBigrams(d)
      .join(graft.sources.Staged.table(spark, tableName), Seq("w1", "w2"))
      .select(col("doc_id"), (log(col("c2")) - log(col("c1"))).as("logp"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_transitions"),
        round(avg(col("logp")), 4).as("avg_logp"),
        round(exp(-avg(col("logp"))), 2).as("perplexity"))

  /** Polynomial rolling-hash fingerprint per document (custom codegen'd
    * Catalyst expression graft.functions.PolyHash64). */
  def fingerprint(d: DataFrame): DataFrame =
    d.select(
      col("doc_id"),
      PolyHash64(lower(trim(col("text")))).as("fingerprint"),
      PolyHash64(expr("array_join(sort_array(" + toksExpr + "), ' ')"))
        .as("bag_fingerprint"))

  /** BM25 ranked keyword retrieval (the Okapi BM25 formula) over
    * whitespace tokens — the keyword-search pass a curation pipeline
    * runs to surface domain-relevant documents from a crawl. One linear
    * tokenize pass; only postings of the QUERY terms survive the explode
    * filter, so the shuffled volume is ∝ matching postings, never corpus
    * tokens; the df table (≤ |terms| rows) and the corpus scalars
    * (1 row) are broadcast.
    *
    * FP contract (the oracle repeats the IDENTICAL IEEE expression):
    * per-term contributions are rounded to integer MICRO-units before
    * the per-doc sum, so the sum is exact integer arithmetic and
    * summation order can never flip the rounded score. */
  def bm25Search(d: DataFrame, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "empty query")
    // literal queries keep the inline isin predicate: an identical
    // membership test to the term-table join, WITHOUT a broadcast
    // stage per query (MEASURED r21 anchors: the join form read
    // text_search_bm25 warm 0.59 → 1.32 s — a 2.25× on a query whose
    // era factor was 1.35×; reverted to the predicate, the scoring
    // chain stays ONE definition via bm25SearchCore)
    bm25SearchCore(d, _.filter(col("term").isin(terms: _*)), k1, b)
  }

  /** [[bm25Search]] with the query terms as a TABLE — the shape query
    * EXPANSION needs ([[Prf.searchPrf]] feeds seed ∪ mined terms): the
    * membership test becomes a broadcast equijoin on the distinct term
    * set; everything else is [[bm25SearchCore]] verbatim. */
  def bm25SearchTerms(d: DataFrame, termsDf: DataFrame,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25SearchCore(d,
      _.join(broadcast(termsDf.select(col("term")).distinct()), "term"),
      k1, b)

  /** The ONE ad-hoc bm25 chain — `prune` restricts the exploded term
    * stream to the query (an inline predicate for literal queries, a
    * broadcast term-table equijoin for expanded ones); identical
    * membership semantics, so both faces share tf/df derivation and
    * [[bm25ScoreTail]]. */
  private def bm25SearchCore(d: DataFrame,
      prune: DataFrame => DataFrame, k1: Double, b: Double): DataFrame = {
    val withDl = lowerToks(d)
      .select(col("doc_id"), col("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    // corpus scalars: one partial-combined agg → 1 broadcast row
    val scalars = withDl.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = prune(withDl
        .select(col("doc_id"), col("dl"), explode(col("toks")).as("term")))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25ScoreTail(tf.join(broadcast(df), "term")
      .crossJoin(broadcast(scalars)), k1, b)
  }

  /** The ONE bm25 scoring tail — input rows carry (doc_id, dl, term,
    * tf, df, n_docs, sum_dl); shared verbatim by [[bm25SearchTerms]]
    * (collection stats computed in-query), [[searchIndex]] (stats and
    * postings from the persisted index), and [[standingQueryScore]]
    * (arriving docs against frozen stats), so the score definition
    * cannot drift between the ad-hoc, persisted, and streaming faces.
    * FP contract: idf uses the +1 variant (never negative); avgdl
    * stays as the sub-expression sum_dl/n_docs — both engines divide
    * the same exact BIGINTs, so the double agrees bit-for-bit. ln() is
    * the ONE transcendental and engine libms may differ by an ulp
    * (measured at sf0.1: a flipped micro-unit), so the idf is snapped
    * to the 1e-6 grid on both sides BEFORE composing; per-term
    * contributions are rounded to integer micro-units BEFORE the
    * per-doc sum (summation order can never flip the score); the
    * 4-decimal display is INTEGER half-up + one exact division (micro
    * sums end in ...50 by construction, where Spark's decimal-string
    * round diverges from DuckDB's binary round). */
  private[text] def bm25ScoreTail(joined: DataFrame, k1: Double,
      b: Double): DataFrame =
    joined
      .withColumn("idf",
        round(log((col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5)) + lit(1.0)) * lit(1000000.0), 0) /
          lit(1000000.0))
      .withColumn("contrib",
        col("idf") *
          ((col("tf") * (lit(k1) + lit(1.0))) /
            (col("tf") + lit(k1) * ((lit(1.0) - lit(b)) +
              lit(b) * (col("dl") / (col("sum_dl") / col("n_docs")))))))
      .withColumn("micro",
        round(col("contrib") * lit(1000000.0), 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_matched"),
        sum(col("micro")).as("micro_sum"))
      .select(col("doc_id"), col("n_terms_matched"),
        (expr("(micro_sum + 50) div 100").cast("double") /
          lit(10000.0)).as("score"))

  /** Persist the corpus postings index for [[searchIndex]] as an external
    * table BUCKETED BY term — the search-serving dual of
    * [[graft.dedup.Dedup.writeAnchorIndex]] / `Knn.writeIvfIndex`: a real
    * pipeline tokenizes the corpus ONCE at index-build time, then every
    * query probes the persisted postings instead of re-tokenizing 100 TB.
    * Rows: (term, doc_id, tf, dl) — document length rides along with each
    * posting so scoring needs no second corpus table — plus a one-row
    * `<table>_stats` side table (n_docs, sum_dl) for the BM25 length
    * normalizer. Bucketing by term means a query's postings land in a
    * known bucket subset and the per-term df rollup needs no Exchange. */
  /** One tokenize pass → (doc_id, toks, dl) — the ONE posting-family
    * doc derivation, shared by [[writeTextIndex]] (full build) and
    * [[appendTextIndexDelta]] (delta build) so base and delta rows can
    * never drift in derivation. Callers checkpoint (feeds the stats
    * row AND the postings write). */
  private def docLengths(d: DataFrame): DataFrame =
    lowerToks(d)
      .select(col("doc_id"), col("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))

  /** (term, doc_id, dl, tf) posting rows from a [[docLengths]] frame. */
  private def postingRowsOf(withDl: DataFrame): DataFrame =
    withDl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))

  /** The one-row collection-stats frame from a [[docLengths]] frame.
    * n_docs_tok (docs with ≥1 token) rides along for the PRF face:
    * the expansion-mass idf divides by the TOKENIZED doc count (the
    * tfidfMicroTable definition — distinct doc_id over tf rows),
    * which differs from n_docs exactly on empty/null-text docs; the
    * frozen stat is what makes searchPrfIndexed row-identical to
    * the ad-hoc face on such corpora (PrfSpec pins it). All three
    * counters are ADDITIVE integers over disjoint doc sets — the
    * property the delta family's closed-form stats merge rides. */
  private def indexStatsOf(withDl: DataFrame): DataFrame =
    withDl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"),
      count(when(col("dl") > 0, lit(1))).as("n_docs_tok"))

  private def writePostings(postings: DataFrame, tbl: String, p: String,
      buckets: Int): Unit =
    postings
      .repartition(col("term"))
      .write
      .option("path", p)
      .bucketBy(buckets, "term")
      .sortBy("term")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(tbl)

  def writeTextIndex(d: DataFrame, tableName: String, path: String,
      buckets: Int = 8): Unit = {
    // feeds the stats row AND the postings write — one tokenize pass
    val withDl = docLengths(d).localCheckpoint(true)
    // postings + stats: one generation, one pointer flip
    graft.sources.Staged.commit(d.sparkSession, tableName, path) { g =>
      g.save("_stats", indexStatsOf(withDl))
      g.write()(writePostings(postingRowsOf(withDl), _, _, buckets))
    }
  }

  /** BM25 against the PERSISTED postings index ([[writeTextIndex]]) —
    * result-identical to [[bm25Search]] (same formula, same integer
    * micro-unit sum, and df/tf/dl round-trip the index exactly), so it
    * shares its oracle: the persisted hop is transparent to the result.
    * The probe reads only the query terms' postings (predicate pushed to
    * the bucketed parquet scan); df rolls up from those postings with no
    * index-side Exchange. Postings and stats come from ONE pointer read. */
  def searchIndex(spark: SparkSession, tableName: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "empty query")
    val snap = graft.sources.Staged.resolve(spark, tableName)
    // the ONE scoring core — identical chain to the ad-hoc search
    searchPostingsCore(snap.table(tableName),
      snap.table(s"${tableName}_stats"),
      _.filter(col("term").isin(terms: _*)), k1, b)
  }

  /** [[searchIndex]] with the query terms as a TABLE — the persisted
    * face of [[bm25SearchTerms]], the shape query EXPANSION needs
    * ([[graft.text.Prf.searchPrfIndexed]] feeds seed ∪ mined terms):
    * the membership test is a broadcast equijoin on the distinct term
    * set against the bucketed postings, df rolls up from the pruned
    * postings (a term's pruned postings ARE all its postings, so df is
    * the full corpus df — the [[searchIndex]] argument), and the ONE
    * [[bm25ScoreTail]] scores. Zero corpus tokenize passes: the corpus
    * was tokenized once, at index build. */
  def searchIndexTerms(spark: SparkSession, tableName: String,
      termsDf: DataFrame, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val snap = graft.sources.Staged.resolve(spark, tableName)
    searchPostingsCore(snap.table(tableName),
      snap.table(s"${tableName}_stats"),
      _.join(broadcast(termsDf.select(col("term")).distinct()), "term"),
      k1, b)
  }

  // ───── delta-merge maintenance for the postings index (r17 verdict #1:
  // at 100 TB a daily crawl delta must never pay a full-corpus rebuild) ─────

  /** The one-row sum of collection-stats rows: every counter is an
    * ADDITIVE integer over disjoint doc sets (an empty batch adds 0). */
  private def sumStats(stats: DataFrame): DataFrame =
    stats.agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
      coalesce(sum(col("sum_dl")), lit(0L)).as("sum_dl"),
      coalesce(sum(col("n_docs_tok")), lit(0L)).as("n_docs_tok"))

  private val PostingCols = Seq("term", "doc_id", "dl", "tf").map(col)
  private val StatsCols = Seq("n_docs", "sum_dl", "n_docs_tok").map(col)

  /** Append a crawl delta to a persisted postings index: tokenize ONLY
    * the delta docs into ONE new segment — bucketed postings plus a
    * one-row stats member — leaving the base and every earlier segment
    * untouched ([[graft.sources.Staged.append]]).
    * [[searchIndexDelta]] probes base ∪ segments with closed-form merged
    * statistics — tf, dl, df, n_docs, sum_dl, n_docs_tok are all
    * ADDITIVE integers over disjoint doc sets, and BM25 derives idf at
    * PROBE time from the merged df — so the probe result is EXACTLY the
    * full-rebuild result (text_search_bm25's oracle shared verbatim;
    * DeltaIndexSpec pins probe-over-(base ∪ segments) ≡
    * probe-over-full-rebuild row-for-row). A token-less batch lands its
    * stats with no postings; an empty batch lands nothing.
    *
    * Disjointness fence (the momentGuard posture — the "only NEW docs"
    * contract is enforced in-plan, not documented): the batch's doc_ids
    * must not exist in the base index or a live segment — one doc_id
    * column scan of the bucketed postings with the new ids broadcast,
    * at crawl-delta cadence, never query cadence. Bound: the fence sees
    * TOKENIZED docs; a re-crawled zero-token doc has no posting row and
    * can only perturb n_docs by its duplicate count. */
  def appendTextIndexDelta(dNew: DataFrame, tableName: String,
      path: String, buckets: Int = 8): Unit =
    graft.sources.Staged.append(dNew.sparkSession, tableName, path,
        "appendTextIndexDelta", "doc_id") { _ =>
      // one tokenize pass over the DELTA only — the whole point
      docLengths(dNew).localCheckpoint(true)
    } { (g, segment, withDl) =>
      g.save(s"${segment}_stats", indexStatsOf(withDl))
      g.write(segment)(writePostings(postingRowsOf(withDl), _, _, buckets))
    }

  /** The one-row stats member of every segment of a snapshot. */
  private def segmentStats(
      snap: graft.sources.Staged.Snapshot): Seq[DataFrame] =
    snap.segments.map(s => snap.table(s"${s}_stats").select(StatsCols: _*))

  /** Base ∪ every segment's postings + closed-form merged stats
    * (n_docs, sum_dl, n_docs_tok — all additive integers over disjoint
    * doc sets), all members from ONE pointer read — the ONE delta
    * resolution shared by every delta probe face ([[searchIndexDelta]],
    * [[searchIndexDeltaTerms]], the PRF delta chain) and the merge, so
    * no face can drift in how it merges generations. With no segment
    * this is the plain (postings, stats) pair. */
  private[graft] def indexWithDelta(spark: SparkSession,
      tableName: String): (DataFrame, DataFrame) =
    withSegments(graft.sources.Staged.resolve(spark, tableName), tableName)

  private def withSegments(snap: graft.sources.Staged.Snapshot,
      tableName: String): (DataFrame, DataFrame) = {
    val baseStats = snap.table(s"${tableName}_stats").select(StatsCols: _*)
    (snap.segments.foldLeft(snap.table(tableName).select(PostingCols: _*))(
        (p, s) => p.unionByName(snap.table(s).select(PostingCols: _*))),
      if (snap.segments.isEmpty) baseStats
      else sumStats((baseStats +: segmentStats(snap)).reduce(_.unionByName(_))))
  }

  /** The ONE persisted-probe scoring core over explicit (postings,
    * stats) frames: prune → df rollup from the pruned postings → the
    * shared [[bm25ScoreTail]]. [[searchIndex]]/[[searchIndexTerms]]
    * feed it the live base; the delta faces feed it
    * [[indexWithDelta]]. */
  private def searchPostingsCore(postings: DataFrame, scalars: DataFrame,
      prune: DataFrame => DataFrame, k1: Double, b: Double): DataFrame = {
    val pruned = prune(postings)
    val df = pruned.groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25ScoreTail(pruned.join(broadcast(df), "term")
      .crossJoin(broadcast(scalars)), k1, b)
  }

  /** BM25 probe over base ∪ delta — result-identical to [[bm25Search]]
    * over the union corpus and to [[searchIndex]] over a full rebuild
    * (closed-form merged stats, df derived at probe time from the
    * unioned pruned postings), so it shares text_search_bm25's oracle:
    * the delta hop is transparent to the result. With no delta this IS
    * [[searchIndex]]. Both posting sides are bucketed scans with the
    * term predicate pushed down; the stats merge is a two-row sum. */
  def searchIndexDelta(spark: SparkSession, tableName: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "empty query")
    val (postings, scalars) = indexWithDelta(spark, tableName)
    searchPostingsCore(postings, scalars,
      _.filter(col("term").isin(terms: _*)), k1, b)
  }

  /** [[searchIndexTerms]] over base ∪ delta — the term-TABLE face the
    * expanded-query (PRF) chain needs, with the same transparent-hop
    * result contract as [[searchIndexDelta]]. */
  def searchIndexDeltaTerms(spark: SparkSession, tableName: String,
      termsDf: DataFrame, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (postings, scalars) = indexWithDelta(spark, tableName)
    searchPostingsCore(postings, scalars,
      _.join(broadcast(termsDf.select(col("term")).distinct()), "term"),
      k1, b)
  }

  /** Generation accounting for a postings index + its live delta — the
    * ops row a store operator watches to schedule [[mergeTextIndex]]
    * (the drop-accounting posture applied to index maintenance): base
    * and delta doc/length masses and the delta's integer half-up milli
    * share of the serving corpus. No delta reports zeros — the
    * post-merge/post-rebuild steady state. Reads only the one-row stats
    * members, from one pointer read. */
  def textIndexDeltaAudit(spark: SparkSession,
      tableName: String): DataFrame = {
    val snap = graft.sources.Staged.resolve(spark, tableName)
    val base = snap.table(s"${tableName}_stats")
      .select(col("n_docs").as("n_docs_base"),
        col("sum_dl").as("sum_dl_base"))
    val withDelta = segmentStats(snap).reduceOption(_.unionByName(_))
        .map(sumStats) match {
      case Some(dstats) =>
        base.crossJoin(dstats.select(col("n_docs").as("n_docs_delta"),
          col("sum_dl").as("sum_dl_delta")))
      case None =>
        base.withColumn("n_docs_delta", lit(0L))
          .withColumn("sum_dl_delta", lit(0L))
    }
    withDelta.select(col("n_docs_base"), col("sum_dl_base"),
      col("n_docs_delta"), col("sum_dl_delta"),
      expr("""CASE WHEN n_docs_base + n_docs_delta > 0 THEN
                (2 * n_docs_delta * 1000 + (n_docs_base + n_docs_delta))
                  div (2 * (n_docs_base + n_docs_delta))
              ELSE 0 END""").as("delta_share_milli"))
  }

  /** Compact the segments into the base index — pure index-ROW unions
    * (the corpus is tokenized ZERO times; tokenize cost is only ever
    * paid once per doc, at its append). The merged postings and the
    * merged stats are one generation behind ONE pointer flip
    * ([[graft.sources.Staged.merge]]): a crash mid-merge serves
    * base ∪ segments unchanged and a rerun merges; with no segment the
    * merge is a no-op (idempotent). */
  def mergeTextIndex(spark: SparkSession, tableName: String,
      path: String, buckets: Int = 8): Unit =
    graft.sources.Staged.merge(spark, tableName, path) { (g, snap) =>
      val (postings, stats) = withSegments(snap, tableName)
      g.save("_stats", stats)
      g.write()(writePostings(postings, _, _, buckets))
    }

  /** STANDING-QUERY routing score — the scoring face a live router
    * needs: rank ARRIVING documents (not yet in any index) against a
    * standing query, with the collection statistics FROZEN from the
    * persisted postings index ([[writeTextIndex]]): df from the
    * query-term postings (a bucketed, term-pruned index scan), n_docs/
    * sum_dl from the stats side table, the doc's own tf/dl from its
    * own row. Scores are therefore stable while the index generation
    * stands (an arriving doc's score doesn't drift as OTHER docs
    * arrive — the property a routing threshold needs), and for corpus
    * member docs they equal [[bm25Search]] exactly (same stats, same
    * tail — text_search_bm25's oracle checks the registered row).
    * Stateless per doc → the streaming dual
    * ([[graft.streaming.Streaming.runStandingQueryProbe]]) runs this
    * verbatim per micro-batch, exactly. */
  def standingQueryScore(spark: SparkSession, indexTable: String,
      d: DataFrame, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "empty query")
    val snap = graft.sources.Staged.resolve(spark, indexTable)
    val dfT = snap.table(indexTable)
      .filter(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scalars = snap.table(s"${indexTable}_stats")
    val tf = withToks(d.withColumn("text", lower(col("text"))))
      .select(col("doc_id"), col("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    bm25ScoreTail(tf.join(broadcast(dfT), "term")
      .crossJoin(broadcast(scalars)), k1, b)
  }

  /** Per-document keyword extraction: top-k tokens by tf-idf (idf =
    * ln(n_docs/df) over the corpus itself) — the per-doc topic signal a
    * pipeline stores next to quality/novelty. One tokenize pass →
    * (doc, term) tf agg → df rollup from the tf table (vocab-sized, not
    * a corpus pass) → per-doc top-k ranked on an INTEGER score with a
    * term-asc tie-break. The idf is the one transcendental: snap
    * ln(n_docs/df) to the 1e-6 grid (engine libms differ by ulps — the
    * bm25Search lesson), then micro = tf · idf_micro is EXACT integer
    * arithmetic, the rank orders on it, and the 4-decimal display score
    * is one integer half-up + one exact division — no float round()
    * anywhere, so a 4-decimal half-boundary can't flip row membership
    * between engines. Shuffles: the tf agg and the per-doc window hash
    * partition — never a global sort. */
  /** The doc_keywords tf-idf chain as a shared table: (doc_id, term,
    * tf, df, micro) with micro = tf · idf_micro (idf = ln(n_docs/df)
    * snapped to the 1e-6 grid) — exact integers end to end. One
    * definition for [[docKeywords]] and [[Prf]]'s expansion-term mass
    * (the reportBlock discipline: a chain drift can only break one
    * place). */
  private[text] def tfidfMicroTable(d: DataFrame): DataFrame = {
    val tf = withToks(d.withColumn("text", lower(col("text"))))
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      // feeds the df rollup AND the scoring join — one tokenize pass
      .localCheckpoint(true)
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scalars = tf.select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("n_docs"))
    tf.join(dft, "term") // vocab-sized right side: AQE picks the strategy
      .crossJoin(broadcast(scalars))
      .withColumn("idf_micro",
        round(log(col("n_docs") / col("df")) * lit(1000000.0), 0)
          .cast("long"))
      .withColumn("micro", col("tf") * col("idf_micro"))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("micro"))
  }

  def docKeywords(d: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, s"bad k=$k")
    tfidfMicroTable(d)
      .withColumn("tfidf",
        expr("(micro + 50) div 100").cast("double") / lit(10000.0))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("micro").desc, col("term"))).cast("long"))
      .filter(col("rnk") <= k)
      .select("doc_id", "term", "tfidf", "rnk")
  }

  /** Doc-to-doc tf-idf cosine similarity pairs — the "more like this"
    * query of a curation pipeline (surface near-topical duplicates that
    * share no verbatim runs, cluster a crawl by lexical topic, route
    * review queues). The scalable construction is the classic
    * construction: per-doc KEY-SORTED sparse vectors (64-bit term
    * hashes + integer weights, parallel primitive arrays) over the
    * df-banded per-language vocabulary, scored by the
    * [[graft.functions.SparseDotCounts]] two-pointer kernel over a
    * lang-blocked pair join. Everything is conditioned PER LANGUAGE:
    * unigram lexical cosine across languages is noise, so the vector
    * space, the collection statistics (n_docs, df, idf), and the pair
    * join are all scoped to the document's language (the dedup_jaccard
    * scoping — MEASURED r12: unscoped on the dense synthetic
    * vocabulary was 5·10⁸ join partials / 130+ s at sf0.1). The space
    * is DF-BANDED [minDf, maxDfTenths/10 of the language's corpus]:
    * df < minDf terms cannot co-occur (pure norm noise) and stop terms
    * above the corpus-share cap are excluded from the SPACE ITSELF —
    * band and scoping are part of the score definition, reproduced
    * identically by the oracle (unlike the candidate-prune caps,
    * nothing is dropped from an otherwise-defined result). The
    * lang-blocked all-pairs join is the oracle-able exact baseline
    * (the dedup_jaccard posture — per-language blocks bound the
    * quadratic); at 100 TB the SAME kernel scores candidate pairs fed
    * by the banded inverted index or the minhash/LSH paths instead of
    * the lang block, exactly as dedup_clusters_lsh swaps the pair
    * source under dedup_clusters.
    *
    * FP contract (bm25/doc_keywords discipline, extended to a
    * bilinear form): idf is snapped to the 1e-3 grid (the one
    * transcendental; MILLI not micro so the dot of two weights stays
    * well inside exact-double range — w ≤ tf·9e3, w_a·w_b ≤ ~1e13 per
    * term, summed ≪ 2^53), weights w = tf·idf_milli are exact
    * integers, dot and both squared norms are exact integer sums, row
    * membership is guarded by the INTEGER predicate n2 > 0 (an
    * all-stop-term doc would otherwise produce 0/0 = NaN, which Spark
    * sorts/filters differently from DuckDB), and the displayed score
    * is ONE double expression over those integers
    * (floor(dot·10⁴/(√n2₁·√n2₂) + 0.5)/10⁴ — floor half-up, no float
    * round()), thresholded on the rounded value. Shuffles: tf agg, the
    * term equijoin, the pair agg — all hash-partitioned; the slim
    * (doc, term, w) table is checkpointed once and feeds the norms agg
    * plus both join sides. */
  /** The per-language df-banded integer tf-idf weight table
    * (doc_id, lang, term, w) shared by [[docSimilar]] /
    * [[docSimilarPrefix]]. Lazy — callers checkpoint per their own
    * consumer count. */
  private def docWeights(d: DataFrame, minDf: Long,
      maxDfTenths: Int): DataFrame = {
    // Par.spreadBy (guide §2.5): the tokenize/explode map stage and the
    // downstream consumers of the checkpointed tf table are CPU-dense
    // while the corpus bytes are scan-split/AQE-tiny at bench scale —
    // hash-spread the scan on doc_id (hash, never round-robin: RR pays
    // a per-task sort of the raw text) so tokenize runs slots-wide, and
    // pin the tf agg's own exchange on its keys so the checkpoint stays
    // multi-partition (an explicit width AQE keeps — byte-based
    // coalescing would serialize every consumer). No-op at scale;
    // integer counts are order-free.
    val sl = graft.operators.Par.slots(d)
    val tf = lowerToks(graft.operators.Par.spreadBy(d, sl, col("doc_id")))
      .select(col("doc_id"), col("lang"), explode(col("toks")).as("term"))
      .transform(graft.operators.Par.spreadBy(_, sl,
        col("doc_id"), col("lang"), col("term")))
      .groupBy(col("doc_id"), col("lang"), col("term"))
      .agg(count(lit(1)).as("tf"))
      // feeds the df rollup, the per-lang counts, and the weight join —
      // one tokenize pass (the docKeywords placement)
      .localCheckpoint(true)
    val scalars = tf.select(col("doc_id"), col("lang")).distinct()
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    // the stop band is CORPUS-RELATIVE (df·10 ≤ n_docs·maxDfTenths — an
    // integer predicate, engine-exact): an absolute cap is meaningless
    // across corpus sizes, and membership of a term in the vector space
    // must never hinge on a float share computation
    val dft = tf.groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("df"))
      .join(broadcast(scalars), "lang")
      .filter(col("df") >= minDf &&
        col("df") * lit(10L) <= col("n_docs") * lit(maxDfTenths.toLong))
    // the kernel keys vectors on xxhash64(lang, term) ([[docVectors]]):
    // verify injectivity over the in-band vocabulary OUTRIGHT instead of
    // documenting a ~1e-15 probability — a 64-bit collision between two
    // in-band terms of one language would merge their vector entries on
    // the Spark side only (the DuckDB oracle joins exact terms) and
    // land as a MYSTERY hash-gate mismatch; the require turns that into
    // a loud, named error (the zero-dot equivalence precedent: gate-
    // facing assumptions are require()s, not comments). Cost: one
    // vocab-sized aggregate over the checkpointed tf lineage, paid ONCE
    // per (corpus files, band) per JVM — the LshBuckets.corpusSize memo
    // posture, since four registry queries build over the same corpus in
    // one run; in-memory corpora (no input files) are never memoized.
    val files = d.inputFiles
    val token =
      if (files.isEmpty) null
      else s"${graft.sources.Fingerprint.of(files.sorted)}:$minDf:$maxDfTenths"
    if (token == null || !verifiedVocabs.contains(token)) {
      requireInjectiveTermHash(dft.select(col("lang"), col("term")))
      if (token != null) verifiedVocabs.add(token)
    }
    tf.join(dft, Seq("lang", "term")) // vocab-sized right side
      .withColumn("idf_milli",
        round(log(col("n_docs") / col("df")) * lit(1000.0), 0).cast("long"))
      .withColumn("w", col("tf") * col("idf_milli"))
      // idf_milli rides along for consumers that persist the vocabulary
      // ([[writeDocVectorIndex]]); the similarity paths ignore it
      .select(col("doc_id"), col("lang"), col("term"), col("w"),
        col("idf_milli"))
  }

  /** Corpora whose in-band vocabulary already passed the injectivity
    * check this JVM, keyed by (input files, band) — see the call site in
    * [[docWeights]]. */
  private val verifiedVocabs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Fails fast unless `hash` is injective over the (lang, term) vocab:
    * compares distinct (lang, term) keys against distinct (lang, hash)
    * keys in one aggregate. The production caller ([[docWeights]]) wires
    * the kernel's actual key hash; the spec wires a deliberately
    * colliding hash to prove the guard FIRES (a real xxhash64 collision
    * is not constructible in a test). */
  private[graft] def requireInjectiveTermHash(vocab: DataFrame,
      hash: Column = xxhash64(col("lang"), col("term"))): Unit = {
    val r = vocab.agg(
      countDistinct(col("lang"), col("term")).as("nk"),
      countDistinct(col("lang"), hash).as("nh")).collect().head
    require(r.getLong(0) == r.getLong(1),
      s"term-hash collision inside an in-band vocabulary: " +
        s"${r.getLong(0)} (lang, term) keys hash to ${r.getLong(1)} " +
        s"(lang, hash) keys — the sparse-dot kernel would silently " +
        s"merge the colliding terms (Spark-side only; the oracle joins " +
        s"exact terms)")
  }

  /** ONE row per doc from [[docWeights]] output: the key-sorted sparse
    * vector in PARALLEL-ARRAY layout (primitive long key/weight arrays,
    * never struct arrays — getStruct allocates an InternalRow wrapper
    * per element, measured 11 s over the pair join) + its squared norm;
    * n2 = 0 docs fenced (0/0 = NaN orders differently across engines);
    * checkpointed (feeds both sides of the pair join). Keys are
    * xxhash64(lang, term) — salted with the language so the collision
    * domain is one language's IN-BAND vocabulary (the join already
    * blocks on lang), and [[requireInjectiveTermHash]] has verified
    * injectivity over exactly that domain before any key is built. */
  private def docVectors(w: DataFrame, slots: Int = 0): DataFrame =
    // spreadBy pins the vector agg's exchange at `slots` on its own
    // keys: the pair join streams this checkpoint through the
    // sparse-dot kernel, and a byte-coalesced 1-partition checkpoint
    // serializes that scoring onto one core (no-op at scale/slots = 0)
    graft.operators.Par
      .spreadBy(w, slots, col("doc_id"), col("lang"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sort_array(collect_list(struct(
          xxhash64(col("lang"), col("term")).as("k"),
          col("w").as("w")))).as("kw"),
        sum(col("w") * col("w")).as("n2"))
      .filter(col("n2") > lit(0L))
      .select(col("doc_id"), col("lang"), col("n2"),
        expr("transform(kw, s -> s.k)").as("ks"),
        expr("transform(kw, s -> s.w)").as("ws"))
      .localCheckpoint(true)

  private[graft] def quantizedCosine(dotCol: Column, n2a: Column,
      n2b: Column): Column =
    floor(dotCol.cast("double") * lit(10000.0) /
        (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double"))) + lit(0.5))
      .cast("double") / lit(10000.0)

  def docSimilar(d: DataFrame, tau: Double = 0.9, minDf: Long = 2L,
      maxDfTenths: Int = 9): DataFrame = {
    // tau must be POSITIVE: a pair sharing no in-band term scores 0.0
    // and is absent from the inverted-index oracle formulation — tau > 0
    // is what makes the two derivations emit the same row set
    require(tau > 0.0 && minDf >= 2L && maxDfTenths >= 1 && maxDfTenths <= 10,
      s"bad params tau=$tau minDf=$minDf maxDfTenths=$maxDfTenths")
    // pairs are scored by the SparseDotCounts two-pointer kernel over a
    // lang-blocked doc join — NOT by re-aggregating the exploded
    // (pair, term) partials: Σ_term df² partial rows through a
    // pair-cardinality hash aggregate is where Spark's agg falls over
    // (measured r12 at sf0.1: 5.7e7 partials → 3.2M groups = 24–32 s;
    // the kernel over the same pairs: seconds). A pair sharing no term
    // scores dot 0 < tau, so the result is IDENTICAL to the
    // inverted-index formulation — which is exactly what the DuckDB
    // oracle runs, making the hash match a two-formulation
    // cross-derivation (the es_replay_from_snapshot pattern).
    val vecs = docVectors(docWeights(d, minDf, maxDfTenths),
      graft.operators.Par.slots(d))
    vecs.as("a").join(vecs.as("b"),
        col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
      .withColumn("dc", graft.functions.SparseDotCounts(
        col("a.ks"), col("a.ws"), col("b.ks"), col("b.ws")))
      .withColumn("score",
        quantizedCosine(col("dc").getItem(0), col("a.n2"), col("b.n2")))
      .filter(col("score") >= tau)
      .select(col("a.lang").as("lang"),
        col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        col("dc").getItem(1).as("n_common"), col("score"))
  }

  /** The per-doc SERVING cut of [[docSimilar]] — "show me the k most
    * similar documents" as a pipeline stores it next to each doc:
    * symmetrize the above-τ pair list (each undirected pair serves both
    * endpoints) and rank per doc on (score desc, similar_id asc). The
    * rank key is engine-total: scores live on the 1e-4 grid as
    * identical doubles and the id tie-break makes the cut deterministic
    * (the es_top_movers discipline — a rounded order key plus a total
    * tie-break, so the k-boundary can never depend on engine sort
    * internals). Plan: the per-doc window hash-partitions on doc_id —
    * parallelism = docs, never a global sort. */
  def docSimilarTopK(d: DataFrame, k: Int = 5, tau: Double = 0.9,
      minDf: Long = 2L, maxDfTenths: Int = 9): DataFrame =
    docSimilarTopKFrom(docSimilar(d, tau, minDf, maxDfTenths), k)

  /** The serving cut over ANY pair source honoring [[docSimilar]]'s row
    * contract (lang, doc1, doc2, score with doc1 < doc2, one row per
    * undirected pair) — the dedup_clusters_lsh pattern of swapping the
    * pair source under an unchanged consumer: at test scale the cut
    * rides the lang-blocked exact join, at 100 TB it rides
    * [[docSimilarPrefix]] UNCHANGED (row-identical pair sets by the
    * prefix spec, so the cut is identical too — spec-asserted both
    * ways). */
  def docSimilarTopKFrom(pairs: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, s"bad k=$k")
    val sym = pairs.select(col("lang"), col("doc1").as("doc_id"),
        col("doc2").as("similar_id"), col("score"))
      .unionByName(pairs.select(col("lang"), col("doc2").as("doc_id"),
        col("doc1").as("similar_id"), col("score")))
    sym.withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("similar_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select("lang", "doc_id", "similar_id", "score", "rnk")
  }

  /** Persist the doc-similarity SERVING artifacts (the writeTextIndex
    * posture applied to the vector space): `tableName` holds the corpus
    * sparse vectors exactly as [[docVectors]] builds them (doc_id, lang,
    * n2, ks, ws — lang-salted xxhash64 keys, integer weights), and
    * `tableName_vocab` freezes the df-banded vocabulary with its 1e-3-
    * grid idf (lang, term, idf_milli) — the bounded artifact a serving
    * tokenizer ships (the persisted-BPE-model argument: the vocabulary
    * is the model). An arriving document vectorized against the FROZEN
    * vocab with the same expressions produces a vector bit-identical to
    * the one this index holds for an equal corpus document, which is
    * what makes the streaming more-like-this dual
    * ([[graft.streaming.Streaming.docSimilarStream]]) converge exactly
    * (StreamingSpec). */
  def writeDocVectorIndex(d: DataFrame, tableName: String, path: String,
      minDf: Long = 2L, maxDfTenths: Int = 9): Unit = {
    // feeds the vocab distinct AND the vector agg — one tokenize pass
    val w = docWeights(d, minDf, maxDfTenths).localCheckpoint(true)
    // vectors + vocab: one generation, one pointer flip
    graft.sources.Staged.commit(d.sparkSession, tableName, path) { g =>
      g.save("_vocab",
        w.select(col("lang"), col("term"), col("idf_milli")).distinct())
      g.save("", docVectors(w).select(VectorCols: _*))
    }
  }

  private val VectorCols = Seq("doc_id", "lang", "n2", "ks", "ws").map(col)

  /** Batch MORE-LIKE-THIS over the persisted index — the serving-side
    * face of [[docSimilar]] (the text_search_indexed posture applied to
    * the vector space): a QUERY SLICE of documents is vectorized
    * against the FROZEN vocabulary table (tf agg + a broadcast vocab
    * join + the IDENTICAL xxhash64/sort_array/weight expressions the
    * index build ran — one definition, so an indexed document's probe
    * vector is bit-identical to its stored vector) and scored against
    * the PERSISTED corpus vectors with the same SparseDotCounts +
    * floor-half-up chain, emitting each query's above-τ neighbors
    * DIRECTED to the query endpoint. Result equals the doc_similar
    * pair set restricted to slice endpoints (both-in-slice pairs serve
    * both directions) — the oracle derives exactly that from the
    * inverted-index formulation.
    *
    * Scale: the corpus is touched ZERO times — the tokenize pass runs
    * over the query slice only, the vocab join is broadcast (the vocab
    * is the bounded model artifact), and the scoring join reads the
    * persisted vectors. The lang-blocked scoring join prices each
    * query batch at |slice|·|corpus|/|langs| kernel calls — the brute
    * serving cost; a τ-bounded candidate feed swaps in via
    * docSimilarPrefix's posting logic when batches grow (the
    * dedup_clusters_lsh pair-source-swap argument). */
  def docSimilarPersisted(spark: SparkSession, d: DataFrame,
      vecTable: String, vocabTable: String, queryPred: Column,
      tau: Double = 0.9): DataFrame = {
    val snap = graft.sources.Staged.resolve(spark, vecTable)
    docSimilarOn(snap.table(vecTable), d, snap.table(vocabTable),
      queryPred, tau)
  }

  /** [[docSimilarPersisted]] over an explicit corpus-vector frame — the
    * face the DELTA probe feeds base ∪ delta vectors into (the
    * searchIvfIndexOn posture: resolve once, probe that resolution). */
  def docSimilarPersistedOn(spark: SparkSession, corpusVecs: DataFrame,
      d: DataFrame, vocabTable: String, queryPred: Column,
      tau: Double = 0.9): DataFrame =
    docSimilarOn(corpusVecs, d, graft.sources.Staged.table(spark,
      vocabTable), queryPred, tau)

  /** [[docSimilarPersistedOn]] against an already-resolved vocab frame. */
  private def docSimilarOn(corpusVecs: DataFrame, d: DataFrame,
      vocab: DataFrame, queryPred: Column, tau: Double): DataFrame = {
    require(tau > 0.0, s"bad tau=$tau")
    val q = vectorizeWith(d.filter(queryPred), vocab)
    // spread the persisted-vector scan: the lang join streams the
    // corpus table through the kernel, and a one-file table is a
    // one-task scan (no-op at scale — the table then has many splits).
    // HASH spread on doc_id, not round-robin (r21, the r20 verdict's
    // both-runs watch on doc_similar_persisted): a keyless
    // repartition(n) first pays a per-task SORT of the heavy (ks, ws)
    // vector arrays (sortBeforeRepartition, guide §2.5) — the same
    // r20-measured cost that made raw-text spreads hash-only
    val corpus = graft.operators.Par
      .spreadBy(corpusVecs, graft.operators.Par.slots(corpusVecs),
        col("doc_id"))
      .select(col("doc_id").as("similar_id"), col("lang"),
        col("n2").as("cn2"), col("ks").as("cks"), col("ws").as("cws"))
    q.join(corpus, Seq("lang"))
      .filter(col("doc_id") =!= col("similar_id"))
      .withColumn("dc", graft.functions.SparseDotCounts(
        col("ks"), col("ws"), col("cks"), col("cws")))
      .withColumn("score", quantizedCosine(
        col("dc").getItem(0), col("n2"), col("cn2")))
      .filter(col("score") >= tau)
      .select(col("lang"), col("doc_id"), col("similar_id"), col("score"))
  }

  /** Vectorize documents against a FROZEN persisted vocabulary — the
    * ONE arriving-doc vectorizer shared by [[docSimilarPersistedOn]]
    * (query side), the streaming more-like-this dual, and the
    * doc-vector DELTA append ([[appendDocVectorIndexDelta]]): tf agg +
    * broadcast vocab join + the IDENTICAL xxhash64/sort_array/weight
    * expressions the index build ran, so an equal document yields a
    * bit-identical vector wherever it is vectorized (one definition —
    * a drift could only break one place). */
  private[graft] def vectorizeAgainstVocab(spark: SparkSession,
      d: DataFrame, vocabTable: String): DataFrame =
    vectorizeWith(d, graft.sources.Staged.table(spark, vocabTable))

  private def vectorizeWith(d: DataFrame, vocabFrame: DataFrame): DataFrame = {
    val vocab = vocabFrame.select(col("lang"), col("term"), col("idf_milli"))
    val tf = lowerToks(d)
      .select(col("doc_id"), col("lang"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("lang"), col("term"))
      .agg(count(lit(1)).as("tf"))
    tf.join(broadcast(vocab), Seq("lang", "term"))
      .withColumn("w", col("tf") * col("idf_milli"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sort_array(collect_list(struct(
          xxhash64(col("lang"), col("term")).as("k"),
          col("w").as("w")))).as("kw"),
        sum(col("w") * col("w")).as("n2"))
      .filter(col("n2") > lit(0L))
      .select(col("doc_id"), col("lang"), col("n2"),
        expr("transform(kw, s -> s.k)").as("ks"),
        expr("transform(kw, s -> s.w)").as("ws"))
  }

  /** Append a crawl delta to the persisted doc-vector index — the
    * [[appendTextIndexDelta]] posture for the vector family: the delta
    * docs are vectorized against the FROZEN base vocabulary (the model
    * artifact — [[vectorizeAgainstVocab]], bit-identical to what a full
    * build stores for an equal doc whose terms are in-vocab) and land
    * as ONE plain vector segment ([[graft.sources.Staged.append]]); a
    * rebuild or a merge flips to a map with none.
    *
    * Semantics contract (spec-pinned): probe-over-(base ∪ segments) ≡
    * probe over a FULL REBUILD in which the vocabulary/df-band was
    * derived from the BASE corpus only — the frozen-vocab serving
    * semantic the streaming dual already has. A delta doc's
    * out-of-band novel terms join nothing until the next vocabulary
    * refresh (a full [[writeDocVectorIndex]] rebuild — that is the
    * vocab-refresh cadence; [[mergeDocVectorIndex]] compacts rows
    * WITHOUT refreshing the vocab, zero tokenize passes). The
    * disjointness fence is one doc_id column scan (one row per doc). */
  def appendDocVectorIndexDelta(dNew: DataFrame, tableName: String,
      path: String): Unit =
    graft.sources.Staged.append(dNew.sparkSession, tableName, path,
        "appendDocVectorIndexDelta", "doc_id") { snap =>
      vectorizeWith(dNew, snap.table(s"${tableName}_vocab"))
        .localCheckpoint(true)
    } { (g, segment, vecs) => g.save(segment, vecs) }

  /** Base ∪ every segment of a doc-vector snapshot, (doc_id, lang, n2,
    * ks, ws). */
  private def vectorsWithSegments(snap: graft.sources.Staged.Snapshot,
      tableName: String): DataFrame =
    snap.segments.foldLeft(snap.table(tableName).select(VectorCols: _*))(
      (v, s) => v.unionByName(snap.table(s).select(VectorCols: _*)))

  /** Generation + OOV accounting for the doc-vector delta family (r24,
    * r18 verdict #3 — the text_index_delta_audit sibling; closes the
    * "silently serves base-only" nit: a stale/absent delta now SHOWS as
    * zero delta mass in an ops row instead of only changing results):
    * one row —
    *  - n_vecs_base / n_vecs_delta / delta_share_milli: stored-vector
    *    masses and the integer half-up merge-due signal
    *    ([[mergeDocVectorIndex]] scheduling, the textIndexDeltaAudit
    *    posture);
    *  - n_docs_delta / n_docs_vectorized: the delta BATCH's doc count
    *    vs docs that actually produced a vector — the gap is docs with
    *    ZERO in-band terms under the frozen vocabulary (they are
    *    unfindable in this index until the vocab-refresh rebuild);
    *  - toks_delta / toks_oov / oov_milli: the delta docs' token mass
    *    the frozen base vocabulary silently DROPS (out-of-band terms
    *    join nothing — the documented vocab-refresh trigger, which
    *    until this row had no measurement driving it).
    * All exact integers (count/sum/half-up milli), so the whole row
    * sits under the hash gate: the oracle re-derives the frozen
    * vocabulary from the base split (the doc_similar_delta CTEs) and
    * the delta tf table from the delta split. `deltaDocs` is the SAME
    * delta relation the appends consumed; one tokenize pass over the
    * delta only (the vocab join is broadcast — the vocab is the
    * bounded model artifact). */
  def docVectorDeltaAudit(spark: SparkSession, tableName: String,
      deltaDocs: DataFrame): DataFrame = {
    val snap = graft.sources.Staged.resolve(spark, tableName)
    val nBase = snap.table(tableName)
      .agg(count(lit(1)).as("n_vecs_base"))
    val nDelta = snap.segments.map(snap.table).reduceOption(_.unionByName(_))
      .map(_.agg(count(lit(1)).as("n_vecs_delta")))
      .getOrElse(spark.range(1).select(lit(0L).as("n_vecs_delta")))
    val vocab = snap.table(s"${tableName}_vocab")
      .select(col("lang"), col("term"), lit(1).as("inb"))
    val tf = withToks(deltaDocs.withColumn("text", lower(col("text"))))
      .select(col("doc_id"), col("lang"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("lang"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val toks = tf.join(broadcast(vocab), Seq("lang", "term"), "left_outer")
      .agg(
        coalesce(sum(col("tf")), lit(0L)).as("toks_delta"),
        coalesce(sum(when(col("inb").isNotNull, col("tf"))
          .otherwise(0L)), lit(0L)).as("toks_inband"),
        countDistinct(when(col("inb").isNotNull, col("doc_id")))
          .as("n_docs_vectorized"))
    val nDocs = deltaDocs.agg(count(lit(1)).as("n_docs_delta"))
    nBase.crossJoin(broadcast(nDelta)).crossJoin(broadcast(nDocs))
      .crossJoin(broadcast(toks))
      .select(col("n_vecs_base"), col("n_vecs_delta"),
        expr("""CASE WHEN n_vecs_base + n_vecs_delta > 0 THEN
                  (2 * n_vecs_delta * 1000 + (n_vecs_base + n_vecs_delta))
                    div (2 * (n_vecs_base + n_vecs_delta))
                ELSE 0 END""").as("delta_share_milli"),
        col("n_docs_delta"), col("n_docs_vectorized"),
        col("toks_delta"),
        (col("toks_delta") - col("toks_inband")).as("toks_oov"),
        expr("""CASE WHEN toks_delta > 0 THEN
                  (2 * (toks_delta - toks_inband) * 1000 + toks_delta)
                    div (2 * toks_delta)
                ELSE 0 END""").as("oov_milli"))
  }

  /** More-like-this over base ∪ segments — [[docSimilarPersisted]]
    * with the corpus extended by every segment, every member from one
    * pointer read. With no segment this IS the persisted probe. */
  def docSimilarPersistedDelta(spark: SparkSession, d: DataFrame,
      vecTable: String, vocabTable: String, queryPred: Column,
      tau: Double = 0.9): DataFrame = {
    val snap = graft.sources.Staged.resolve(spark, vecTable)
    docSimilarOn(vectorsWithSegments(snap, vecTable), d,
      snap.table(vocabTable), queryPred, tau)
  }

  /** Compact the segments into the base vectors
    * ([[graft.sources.Staged.merge]]) — one index-ROW union, ZERO
    * tokenize passes; the kept vocab serves the new base. The frozen
    * vocabulary is NOT refreshed here — vocab refresh is the
    * full-rebuild cadence ([[writeDocVectorIndex]]), by design. */
  def mergeDocVectorIndex(spark: SparkSession, tableName: String,
      path: String): Unit =
    graft.sources.Staged.merge(spark, tableName, path) { (g, snap) =>
      g.save("", vectorsWithSegments(snap, tableName))
    }

  /** The 100 TB path for [[docSimilar]], with a PROVABLY IDENTICAL
    * result — prefix filtering (the AllPairs/PPJoin bound, Bayardo,
    * Ma & Srikant WWW'07, specialized to cosine): process each doc's
    * in-band terms in canonical (term asc) order and keep a posting
    * only while the doc's SUFFIX norm from that term on can still
    * reach `tau` — if cos(d₁,d₂) ≥ τ and t is the pair's FIRST shared
    * term in canonical order, Cauchy–Schwarz on the suffixes gives
    * cos ≤ ‖u₁suffix(t)‖·‖u₂suffix(t)‖ with both factors ≤ 1, so BOTH
    * suffix norms are ≥ τ and the pair is generated at t. The prune
    * compares the EXACT integer suffix-Σw² against (τ−0.001)²·n2: the
    * 0.001 slack dominates both the float ulps of the compare and the
    * 5·10⁻⁵ display-rounding slack of the final `round-then-threshold`
    * (a pair kept by docSimilar has true cosine ≥ τ − 5·10⁻⁵), so no
    * qualifying pair can be pruned — the candidate set is a provable
    * superset and the final kernel scoring (identical expression over
    * the FULL vectors) makes the output equal row-for-row
    * (spec-asserted). Scale shape: the candidate join touches only
    * prefix postings — on a Zipf vocabulary the overwhelming mass of
    * high-df low-idf postings sits in suffixes and never joins.
    * MEASURED r12 at sf0.1 (the dense ~31-word worst case): identical
    * 656 rows, ~7.5 s warm vs ~4 s for the lang-blocked join — here
    * the pair-dedup aggregate costs more than the dense block join
    * saves, so the blocked form is the registered default at test
    * scale. The prefix path is the shape that SURVIVES 100 TB: a web
    * corpus's dominant language makes the lang block itself quadratic
    * (0.6n² pairs for a 60% language), while prefix filtering bounds
    * candidates by the τ-reachable posting mass independent of block
    * size. Shares doc_similar's oracle (result-identical, the
    * text_search_indexed precedent). */
  def docSimilarPrefix(d: DataFrame, tau: Double = 0.9, minDf: Long = 2L,
      maxDfTenths: Int = 9): DataFrame = {
    require(tau > 0.001 && tau <= 1.0 &&
      minDf >= 2L && maxDfTenths >= 1 && maxDfTenths <= 10,
      s"bad params tau=$tau minDf=$minDf maxDfTenths=$maxDfTenths")
    // feeds the vector agg AND the prefix-posting window
    val sl = graft.operators.Par.slots(d)
    val w = docWeights(d, minDf, maxDfTenths).localCheckpoint(true)
    val vecs = docVectors(w, sl)
    // inclusive suffix Σw² in canonical order: running sum ordered DESC
    val win = Window.partitionBy(col("doc_id")).orderBy(col("term").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tauP = tau - 0.001
    val prefix = graft.operators.Par.spreadBy(w, sl, col("doc_id"))
      .withColumn("suf_sq", sum(col("w") * col("w")).over(win))
      .join(vecs.select(col("doc_id"), col("n2")), "doc_id")
      .filter(col("suf_sq").cast("double") >=
        lit(tauP * tauP) * col("n2").cast("double"))
      .select(col("doc_id"), col("lang"), col("term"))
      // pin the candidate join's width on its own key: the posting
      // self-join EXPLODES (26k postings → ~10M raw pairs at sf0.1)
      // while its input bytes are AQE-coalesce-tiny — measured r20:
      // 4.66 s in a single task. spreadBy(lang, term) makes the join
      // reuse this partitioning, so pair generation + the map-side
      // pair dedup run slots-wide (no-op at scale)
      .transform(graft.operators.Par.spreadBy(_, sl,
        col("lang"), col("term")))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.lang") === col("b.lang") &&
          col("a.term") === col("b.term") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .dropDuplicates("doc1", "doc2")
    cand
      .join(vecs.select(col("doc_id").as("doc1"), col("lang"),
        col("n2").as("n2_1"), col("ks").as("ks1"), col("ws").as("ws1")),
        "doc1")
      .join(vecs.select(col("doc_id").as("doc2"), col("n2").as("n2_2"),
        col("ks").as("ks2"), col("ws").as("ws2")), "doc2")
      .withColumn("dc", graft.functions.SparseDotCounts(
        col("ks1"), col("ws1"), col("ks2"), col("ws2")))
      .withColumn("score",
        quantizedCosine(col("dc").getItem(0), col("n2_1"), col("n2_2")))
      .filter(col("score") >= tau)
      .select(col("lang"), col("doc1"), col("doc2"),
        col("dc").getItem(1).as("n_common"), col("score"))
  }
}
