package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Boilerplate SPAN detection — the token-shingle analog of CCNet's
  * frequent-line removal (this corpus's documents are single-line token
  * streams, so the "line" granularity is a fixed k-token window):
  * spans of text repeated VERBATIM across many documents are template
  * mass (navigation chrome, license headers, mirrored footers) that a
  * training pipeline strips or down-weights BEFORE near-dup scoring —
  * they inflate every similarity signal and carry no information.
  *
  * Three faces (the wordAssoc → phrase_density ladder, one level up in
  * span length): [[boilerplateSpans]] is the high-DF dictionary (the
  * frozen artifact), [[boilerplateTag]] the per-doc tagger against it,
  * [[boilerplateAudit]] the per-source mass accounting. The dictionary
  * is GLOBAL (cross-source): shared templates across mirrored sources
  * are exactly the mass worth catching; per-site scoping is the
  * source_overlap family's job.
  *
  * All-integer end to end: gram identity is the literal space-joined
  * token window (engine-exact string equality — no hashing, so the
  * dictionary doubles as a human-readable template report), df is an
  * exact distinct count, the per-doc ratio is the half-up integer
  * milli. Docs with < k tokens have no k-gram distribution and emit no
  * row (the phrase_density membership rule).
  *
  * Scale: one linear gram explode per pass (the minhash shingleExpr
  * shape — k O(1) array indexes per position, never a per-position
  * substring); the dictionary agg map-side-combines on gram; the tag
  * join broadcasts the dictionary (bounded because minDf must scale
  * with corpus mass — the wordAssoc support argument: template spans
  * repeat ~linearly with corpus size, so a proportional threshold
  * keeps the artifact broadcastable; a looser threshold degrades to a
  * shuffle equijoin, never anything pairwise). */
object Boilerplate {

  /** Window length in tokens. */
  val DefaultK = 5

  /** A span is boilerplate when seen in ≥ minDf distinct docs. At the
    * gate scales 2 is the near-clone floor; at corpus scale raise it
    * proportionally (the support-threshold doctrine). */
  val DefaultMinDf = 2L

  private def gramExpr(k: Int): String = {
    val parts = (0 until k).map(j => s"toks[i + $j]").mkString(", ")
    s"transform(sequence(0, size(toks) - $k), i -> concat_ws(' ', $parts))"
  }

  /** One row per gram POSITION (multiset — intra-doc repeats count in
    * the tag, df dedups per doc in the dictionary). */
  private[graft] def grams(d: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // spread the gram explode (both dictionary and tag pay it; single
    // scan split at bench scale, Par no-ops at real scale)
    TextOps.lowerToks(graft.operators.Par
        .spreadBy(d, graft.operators.Par.slots(d), col("doc_id")))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), col("source"),
        explode(expr(gramExpr(k))).as("gram"))
  }

  /** The global template dictionary: (gram, df) for every k-token span
    * seen in ≥ minDf distinct documents. The frozen serving artifact
    * of [[graft.streaming.Streaming.runBoilerplateTag]]. */
  def boilerplateSpans(d: DataFrame, k: Int = DefaultK,
      minDf: Long = DefaultMinDf): DataFrame = {
    require(minDf >= 2L, s"minDf must be >= 2, got $minDf")
    grams(d, k)
      .groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
  }

  /** Per-doc template tagging: gram positions, positions whose span is
    * a dictionary entry, and their half-up milli ratio — the signal a
    * curation pass thresholds to strip or down-weight template-heavy
    * docs. One definition for batch and the live tagger (pass a frozen
    * `dict`). */
  def boilerplateTag(d: DataFrame, k: Int = DefaultK,
      minDf: Long = DefaultMinDf,
      dict: Option[DataFrame] = None): DataFrame = {
    val dictDf = dict.getOrElse(boilerplateSpans(d, k, minDf))
      .select(col("gram"), lit(1L).as("hit"))
    grams(d, k)
      .join(broadcast(dictDf), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("bp_grams"))
      .withColumn("bp_milli",
        expr("(2 * bp_grams * 1000 + n_grams) div (2 * n_grams)"))
  }

  /** Persist the template dictionary as a bucketed external table
    * (r18) — the NINTH persisted-index family (postings / IVF float +
    * quantized / anchors / BPE model / NB model / chunk grid /
    * doc vectors / vocabulary / bigram LM came before): a rolling
    * crawl freezes the template dictionary once per reference corpus
    * and tags every incoming batch against the frozen artifact.
    * Bucketed by `gram` (the tag join's key — a dictionary beyond
    * broadcast budget still joins with no index-side Exchange);
    * rebuilds commit through [[graft.sources.Staged]]'s pointer flip, so
    * a crash mid-rebuild leaves the old generation serving. The dictionary stays human-readable (literal grams —
    * it doubles as the template report). */
  def writeBoilerplateIndex(d: DataFrame, tableName: String,
      path: String, k: Int = DefaultK, minDf: Long = DefaultMinDf,
      buckets: Int = 8): Unit =
    graft.sources.Staged.commit(d.sparkSession, tableName, path)(_.write() {
      (tbl, p) =>
        boilerplateSpans(d, k, minDf)
          .repartition(col("gram"))
          .write
          .option("path", p)
          .bucketBy(buckets, "gram")
          .sortBy("gram")
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .saveAsTable(tbl)
    })

  /** Per-doc tagging against the PERSISTED dictionary
    * ([[writeBoilerplateIndex]]) — result-identical to
    * [[boilerplateTag]] when the table was written from the same
    * corpus and parameters (spec proves row parity), so the
    * freeze-once/tag-per-batch hop is transparent to the result and
    * the operator keeps the boilerplate_tag ORACLE verbatim (the
    * vocab_coverage_persisted posture). No broadcast hint: the
    * bucketed index side reads with zero Exchange when AQE doesn't
    * pick a broadcast, which is the 100 TB shape for a dictionary
    * past broadcast budget. */
  def boilerplateTagIndexed(spark: org.apache.spark.sql.SparkSession,
      tableName: String, d: DataFrame, k: Int = DefaultK): DataFrame =
    grams(d, k)
      .join(graft.sources.Staged.table(spark, tableName)
        .select(col("gram"), lit(1L).as("hit")), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("bp_grams"))
      .withColumn("bp_milli",
        expr("(2 * bp_grams * 1000 + n_grams) div (2 * n_grams)"))

  /** Per-source template-mass accounting (the lsh_bucket_audit
    * discipline): taggable docs, docs carrying any template span, gram
    * totals and template mass with the half-up milli share, plus the
    * global dictionary size replicated per row (one artifact, one
    * report). Oracle embeds the tag derivation verbatim. */
  def boilerplateAudit(d: DataFrame, k: Int = DefaultK,
      minDf: Long = DefaultMinDf): DataFrame = {
    // dictionary derived ONCE for its two consumers (tag join + size)
    val dictCp = boilerplateSpans(d, k, minDf).localCheckpoint(true)
    val tag = boilerplateTag(d, k, minDf, dict = Some(dictCp))
      .join(d.select(col("doc_id"), col("source")), "doc_id")
    val dictSize = dictCp.groupBy().agg(count(lit(1)).as("dict_grams"))
    tag.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum((col("bp_grams") > 0L).cast("long")).as("docs_flagged"),
        sum(col("n_grams")).as("grams_total"),
        sum(col("bp_grams")).as("grams_bp"))
      .withColumn("bp_milli",
        expr("(2 * grams_bp * 1000 + grams_total) div (2 * grams_total)"))
      .crossJoin(broadcast(dictSize))
      .select("source", "n_docs", "docs_flagged", "grams_total",
        "grams_bp", "bp_milli", "dict_grams")
  }
}
