package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}
import graft.functions.{CentroidGroup, CentroidModel, DotProduct, NearestCentroids, PqEncode, PqLut, VectorMean}
import graft.sources.Staged

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY §2-F).
  *
  * [[brute]] is the exact baseline: broadcast the (small) query set
  * against the corpus, rank per query — a TakeOrdered per query, no
  * all-pairs shuffle. [[lsh]] (random hyperplanes) and [[ivf]] (inverted
  * file over seeded centroids) are the 100 TB paths: both turn search
  * into a bucket-equijoin so cost scales with bucket size, not corpus².
  *
  * The IVF / IVF-PQ family (float, int8 and PQ codecs) shares one
  * centroid machinery in [[graft.functions]]: a centroid table is
  * collected once per call into a [[CentroidModel]] shipped to the
  * executors as a broadcast variable, and every nearest-centroid
  * question is a per-row kernel — [[NearestCentroids]] for list
  * assignment (n = 1) and probe lists (n = nprobe), [[PqEncode]] and
  * [[PqLut]] for PQ codes and lookup tables, [[VectorMean]] for a Lloyd
  * round's means. A Lloyd round is one aggregation (one Exchange);
  * assignment, encoding and probe lists shuffle nothing. Above the
  * centroids the three layouts are ONE path — build, probe lists,
  * score, delta append, delta search, merge — over an [[IvfCodec]]
  * that supplies only what a codec changes: the stored payload, the
  * probe-side payload, an index-side filter and the score. */
object Knn {

  def emb(spark: SparkSession, dir: String): DataFrame =
    embOf(graft.sources.ParquetSource.read(spark, s"$dir/embeddings.parquet"))

  /** The ONE reader of a raw embedding table or stream (vec_id, label,
    * embedding): cast to doubles, `nrm` computed once, only
    * [[finiteNorm]] rows kept. Every (vec_id, label, v, nrm) frame a
    * similarity, dedup or hybrid operator receives comes from here, so
    * no operator repeats the fence; [[emb]] is its parquet face and the
    * stream probes call it per micro-batch. */
  def embOf(raw: DataFrame): DataFrame =
    castRaw(raw).withColumn("nrm", sqrt(DotProduct(col("v"), col("v"))))
      .filter(finiteNorm(col("nrm")))

  private def castRaw(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))

  /** EVERY stored row as (vec_id, label, v), unfenced: only for the
    * three inventory rows (`emb_health`, `pipeline_integrity`,
    * `dedup_embedding_exact`), whose oracle counts or groups every row. */
  def embStoredRows(spark: SparkSession, dir: String): DataFrame =
    castRaw(graft.sources.ParquetSource.read(spark, s"$dir/embeddings.parquet"))

  /** Cosine via the native kernel; norms are precomputed per vector. */
  private def cosine: Column =
    round(DotProduct(col("q.v"), col("c.v")) /
      (col("q.nrm") * col("c.nrm")), 4)

  /** The degenerate-vector fence [[embOf]] applies: a zero vector has
    * no cosine direction (0/0 — under Spark 4 ANSI the zero divisor
    * KILLS the job, elsewhere both engines sort the NaN above every real
    * score, so one degenerate row would head EVERY query's top-k); a
    * NaN- or Inf-poisoned vector turns every score it touches NaN, and
    * one NaN element even passes int8's `qnrm > 0` (the encoder codes it
    * 0). `nrm > 0 AND nrm < Infinity` excludes all of them, identically
    * in Spark and DuckDB (both order NaN greatest) — the oracle's float
    * paths carry the same predicate in SQL. */
  private def finiteNorm(nrm: Column): Column =
    nrm > lit(0.0) && nrm < lit(Double.PositiveInfinity)

  private def ranked(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "score", "rnk")
  }

  /** Pre-flight EMBEDDING HEALTH audit — the corpus_health companion
    * for the vector table, over [[embStoredRows]] (every stored row),
    * accounting exactly what the reader's [[finiteNorm]] fence drops:
    * null / empty / all-zero / NaN-or-Inf-poisoned vectors, plus the id and
    * dimensionality invariants every pairwise operator assumes
    * (duplicate vec_ids double-count votes; mixed dims crash the dot
    * kernels). One exact-integer corpus agg under the hash gate; the
    * squared norm is the [[graft.functions.DotProduct]] kernel over
    * the raw doubles, mirrored by list_dot_product in the oracle, and
    * NaN/Inf classification uses isnan/= infinity — identical in both
    * engines. */
  def embHealth(e: DataFrame): DataFrame = {
    val d2 = DotProduct(col("v"), col("v"))
    e.agg(
      count(lit(1)).as("n_vecs"),
      countDistinct(col("vec_id")).as("n_distinct_ids"),
      sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null_vec"),
      sum(when(col("v").isNotNull && size(col("v")) === 0, 1L)
        .otherwise(0L)).as("n_empty_vec"),
      sum(when(col("v").isNotNull && size(col("v")) > 0 &&
          d2 === lit(0.0), 1L).otherwise(0L)).as("n_zero_norm"),
      sum(when(col("v").isNotNull &&
          (isnan(d2) || d2 === lit(Double.PositiveInfinity)), 1L)
        .otherwise(0L)).as("n_nonfinite"),
      min(when(col("v").isNotNull, size(col("v")))).cast("long")
        .as("dims_min"),
      max(when(col("v").isNotNull, size(col("v")))).cast("long")
        .as("dims_max"))
  }

  /** Exact top-k cosine neighbors for each query vector. */
  def brute(e: DataFrame, queryPred: Column, k: Int): DataFrame =
    exhaustive(FloatCodec, e, queryPred, k)

  /** Exact top-k over a prepared `corpus`: the `queryPred` rows against
    * every other row, scored by `codec` with no list pruning. */
  private def exhaustive(codec: IvfCodec, corpus: DataFrame,
      queryPred: Column, k: Int): DataFrame =
    ranked(corpus.filter(queryPred).withColumnRenamed("vec_id", "query_id")
      .as("q").join(corpus.as("c"), col("query_id") =!= col("c.vec_id"))
      .withColumn("score", codec.score)
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        col("score")), k)

  /** Int8 scalar quantization of the corpus: per-vector symmetric scale
    * (q_i = floor(v_i · 127 / max|v_j| + 0.5), zero vectors → all-zero
    * codes). Half-up via floor(x + 0.5), NOT round(): floor of identical
    * doubles is identical in every engine, while round() diverges
    * between Spark (decimal-string HALF_UP) and DuckDB (binary) exactly
    * at .5 boundaries — this is what makes the codes, and with them the
    * whole integer scoring chain, oracle-reproducible. One linear encode
    * pass; the quantized corpus is 8× smaller resident than
    * array<double> — at 100 TB of embeddings this is the difference
    * between an executor-cached index and one that spills. */
  def quantize(e: DataFrame): DataFrame =
    e.withColumn("qv", graft.functions.QuantizeInt8(col("v")))
      .withColumn("qnrm", sqrt(graft.functions.ByteDot(col("qv"), col("qv"))
        .cast("double")))

  /** Quantized cosine at 4 displayed decimals with NO float round():
    * dot · 10⁴ / (|q|·|c|) + 0.5 → floor → one exact division. Every
    * input is an identical double in any engine (integer dot, sqrt of
    * integers), +,×,÷,floor are IEEE-identical, so score AND rank order
    * reproduce bit-exactly — the property that puts the int8 kernel
    * under the hash gate. */
  private def quantizedScore(a: Column, b: Column, na: Column,
      nb: Column): Column =
    quantizedE4(a, b, na, nb).cast("double") / lit(10000.0)

  /** [[quantizedScore]] before its one division: the exact BIGINT
    * floor(dot · 10⁴ / (|a|·|b|) + 0.5) the triplet rollups rank on. */
  private def quantizedE4(a: Column, b: Column, na: Column,
      nb: Column): Column =
    floor(graft.functions.ByteDot(a, b).cast("double") * lit(10000.0) /
      (na * nb) + lit(0.5))

  /** Exact top-k search IN THE QUANTIZED SPACE: integer [[ByteDot]]
    * accumulation (bit-deterministic), cosine of the int8 codes —
    * approximate w.r.t. the float cosine only through the quantization
    * (KnnSpec bounds recall@k against [[brute]]), and oracle-EXACT: dots
    * of ≤127² ints are exact in doubles and no float round() appears
    * anywhere. The brute face of [[Int8Codec]]'s score. */
  def bruteQuantized(e: DataFrame, queryPred: Column, k: Int): DataFrame =
    // zero-norm codes have no cosine (0/0 sorts ABOVE every real score)
    exhaustive(Int8Codec, quantize(e).filter(col("qnrm") > lit(0.0)),
      queryPred, k)

  /** Cross-split SEMANTIC contamination check — the embedding dual of
    * the text `contamination_*` rows: flag (train, test) example pairs
    * whose quantized cosine reaches `tau`, catching the paraphrased /
    * re-rendered near-duplicates that digest- and substring-based
    * decontamination can never see (the eval-hygiene gap SemDeDup-style
    * pipelines close). Split membership is [[isTrain]], scoring the
    * knn_quantized integer chain ([[quantizedScore]]), zero-norm codes
    * excluded on both sides — so the whole operator sits under the hash
    * gate. The pair join is the sanctioned brute baseline: test side
    * broadcast (the minority split), train side streamed. The 100 TB
    * path is [[contaminationSemanticIvf]]; this brute form survives as
    * its oracle baseline, exactly like knn_brute under knn_ivf. */
  def contaminationSemantic(e: DataFrame, trainSixteenths: Int = 13,
      tau: Double = 0.45): DataFrame = {
    require(tau > 0.0, s"bad tau=$tau")
    quantizedPairs(e, isTrain(trainSixteenths), tau)
      .select(col("r.vec_id").as("test_vec"), col("l.vec_id").as("train_vec"),
        col("score"))
  }

  /** The brute int8 pair join: every positive-norm `isLeft` row `l`
    * against every other row `r` (broadcast — the minority side), kept
    * where [[quantizedScore]] ≥ tau. The codes feed both sides — encoded
    * once, never per side. */
  private def quantizedPairs(e: DataFrame, isLeft: Column,
      tau: Double): DataFrame = {
    val q = quantize(e).filter(col("qnrm") > lit(0.0))
      .select(col("vec_id"), col("label"), isLeft.as("left"), col("qv"),
        col("qnrm"))
      .localCheckpoint(true)
    q.filter(col("left")).as("l")
      .crossJoin(broadcast(q.filter(!col("left")).as("r")))
      .withColumn("score", quantizedScore(col("l.qv"), col("r.qv"),
        col("l.qnrm"), col("r.qnrm")))
      .filter(col("score") >= tau)
  }

  /** The split_assign rule (md5 nibble of the id — a pure row function
    * both engines compute identically): true on the train split. */
  private def isTrain(trainSixteenths: Int): Column = {
    require(trainSixteenths >= 1 && trainSixteenths <= 15,
      s"trainSixteenths must be in [1, 15], got $trainSixteenths")
    substring(md5(col("vec_id").cast("string")), 1, 1) <
      trainSixteenths.toHexString
  }

  /** Cross-split semantic contamination over the PERSISTED quantized IVF
    * index — the 100 TB path: instead of broadcasting the whole test
    * split into a cross join (3/16 of the corpus by construction), the
    * TRAIN split is written as the int8 index and the test split PROBES
    * it ([[probeScoredBy]]), scored with the IDENTICAL integer chain.
    * Every emitted pair is therefore a subset of the brute operator's
    * pairs with BIT-IDENTICAL scores (KnnSpec asserts both); recall is
    * probe-dependent (nprobe tunes that trade), which is why this
    * registers rows-only while the brute baseline keeps the oracle.
    * Split discipline holds BY CONSTRUCTION: only train rows enter the
    * index, only test rows probe. */
  def contaminationSemanticIvf(spark: SparkSession, e: DataFrame,
      tableName: String, path: String, trainSixteenths: Int = 13,
      tau: Double = 0.45, nlist: Int = 10, buckets: Int = 8,
      nprobe: Int = 2): DataFrame = {
    require(tau > 0.0, s"bad tau=$tau")
    probeScoredBy(spark, e, tableName, path, isTrain(trainSixteenths),
        nlist, buckets, nprobe)
      .filter(col("score") >= tau)
      .select(col("probe_vec").as("test_vec"), col("vec_id").as("train_vec"),
        col("score"))
  }

  /** The persisted-quantized-IVF probe of [[contaminationSemanticIvf]]
    * and its audit: rows selected by `isIndexed` are written as the int8
    * index ([[Int8Codec]]), the complement probes it — UNFILTERED
    * (probe_vec, vec_id, score) rows, vec_id on the indexed side. */
  private def probeScoredBy(spark: SparkSession, e: DataFrame,
      tableName: String, path: String, isIndexed: Column,
      nlist: Int, buckets: Int, nprobe: Int): DataFrame = {
    val (coarse, snap) = buildIvf(e.filter(isIndexed), tableName, path,
      nlist, buckets)((_, _) => (Int8Codec, Nil))
    Int8Codec.scored(Int8Codec.probes(e.filter(!isIndexed), coarse, nprobe),
        snap.table(tableName))
      .select(col("query_id").as("probe_vec"),
        col("neighbor_id").as("vec_id"), col("score"))
  }

  /** Probe-coverage accounting for [[contaminationSemanticIvf]] (the
    * lsh_bucket_audit discipline): train rows indexed, test rows
    * probing, candidate pairs scored through the probe equijoin, and
    * pairs at or above `tau`. n_candidates / (n_train · n_test) is the
    * pruning factor that replaces the brute cross product — ≈
    * nprobe/nlist at any corpus size, the number a pipeline watches when
    * tuning probe width against missed-contamination risk. */
  def contaminationSemanticIvfAudit(spark: SparkSession, e: DataFrame,
      tableName: String, path: String, trainSixteenths: Int = 13,
      tau: Double = 0.45, nlist: Int = 10, buckets: Int = 8,
      nprobe: Int = 2): DataFrame = {
    require(tau > 0.0, s"bad tau=$tau")
    val train = isTrain(trainSixteenths)
    val scored = probeScoredBy(spark, e, tableName, path, train, nlist,
      buckets, nprobe)
    val sizes = quantize(e).filter(col("qnrm") > lit(0.0)).agg(
      sum(when(train, 1L).otherwise(0L)).as("n_train"),
      sum(when(train, 0L).otherwise(1L)).as("n_test"))
    val stats = scored.agg(
      count(lit(1)).as("n_candidates"),
      sum(when(col("score") >= tau, 1L).otherwise(0L)).as("n_flagged"))
    sizes.crossJoin(broadcast(stats))
      .select(col("n_train"), col("n_test"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"))
  }

  /** Semi-supervised LABEL PROPAGATION over the quantized embedding
    * space — the cheap labeling pass a pipeline runs when only a slice
    * of the corpus carries curated labels: every UNLABELED vector adopts
    * the majority label among its τ-near LABELED neighbors. The labeled
    * slice is [[isLabeled]], scoring the knn_quantized integer chain,
    * votes exact integer counts, the winner decided on (count desc,
    * label asc) — a total integer order, so the operator sits under the
    * hash gate. Vectors with no τ-neighbor get no row (the "abstain" a
    * pipeline routes to manual labeling). Brute pair join (unlabeled
    * minority broadcast); the 100 TB swap is [[labelPropagationIvf]].
    * Label domain must stay within Int (the -label tie-break negation). */
  def labelPropagation(e: DataFrame, labeledSixteenths: Int = 12,
      tau: Double = 0.3): DataFrame =
    voteRollup(labelPropPairs(e, labeledSixteenths, tau))

  /** The UNROLLED (unlabeled, labeled) vote pairs ≥ τ — shared by the
    * brute and IVF formulations so the rollup is one definition. */
  private[graft] def labelPropPairs(e: DataFrame, labeledSixteenths: Int,
      tau: Double): DataFrame = {
    labelPropArgs(labeledSixteenths, tau)
    quantizedPairs(e, isLabeled(labeledSixteenths), tau)
      .select(col("r.vec_id").as("vec_id"), col("r.label").as("true_label"),
        col("l.vec_id").as("lab_vec"), col("l.label").as("lab_label"),
        col("score"))
  }

  private def labelPropArgs(labeledSixteenths: Int, tau: Double): Unit = {
    require(labeledSixteenths >= 1 && labeledSixteenths <= 15,
      s"labeledSixteenths must be in [1, 15], got $labeledSixteenths")
    require(tau > 0.0, s"bad tau=$tau")
  }

  /** The labeled-slice membership rule (salted md5 nibble on vec_id). */
  private def isLabeled(labeledSixteenths: Int): Column =
    substring(md5(concat_ws(":", col("vec_id").cast("string"), lit("lbl"))),
      1, 1) < labeledSixteenths.toHexString

  /** Majority vote per unlabeled vector: one hash agg to (vec, label)
    * counts, one to the argmax — max_by over struct(cnt, -label) ≡
    * (count desc, label asc), the es_top_movers total-order discipline;
    * never a corpus window. */
  private def voteRollup(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("vec_id"), col("true_label"), col("lab_label"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("vec_id"), col("true_label"))
      .agg(
        sum(col("cnt")).as("n_neighbors"),
        max_by(struct(col("cnt"), col("lab_label")),
          struct(col("cnt"), -col("lab_label"))).as("pick"))
      .select(col("vec_id"), col("true_label"),
        col("pick.lab_label").as("pred_label"),
        col("pick.cnt").as("n_votes"),
        col("n_neighbors"))

  /** The frozen labeled-slice code table
    * [[graft.streaming.Streaming.labelPropStream]] serves from:
    * (vec_id, label, qv, qnrm) of labeled vectors with positive norms —
    * the bounded serving artifact (curated labeled sets are small by
    * construction; the writeBpeModel persisted-model posture). */
  def labeledCodes(e: DataFrame, labeledSixteenths: Int = 12): DataFrame =
    quantize(e).filter(col("qnrm") > lit(0.0))
      .filter(isLabeled(labeledSixteenths))
      .select(col("vec_id"), col("label"), col("qv"), col("qnrm"))

  /** The probe-only half of [[labelPropagationIvf]] — propagate labels
    * for a QUERY batch against an ALREADY-BUILT int8 index of the
    * labeled slice: probe lists from [[Int8Codec]], the identical
    * integer chain, voter labels through one thin key equijoin, the
    * SAME [[voteRollup]]. Separated from the build so the live
    * propagator ([[graft.streaming.Streaming.runLabelPropProbe]]) can
    * replay it per micro-batch against the frozen artifacts — a
    * vector's tally is a pure function of its own row against the
    * index, so per-batch semantics are exact. */
  def labelPropProbe(spark: SparkSession, tableName: String,
      centroids: DataFrame, labels: DataFrame, queries: DataFrame,
      labeledSixteenths: Int = 12, tau: Double = 0.3,
      nprobe: Int = 2): DataFrame = {
    labelPropArgs(labeledSixteenths, tau)
    voteRollup(labelPropProbePairs(Staged.table(spark, tableName),
      CentroidModel.of(centroids), labels, queries, labeledSixteenths, tau,
      nprobe))
  }

  /** The vote pairs (same columns as [[labelPropPairs]]) of `queries`
    * outside the labeled slice against the int8 index `tableName`, voter
    * labels from `labels`. */
  private def labelPropProbePairs(index: DataFrame,
      coarse: CentroidModel, labels: DataFrame, queries: DataFrame,
      labeledSixteenths: Int, tau: Double, nprobe: Int): DataFrame =
    Int8Codec.probes(queries.filter(!isLabeled(labeledSixteenths)), coarse,
        nprobe, Seq(col("label").as("true_label")))
      .as("q")
      .join(Int8Codec.indexSide(index).as("c"),
        Seq("c_id"))
      .withColumn("score", Int8Codec.score)
      .filter(col("score") >= tau)
      .select(col("query_id").as("vec_id"), col("true_label"),
        col("c.vec_id").as("lab_vec"), col("score"))
      .join(labels.select(col("vec_id").as("lab_vec"),
        col("label").as("lab_label")), Seq("lab_vec"))
      .select(col("vec_id"), col("true_label"), col("lab_vec"),
        col("lab_label"), col("score"))

  /** Propagation-quality confusion rollup over the docs the operator
    * actually labels — the sign-off view (the domain_classifier_eval
    * discipline): (true, predicted, count). The diagonal mass is the
    * accuracy a pipeline tracks before trusting propagated labels. */
  def labelPropagationEval(e: DataFrame, labeledSixteenths: Int = 12,
      tau: Double = 0.3): DataFrame =
    labelPropagation(e, labeledSixteenths, tau)
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n_vecs"))

  /** Label propagation over the PERSISTED quantized IVF index — the
    * 100 TB path ([[labelPropPairsIvf]]):
    * emitted votes are a subset of the brute pairs with bit-identical
    * scores (KnnSpec), so predictions differ from brute only where the
    * probe pruned a voter — rows-only for that reason. Labels ride two
    * candidate-sized key equijoins (the index stores codes only). */
  def labelPropagationIvf(spark: SparkSession, e: DataFrame,
      tableName: String, path: String, labeledSixteenths: Int = 12,
      tau: Double = 0.3, nlist: Int = 10, buckets: Int = 8,
      nprobe: Int = 2): DataFrame = {
    labelPropArgs(labeledSixteenths, tau)
    voteRollup(labelPropPairsIvf(spark, e, tableName, path,
      labeledSixteenths, tau, nlist, buckets, nprobe))
  }

  /** The IVF-probe vote pairs: the labeled slice written as the int8
    * index, the rest of `e` probing it ([[labelPropProbePairs]]). */
  private[graft] def labelPropPairsIvf(spark: SparkSession, e: DataFrame,
      tableName: String, path: String, labeledSixteenths: Int,
      tau: Double, nlist: Int, buckets: Int, nprobe: Int): DataFrame = {
    val (coarse, snap) = buildIvf(e.filter(isLabeled(labeledSixteenths)),
      tableName, path, nlist, buckets)((_, _) => (Int8Codec, Nil))
    labelPropProbePairs(snap.table(tableName), coarse, e, e,
      labeledSixteenths, tau, nprobe)
  }

  /** Hard-TRIPLET MINING over the quantized embedding space — the
    * contrastive-curation pass: for each anchor in a deterministic
    * `vec_id % anchorMod` slice, the SAME-label pool vector with the
    * LOWEST cosine and the DIFFERENT-label pool vector with the HIGHEST,
    * their margin, and `is_hard` (margin below `marginE4` — the
    * active-loss rows a curriculum trains on). The pool is the
    * NON-anchor complement, so self-exclusion falls out for free.
    *
    * Oracle-EXACT end to end: scoring is [[quantizedE4]], kept as the
    * raw e4 integer; argmin/argmax are struct-min aggregates on
    * (score_e4, cand_id) / (−score_e4, cand_id) — total integer orders
    * with deterministic ties, never a window (the DuckDB oracle runs the
    * row_number formulation: two-formulation cross-check) — and
    * membership is integer (an anchor missing a same-label or a
    * different-label pool vector emits no row). The margin is a
    * difference of exact integers, so `is_hard` never sits one ulp from
    * the threshold. This brute anchors×pool join is the sanctioned
    * baseline (anchors are a bounded sample); the 100 TB path is
    * [[tripletMineIvf]]. */
  def tripletMine(e: DataFrame, anchorMod: Long = 25L,
      marginE4: Long = 500L): DataFrame = {
    require(anchorMod >= 2L, s"anchorMod must be >= 2, got $anchorMod")
    val qe = quantize(e).filter(col("qnrm") > lit(0.0))
      .select(col("vec_id"), col("label"), col("qv"), col("qnrm"))
    val isAnchor = col("vec_id") % lit(anchorMod) === lit(0L)
    val a = qe.filter(isAnchor)
      .select(col("vec_id").as("anchor_id"),
        col("label").as("anchor_label"),
        col("qv").as("aqv"), col("qnrm").as("anrm"))
    val pool = qe.filter(!isAnchor)
    val scored = a.join(pool.as("c"), col("anchor_id") =!= col("c.vec_id"))
      .select(col("anchor_id"), col("anchor_label"),
        col("c.vec_id").as("cand_id"),
        (col("c.label") === col("anchor_label")).as("same"),
        quantizedE4(col("aqv"), col("c.qv"), col("anrm"), col("c.qnrm"))
          .as("score_e4"))
    tripletRollup(scored, marginE4)
  }

  /** Triplet mining over the PERSISTED quantized IVF index: the
    * non-anchor pool is written as the int8 index and the anchors probe
    * it ([[tripletProbe]]). With nprobe = nlist the output is
    * row-identical to [[tripletMine]] (KnnSpec asserts it); with a
    * pruned probe the mined positive can only be ≥ and the negative ≤
    * the brute choice in score. Rows-only. */
  def tripletMineIvf(spark: SparkSession, e: DataFrame,
      tableName: String, path: String, anchorMod: Long = 25L,
      marginE4: Long = 500L, nlist: Int = 10, buckets: Int = 8,
      nprobe: Int = 2): DataFrame = {
    require(anchorMod >= 2L, s"anchorMod must be >= 2, got $anchorMod")
    val isAnchor = col("vec_id") % lit(anchorMod) === lit(0L)
    val centroids = writeIvfIndexQuantized(e.filter(!isAnchor), tableName,
      path, nlist, buckets)
    tripletProbe(spark, tableName, centroids,
      e.select(col("vec_id"), col("label")), e.filter(isAnchor),
      marginE4, nprobe)
  }

  /** The probe-only half of [[tripletMineIvf]] — mine triplets for a
    * QUERY batch against an ALREADY-BUILT int8 index: probe lists from
    * [[Int8Codec]], scores as [[quantizedE4]], candidate labels through
    * one thin key equijoin, the SAME [[tripletRollup]]. The live miner
    * ([[graft.streaming.Streaming]]'s triplet probe) replays it per
    * micro-batch — each anchor's triplet is a pure function of its own
    * row against the index, so per-batch semantics are exact. */
  def tripletProbe(spark: SparkSession, tableName: String,
      centroids: DataFrame, labels: DataFrame, queries: DataFrame,
      marginE4: Long = 500L, nprobe: Int = 2): DataFrame = {
    val scored = Int8Codec.probes(queries, CentroidModel.of(centroids),
        nprobe, Seq(col("label").as("anchor_label")))
      .as("q")
      .join(Int8Codec.indexSide(Staged.table(spark, tableName)).as("c"),
        Seq("c_id"))
      .select(col("query_id").as("anchor_id"), col("anchor_label"),
        col("c.vec_id").as("cand_id"),
        quantizedE4(col("q.qv"), col("c.qv"), col("q.qnrm"), col("c.qnrm"))
          .as("score_e4"))
      .join(labels.select(col("vec_id").as("cand_id"),
        col("label").as("cand_label")), Seq("cand_id"))
      .select(col("anchor_id"), col("anchor_label"), col("cand_id"),
        (col("cand_label") === col("anchor_label")).as("same"),
        col("score_e4"))
    tripletRollup(scored, marginE4)
  }

  /** Shared (anchor, cand, same, score_e4) → triplet rollup for
    * [[tripletMine]] and [[tripletMineIvf]] — ONE definition so the
    * argmin/argmax and membership semantics cannot drift between the
    * brute baseline and the IVF path. */
  private def tripletRollup(scored: DataFrame,
      marginE4: Long): DataFrame =
    scored.groupBy(col("anchor_id"), col("anchor_label"))
      .agg(
        sum(when(col("same"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("same"), 0L).otherwise(1L)).as("n_neg"),
        // hardest positive: min (score, id) over same-label candidates
        min(when(col("same"),
          struct(col("score_e4"), col("cand_id")))).as("pos_s"),
        // hardest negative: min (−score, id) = max score, tie → min id
        min(when(!col("same"),
          struct((-col("score_e4")).as("nscore_e4"), col("cand_id"))))
          .as("neg_s"))
      .filter(col("n_pos") > 0L && col("n_neg") > 0L)
      .select(col("anchor_id"), col("anchor_label"),
        col("n_pos"), col("n_neg"),
        col("pos_s.cand_id").as("pos_id"),
        col("pos_s.score_e4").as("pos_e4"),
        col("neg_s.cand_id").as("neg_id"),
        (-col("neg_s.nscore_e4")).as("neg_e4"))
      .withColumn("margin_e4", col("pos_e4") - col("neg_e4"))
      .withColumn("is_hard",
        when(col("margin_e4") < lit(marginE4), 1L).otherwise(0L))

  /** Per-label TRIPLET HEALTH rollup over [[tripletMine]] — the
    * sign-off view a contrastive-curation run reads (the
    * lsh_bucket_audit discipline): anchors mined, hard triplets and
    * their share (integer half-up milli — n_anchors ≥ 1 by
    * construction), and the exact margin sum / min / max per label. A
    * label whose margins collapse (negative sum, hard share near
    * 1000) is one whose classes the embedding space cannot separate —
    * the signal that gates training on propagated labels. All columns
    * are exact integers over the already-integer triplet rows; NO mean
    * column by design: margin sums can be negative, and integer `div`
    * truncates toward zero in Spark but floors in DuckDB — the
    * negative-division trap this repo avoids by emitting the sum and
    * count instead. */
  def tripletStats(e: DataFrame, anchorMod: Long = 25L,
      marginE4: Long = 500L): DataFrame =
    tripletMine(e, anchorMod, marginE4)
      .groupBy(col("anchor_label"))
      .agg(
        count(lit(1)).as("n_anchors"),
        sum(col("is_hard")).as("n_hard"),
        sum(col("margin_e4")).as("margin_sum_e4"),
        min(col("margin_e4")).as("margin_min_e4"),
        max(col("margin_e4")).as("margin_max_e4"))
      .withColumn("hard_milli",
        expr("(2 * n_hard * 1000 + n_anchors) div (2 * n_anchors)"))

  /** Per-label embedding DRIFT monitor in the quantized space — the
    * embedding dual of `quality_drift`: for each label (source /
    * crawl-batch id), the cosine between the label's int8-centroid-sum
    * vector and the corpus's, flagging batches whose embedding
    * distribution points away from the corpus. Integer-exact end to
    * end, which is what makes it oracle-checkable: codes come from
    * [[quantize]] (floor-half-up, engine-identical), the per-(label,
    * dim) and per-dim sums are exact integer aggregates (zero vectors
    * contribute 0 — no special-casing), the corpus sums roll up from
    * the label sums (ONE pass over the exploded codes, never a second
    * corpus scan), degenerate all-zero centroids are fenced by the
    * INTEGER predicates s2 > 0 / c2 > 0 (0/0 = NaN orders differently
    * across engines), and the displayed cosine is ONE floor-half-up
    * double expression over exact integers. Shuffles: the exploded
    * (label, dim) agg — 64·|labels| groups — plus a broadcast-sized
    * dim join; nothing pairwise. Long-overflow bound: the largest
    * aggregate is per-label c2 = Σ_pos c_pos² with |c_pos| ≤ 127·n, so
    * c2 ≤ 64·(127·n)² — under 2⁶³ only for n ≲ 3·10⁶ vectors per
    * monitored corpus. Past that Spark's long sum WRAPS silently while
    * the DuckDB oracle sums in HUGEINT then casts (a gate mismatch at
    * best, a silent wrong answer in rows-only use) — the monitor is a
    * per-crawl-batch pass by design; scope the input, not the math, at
    * 100 TB — and since r14 the bound is ENFORCED, not documented: the
    * plan carries [[momentGuard]] on the exact vector count, so an
    * over-bound batch raises a named error instead of wrapping. */
  def embDriftQuantized(e: DataFrame,
      maxVecs: Long = MaxMomentVecs): DataFrame = {
    val codes = quantize(e)
      .select(col("label"), posexplode(col("qv")).as(Seq("pos", "code")))
    val byLabel = codes.groupBy(col("label"), col("pos"))
      .agg(sum(col("code").cast("long")).as("s"),
        count(lit(1)).as("n_vecs"))
      // dims·|labels| rows feeding TWO consumers (the corpus rollup and
      // the scoring join) — materialize once or the corpus is scanned
      // and re-quantized twice (PlanSpec pins zero parquet scans in the
      // final plan)
      .localCheckpoint(true)
    // n_tot (exact corpus count — counts cannot wrap) rides along so the
    // c2 bound can be CHECKED where c2 is consumed: c2 ≤ 64·(127·n_tot)²
    // and every other moment is smaller, so one guard on n_tot covers
    // dot, s2 and c2 alike
    val corpus = byLabel.groupBy(col("pos"))
      .agg(sum(col("s")).as("c"), sum(col("n_vecs")).as("n_tot"))
    byLabel.join(broadcast(corpus), "pos")
      .groupBy(col("label"))
      .agg(max(col("n_vecs")).as("n_vecs"), // identical across dims
        max(col("n_tot")).as("n_tot"),      // identical across dims
        sum(col("s") * col("c")).as("dot"),
        sum(col("s") * col("s")).as("s2"),
        sum(col("c") * col("c")).as("c2"))
      .filter(col("s2") > lit(0L) && col("c2") > lit(0L))
      .select(col("label").cast("long").as("label"),
        (col("n_vecs") + momentGuard(col("n_tot"), maxVecs)).as("n_vecs"),
        (momentE4(col("s2"), col("c2")).cast("double") / lit(10000.0))
          .as("centroid_cos"))
  }

  /** Exact integer GRAM MATRIX over the quantized code space (r18) —
    * the raw material of embedding-geometry health checks: one row per
    * dimension pair (di ≤ dj) with g = Σ_vecs qv[di]·qv[dj], an exact
    * BIGINT (|code| ≤ 127 ⇒ |term| ≤ 16129, so the sum wraps only past
    * n ≈ 5.7·10¹⁴ vectors — enforced in-plan by the same momentGuard
    * posture as the drift family, folded into the kept n_vecs column).
    * The diagonal is the per-dim second moment ([[embDimStats]] shows
    * means/dead dims; this adds the CROSS structure), and the
    * off-diagonal mass is what [[embAnisotropy]] eigen-analyzes.
    *
    * Scale: each vector expands to its dim·(dim+1)/2 = 2080 upper-
    * triangle terms (a FIXED multiplier — linear in corpus size), and
    * the agg map-side combines onto 2080 keys per partition, so one
    * row per (pair × partition) crosses the wire. Degenerate vectors
    * (null/empty/zero/NaN/Inf) quantize to zero codes or empty arrays
    * and are filtered by the size guard — no evidence, no term. */
  def embGram(e: DataFrame, maxVecs: Long = MaxGramVecs): DataFrame =
    quantize(e)
      .filter(size(col("qv")) > 0)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(qv) - 1), i ->
             transform(sequence(i, size(qv) - 1), j ->
               struct(i AS di, j AS dj,
                 CAST(qv[i] AS BIGINT) * CAST(qv[j] AS BIGINT) AS t))))"""))
        .as("p"))
      .select(col("p.di").cast("long").as("di"),
        col("p.dj").cast("long").as("dj"), col("p.t").as("t"))
      .groupBy(col("di"), col("dj"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("t")).as("g"))
      .select(col("di"), col("dj"),
        (col("n_vecs") + momentGuard(col("n_vecs"), maxVecs)).as("n_vecs"),
        col("g"))

  /** Gram-sum overflow ceiling: Σ |code_i·code_j| ≤ 127²·n < 2⁶³ ⇒
    * n < 5.7·10¹⁴ vectors — effectively unreachable, enforced anyway
    * (the momentGuard doctrine: no implicit bound). */
  private[graft] val MaxGramVecs = 500000000000000L

  /** Embedding ANISOTROPY audit (r18) — the collapse detector of
    * published embedding-health work (anisotropic embedding spaces
    * concentrate in a narrow cone; retrieval and clustering quality
    * degrade long before any per-dim stat moves): the dominant
    * eigenvalue share of the quantized Gram matrix, computed
    * DETERMINISTICALLY from [[embGram]]'s exact integer table —
    * power iteration with a fixed NON-SYMMETRIC start (v(i) = 1 + i;
    * an all-ones start is orthogonal to the dominant eigenvector of
    * any anti-correlated rank-1 Gram such as [[1,−1],[−1,1]], which
    * would report a fully collapsed space as share 0) plus a
    * rotating-basis restart whenever an iterate lands exactly in the
    * null space, and a fixed 100 rounds over a dim×dim matrix that is
    * BOUNDED (dim ≤ 4096 enforced
    * below; 64 here), so the driver-side step is O(dim²) arithmetic on
    * exact inputs, reproducible across runs and partitionings.
    * `top_eig_share` ≈ 1/dim is isotropic health; → 1 is collapse.
    * Rows-only (eigendecomposition is not ANSI-expressible; the spec
    * plants a rank-1 corpus → share ≈ 1 and an isotropic one → share
    * ≈ 1/dim, and cross-checks the trace against the Gram diagonal
    * exactly).
    *
    * Past dim = 4096 the driver matrix would be the bottleneck, so the
    * dim fence SWITCHES to [[embAnisotropyDistributed]] instead of
    * raising (r14 verdict #6: the fence is a preference, not a
    * ceiling) — same start vector, same round count, each round one
    * broadcast-join + hash agg over the dim²-bounded edge table. */
  def embAnisotropy(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    // the count-then-collect bound (the boundedCollect posture): the
    // Gram table is dim·(dim+1)/2 rows by construction — a mis-shaped
    // input switches to the engine path instead of OOMing the driver
    val gram = embGram(e).localCheckpoint(true) // 2 consumers below
    val nRows = gram.count()
    if (nRows > 4096L * 4097L / 2L)
      return anisotropyDistributed(gram)
    val rows = gram.collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(3)))
    if (rows.isEmpty) {
      Seq.empty[(Long, Long, Double, Double)]
        .toDF("dim", "n_vecs", "top_eig_share", "trace")
    } else {
      val dim = rows.map(_._2).max + 1
      val m = Array.ofDim[Double](dim, dim)
      rows.foreach { case (i, j, g) => m(i)(j) = g.toDouble
        m(j)(i) = g.toDouble }
      val trace = (0 until dim).map(i => m(i)(i)).sum
      var v = Array.tabulate(dim)(i => 1.0 + i)
      var lambda = 0.0
      var restart = 0
      for (_ <- 1 to 100) {
        val w = Array.tabulate(dim)(i =>
          (0 until dim).map(j => m(i)(j) * v(j)).sum)
        val nrm = math.sqrt(w.map(x => x * x).sum)
        if (nrm > 0.0) {
          v = w.map(_ / nrm)
          lambda = (0 until dim).map(i =>
            (0 until dim).map(j => v(i) * m(i)(j) * v(j)).sum).sum
        } else {
          // v landed exactly in the null space: restart from the next
          // basis vector (deterministic; cycles through all of them,
          // so any non-zero matrix is eventually escaped)
          v = Array.tabulate(dim)(i => if (i == restart % dim) 1.0 else 0.0)
          restart += 1
        }
      }
      val nVecs = gram.filter(col("di") === 0L && col("dj") === 0L)
        .collect().headOption.map(_.getLong(2)).getOrElse(0L)
      Seq((dim.toLong, nVecs,
        if (trace > 0.0) lambda / trace else 0.0, trace))
        .toDF("dim", "n_vecs", "top_eig_share", "trace")
    }
  }

  /** Engine-side dominant-eigenshare — the distributed face of
    * [[embAnisotropy]] past the dim ≤ 4096 fence (r14 verdict #6): the
    * SAME power iteration (v(i) = 1 + i start, 100 rounds, rotating-
    * basis null-space restart) where each round's matrix-vector
    * product is ONE broadcast-join + hash agg over the symmetric Gram
    * EDGE TABLE (≤ dim² rows, corpus-independent) and the only
    * driver traffic per round is the scalar norm (the bpeTrain O(1)
    * control-decision discipline). The dim-sized iterate is eagerly
    * checkpointed every round (the kmeans localCheckpoint discipline —
    * without it, PLANNING the 100-round lineage is the bottleneck).
    * Engine hash-agg summation order differs from the driver loop's
    * ascending-j order, so shares agree to FP tolerance, not bit-exact
    * — the operator is rows-only either way; KnnSpec proves
    * engine ≡ driver eigenshare on the planted rank-1 / isotropic /
    * anti-correlated corpora. */
  def embAnisotropyDistributed(e: DataFrame): DataFrame =
    anisotropyDistributed(embGram(e).localCheckpoint(true))

  private def anisotropyDistributed(gram: DataFrame): DataFrame = {
    val spark = gram.sparkSession
    import spark.implicits._
    val scalars = gram.agg(
      max(col("dj")).as("mx"),
      sum(when(col("di") === col("dj"), col("g"))
        .otherwise(lit(0L))).as("trace"),
      max(when(col("di") === 0L && col("dj") === 0L, col("n_vecs")))
        .as("n_vecs")).collect().head
    if (scalars.isNullAt(0)) {
      return Seq.empty[(Long, Long, Double, Double)]
        .toDF("dim", "n_vecs", "top_eig_share", "trace")
    }
    val dim = scalars.getLong(0) + 1L
    val trace = scalars.getLong(1).toDouble
    val nVecs = if (scalars.isNullAt(2)) 0L else scalars.getLong(2)
    // symmetric edge list (both triangles; the diagonal once)
    val edges = gram.select(col("di").as("i"), col("dj").as("j"),
        col("g").cast("double").as("g"))
      .union(gram.filter(col("di") =!= col("dj"))
        .select(col("dj").as("i"), col("di").as("j"),
          col("g").cast("double").as("g")))
      .localCheckpoint(true) // consumed twice per round, 100 rounds
    var v = spark.range(dim)
      .select(col("id").as("j"), (col("id") + 1L).cast("double").as("x"))
      .localCheckpoint(true)
    var restart = 0L
    for (_ <- 1 to 100) {
      // w = M·v: one broadcast equijoin on j + one hash agg to dim rows
      val w = edges.join(broadcast(v), Seq("j"))
        .groupBy(col("i"))
        .agg(sum(col("g") * col("x")).as("wx"))
      val nrm2 = w.agg(sum(col("wx") * col("wx"))).collect()
        .head.getDouble(0)
      if (nrm2 > 0.0) {
        val nrm = math.sqrt(nrm2)
        v = w.select(col("i").as("j"), (col("wx") / lit(nrm)).as("x"))
          .localCheckpoint(true)
      } else {
        v = spark.range(dim)
          .select(col("id").as("j"),
            when(col("id") === lit(restart % dim), lit(1.0))
              .otherwise(lit(0.0)).as("x"))
          .localCheckpoint(true)
        restart += 1L
      }
    }
    // λ = vᵀ·M·v over the final normalized iterate
    val lambda = edges
      .join(broadcast(v), Seq("j"))
      .join(broadcast(v.select(col("j").as("i"), col("x").as("xi"))),
        Seq("i"))
      .agg(sum(col("g") * col("x") * col("xi"))).collect()
      .head.getDouble(0)
    Seq((dim, nVecs, if (trace > 0.0) lambda / trace else 0.0, trace))
      .toDF("dim", "n_vecs", "top_eig_share", "trace")
  }

  /** The documented long-overflow ceiling of the integer moment family
    * (emb_drift and its four siblings): with dims = 64 and |code| ≤ 127,
    * the largest aggregate is Σ_pos s² ≤ 64·(127·n)², which stays under
    * 2⁶³ only for n ≲ 3·10⁶ vectors per monitored scope. */
  private[graft] val MaxMomentVecs = 3000000L

  /** The ENFORCED face of [[MaxMomentVecs]] (r13 verdict: a bound that
    * lives in a comment wraps silently; one that lives in the plan fails
    * loudly): evaluates to an integer 0 while `n` is within bound and
    * RAISES past it. Callers fold it into a kept output column
    * (`x + momentGuard(...)`) so column pruning can never drop the
    * check; adding integer 0 leaves the column's value — and with it
    * every oracle — untouched. `n` must be an exact COUNT (counts cannot
    * wrap), never a sum that might already have overflowed. */
  private def momentGuard(n: Column, maxVecs: Long): Column =
    coalesce(
      assert_true(n <= lit(maxVecs),
        concat(lit("embedding-moment overflow fence: "), n.cast("string"),
          lit(s" vectors in one monitored scope exceed $maxVecs — the " +
            "exact BIGINT moment sums (up to 64·(127·n)²) would wrap " +
            "silently; scope the input batch (the emb_drift contract) " +
            "instead of widening the math"))).cast("long"),
      lit(0L))

  /** Per-vector centroid AFFINITY in the quantized space — the
    * prototype-affinity signal of published data-pruning work (rank
    * examples by alignment with their class/domain prototype; prune or
    * re-queue the tail): for every vector, the cosine between its int8
    * codes and its label's centroid CODE SUM. Integer-exact end to end
    * (the emb_drift_quantized contract): codes from [[quantize]],
    * per-(label, dim) centroid sums and per-vector dots are exact
    * BIGINT aggregates, degenerate masses are fenced by INTEGER
    * predicates (q2 > 0 per vector, s2 > 0 per label), and the
    * displayed score is ONE floor-half-up double expression — so the
    * whole per-vector diagnostic sits under the hash gate, and the raw
    * integer `dot` rides along as the membership key downstream flags
    * threshold on. Shuffles: one (label, dim)-group agg, one broadcast
    * centroid join re-agged per vector (n·dims partials — the
    * emb_drift shape), nothing pairwise. Same per-label long-overflow
    * bound as emb_drift — ENFORCED per label by [[momentGuard]] on the
    * exact count riding the centroid sums. */
  def embCentroidAffinity(e: DataFrame,
      maxVecs: Long = MaxMomentVecs): DataFrame = {
    val (codes, cent, snrm) = centroidMoments(e)
    codes.join(broadcast(cent.select("label", "pos", "s")),
        Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"), col("q2"))
      .agg(sum(col("code").cast("long") * col("s")).as("dot"))
      .join(broadcast(snrm), "label")
      .select(col("vec_id"), col("label"),
        (col("dot") + momentGuard(col("nl"), maxVecs)).as("dot"),
        (momentE4(col("q2"), col("s2")).cast("double") / lit(10000.0))
          .as("score"))
  }

  /** Nearest-centroid CONFUSION matrix — the centroid-classifier
    * evaluation of a labeling ([[embClusterQuality]] says WHETHER labels
    * collapse; this says WHICH labels absorb each other's mass): every
    * vector is assigned to its nearest centroid over ALL labels (own
    * included) by the quantized integer cosine, and the (true, assigned)
    * counts are the confusion matrix — the off-diagonal rows are the
    * label-merge/relabel queue. Same integer contract as the affinity
    * chain: exact BIGINT all-pairs dots, score as the floor-half-up e4
    * INTEGER, argmax = max_by over (score_e4, −cand) with the tie
    * toward the smaller label id (the voteRollup total-order
    * discipline; the oracle formulates it as a window).
    *
    * Scale: the all-centroid scoring is n·dims·|labels| partials — the
    * brute eval pass, priced for eval batches (scope the input); the
    * centroid side is broadcast (labels×dims, corpus-independent).
    * Same per-label long-overflow bound as emb_drift — ENFORCED per
    * candidate label by [[momentGuard]] folded into the integer rank
    * key. */
  def centroidConfusion(e: DataFrame,
      maxVecs: Long = MaxMomentVecs): DataFrame = {
    val (codes, cent, snrm) = centroidMoments(e)
    val dots = codes
      .join(broadcast(cent.select(col("label").as("cand"), col("pos"),
        col("s"))), "pos")
      .groupBy(col("vec_id"), col("label"), col("q2"), col("cand"))
      .agg(sum(col("code").cast("long") * col("s")).as("dot"))
    dots
      .join(broadcast(snrm.select(col("label").as("cand"), col("s2"),
        col("nl"))), "cand")
      .withColumn("score_e4",
        momentE4(col("q2"), col("s2")) + momentGuard(col("nl"), maxVecs))
      .groupBy(col("vec_id"), col("label"))
      .agg(max_by(col("cand"),
        struct(col("score_e4"), (-col("cand")).as("neg"))).as("assigned"))
      .groupBy(col("label"), col("assigned"))
      .agg(count(lit(1)).as("n"))
      .select(col("label").cast("long").as("label"),
        col("assigned").cast("long").as("assigned"), col("n"))
  }

  /** Per-DIMENSION code moments — the dead/collapsed-feature detector
    * of an embedding pipeline (a dimension whose codes never vary
    * carries zero information: an upstream projection bug, a clipped
    * activation, or a stale encoder — any of which silently wastes
    * index bytes and flattens cosines): for every position, the exact
    * BIGINT count/sum/sum-of-squares over the int8 codes of all
    * positive-norm vectors (the [[explodedCodes]] slice — one
    * definition with the centroid machinery), plus the `dead` flag as
    * the INTEGER zero-variance predicate n·Σc² − (Σc)² == 0 (never a
    * float compare; catches constants at any level, not just zeros).
    * One (dim)-group hash agg — dims rows out; same per-dim
    * long-overflow bound as emb_drift (conservative here — the n·Σc²
    * predicate is the first to wrap, at n ≈ 2·10⁷), ENFORCED by
    * [[momentGuard]] on the exact per-dim count. */
  def embDimStats(e: DataFrame,
      maxVecs: Long = MaxMomentVecs): DataFrame =
    explodedCodes(e)
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("code").cast("long")).as("s"),
        sum(col("code").cast("long") * col("code").cast("long")).as("s2"))
      .withColumn("dead",
        (col("n") * col("s2") - col("s") * col("s") === lit(0L))
          .cast("long"))
      .select(col("pos").cast("long").as("pos"),
        (col("n") + momentGuard(col("n"), maxVecs)).as("n"), col("s"),
        col("s2"), col("dead"))

  /** The moment family's integer cosine of the exact BIGINT `dot`
    * against squared norms `a2`, `b2`: floor(dot · 10⁴ / (√a2·√b2) +
    * 0.5) — ONE floor-half-up double expression over exact integers. */
  private def momentE4(a2: Column, b2: Column): Column =
    floor(col("dot").cast("double") * lit(10000.0) /
      (sqrt(a2.cast("double")) * sqrt(b2.cast("double"))) + lit(0.5))

  /** The shared prefix of the centroid diagnostics: the positive-norm
    * codes and their per-label centroid sums, each materialized once
    * (both feed more than one consumer), and the per-label squared
    * centroid norms `s2` (> 0) with the guard count `nl`. */
  private def centroidMoments(
      e: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val codes = explodedCodes(e).localCheckpoint(true)
    val cent = centroidSumsCounted(codes).localCheckpoint(true)
    (codes, cent, cent.groupBy(col("label"))
      .agg(sum(col("s") * col("s")).as("s2"), max(col("nl")).as("nl"))
      .filter(col("s2") > lit(0L)))
  }

  /** Exploded positive-norm codes — one definition feeding the affinity
    * operator and the frozen [[centroidSums]] artifact. */
  private def explodedCodes(e: DataFrame): DataFrame =
    quantize(e)
      .withColumn("q2",
        graft.functions.ByteDot(col("qv"), col("qv")).cast("long"))
      .filter(col("q2") > lit(0L))
      .select(col("vec_id"), col("label"), col("q2"),
        posexplode(col("qv")).as(Seq("pos", "code")))

  private def centroidSumsFrom(codes: DataFrame): DataFrame =
    centroidSumsCounted(codes).select("label", "pos", "s")

  /** [[centroidSumsFrom]] plus the exact per-label vector count `nl` —
    * the value [[momentGuard]] checks (a count cannot wrap, a sum that
    * already overflowed can). `nl` is identical across a label's dims:
    * every positive-norm vector contributes one row per position. */
  private def centroidSumsCounted(codes: DataFrame): DataFrame =
    codes.groupBy(col("label"), col("pos"))
      .agg(sum(col("code").cast("long")).as("s"),
        count(lit(1)).as("nl"))

  /** The frozen per-label centroid code sums
    * ([[graft.streaming.Streaming.embOutlierStream]]'s serving
    * artifact): labels × dims exact BIGINT rows — bounded by the label
    * set at ANY corpus size, the anomalyStream broadcast-baseline
    * posture. */
  def centroidSums(e: DataFrame): DataFrame =
    centroidSumsFrom(explodedCodes(e))

  /** Stream-static outlier probe against the PERSISTED centroid table
    * — the batch scorer [[graft.streaming.Streaming.runEmbOutlierProbe]]
    * replays per micro-batch (the tripletProbe posture): the probe
    * batch's positive-norm codes meet the frozen (label, pos, s) sums
    * in a broadcast equijoin, per-vector dots re-agg exactly, and the
    * dot < 0 INTEGER predicate flags the away-pointing tail — the same
    * (vec_id, label, dot, score) rows as [[embOutliers]] restricted to
    * the frozen centroids, with NO driver-resident artifact on the
    * serving path. Unknown labels and zero/degenerate norms drop via
    * the same integer fences as the closure variant (inner joins +
    * the q2/s2 > 0 filters). The frozen s2 rollup runs under ANSI, so
    * an artifact built from an over-bound batch raises instead of
    * wrapping (the momentGuard posture; the closure variant's
    * addExact dual). */
  def embOutlierProbe(spark: SparkSession, tableName: String,
      e: DataFrame): DataFrame = {
    val cent = graft.sources.Staged.table(spark, tableName)
      .select(col("label"), col("pos"), col("s"))
    // no checkpoint: the artifact is a labels×dims parquet scan (tiny),
    // and an eager checkpoint PER MICRO-BATCH would accumulate blocks
    // over a long-running stream (the release() lesson, inverted)
    val snrm = cent.groupBy(col("label"))
      .agg(sum(col("s") * col("s")).as("s2"),
        (max(col("pos")) + lit(1)).cast("long").as("cent_dims"))
      .filter(col("s2") > lit(0L))
    // LEFT join + matched-position accounting replicates the closure
    // variant's dims check exactly: a vector with positions the
    // centroid lacks (n_matched < n_dims) or missing positions the
    // centroid has (n_matched < cent_dims) drops silently, as does an
    // unknown label (inner snrm join)
    explodedCodes(e)
      .join(broadcast(cent), Seq("label", "pos"), "left")
      .groupBy(col("vec_id"), col("label"), col("q2"))
      .agg(sum(col("code").cast("long") * coalesce(col("s"), lit(0L)))
          .as("dot"),
        count(col("s")).as("n_matched"), count(lit(1)).as("n_dims"))
      .join(broadcast(snrm), "label")
      .filter(col("n_matched") === col("n_dims") &&
        col("n_matched") === col("cent_dims"))
      .filter(col("dot") < lit(0L))
      .select(col("vec_id"), col("label"), col("dot"),
        (momentE4(col("q2"), col("s2")).cast("double") / lit(10000.0))
          .as("score"))
  }

  /** The flagged tail of [[embCentroidAffinity]]: vectors pointing AWAY
    * from their own label's centroid (dot < 0 — an INTEGER membership
    * predicate, no float compare anywhere) — the likely-mislabeled /
    * out-of-distribution queue a labeling pipeline re-routes to review
    * before the label feeds sampling or filtering decisions. */
  def embOutliers(e: DataFrame,
      maxVecs: Long = MaxMomentVecs): DataFrame =
    embCentroidAffinity(e, maxVecs).filter(col("dot") < lit(0L))

  /** Per-label CLUSTER-QUALITY audit — the silhouette-shaped rollup of
    * [[embCentroidAffinity]]: for every label, its COHESION (mean
    * per-vector affinity to the own-label centroid) next to its
    * SEPARATION (cosine to the nearest OTHER centroid, with that
    * label's id) — the one-row-per-label dashboard that says whether a
    * labeling/clustering is worth feeding to sampling or filtering
    * decisions (cohesion ≈ separation means two labels collapsed; a
    * cohesion drop flags label noise). Rides the quantized integer
    * contract end to end: per-vector scores are kept as the INTEGER e4
    * floor-half-up value so the label mean is an exact BIGINT sum ÷ n
    * (never a float sum — summation order can't drift engines);
    * centroid-pair cosines come from exact Σ s_a·s_b over the
    * labels×dims sums; nearest = max_by over (cos_e4, −label) — an
    * integer argmax with a deterministic tie toward the smaller label
    * id, formulated as a window in the oracle (two-formulation
    * strengthening, the LabelPropSql precedent).
    *
    * Scale: per-vector work is the affinity chain (one (label,dim) agg
    * + a broadcast centroid join); everything pairwise happens on the
    * labels×dims table — |labels|²·dims products, corpus-independent.
    * Same per-label long-overflow bound as emb_drift (n ≲ 3·10⁶
    * vectors per label per audited batch; scope the input, not the
    * math, at 100 TB) — ENFORCED per label by [[momentGuard]] on the
    * exact count riding the centroid sums. */
  def embClusterQuality(e: DataFrame,
      maxVecs: Long = MaxMomentVecs): DataFrame = {
    val (codes, cent, snrm) = centroidMoments(e)
    val scoreE4 = codes
      .join(broadcast(cent.select("label", "pos", "s")), Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"), col("q2"))
      .agg(sum(col("code").cast("long") * col("s")).as("dot"))
      .join(broadcast(snrm), "label")
      .select(col("label"),
        (momentE4(col("q2"), col("s2")) + momentGuard(col("nl"), maxVecs))
          .as("score_e4"))
    val coh = scoreE4.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("score_e4")).as("sum_e4"))
    val sep = cent.as("a").join(cent.as("b"),
        col("a.pos") === col("b.pos") && col("a.label") =!= col("b.label"))
      .groupBy(col("a.label").as("label"), col("b.label").as("other_label"))
      .agg(sum(col("a.s") * col("b.s")).as("dot"))
      .join(snrm, "label")
      .join(broadcast(snrm.select(col("label").as("other_label"),
        col("s2").as("o2"))), "other_label")
      .withColumn("cos_e4", momentE4(col("s2"), col("o2")))
      .groupBy(col("label"))
      .agg(max_by(col("other_label"),
          struct(col("cos_e4"), (-col("other_label")).as("neg")))
          .as("nearest_label"),
        max(col("cos_e4")).as("sep_e4"))
    coh.join(sep, "label")
      .select(col("label").cast("long").as("label"), col("n_vecs"),
        (floor(col("sum_e4").cast("double") / col("n_vecs").cast("double")
          + lit(0.5)).cast("double") / lit(10000.0)).as("cohesion"),
        col("nearest_label").cast("long").as("nearest_label"),
        (col("sep_e4").cast("double") / lit(10000.0)).as("separation"))
  }

  /** Occupancy-safe random-hyperplane LSH search ([[LshBuckets]]):
    * adaptive plane count (planes = 0 → log₂(n/targetOccupancy), so
    * bucket occupancy — and with it per-query candidate cost AND the
    * shuffle's parallelism — stays constant as the corpus grows),
    * `tables` OR-combined hash tables to recover the recall the extra
    * planes cost, and a bucket-occupancy cap so a dense region can't
    * blow up one task. Queries meet the corpus in a (tbl, bucket, sub)
    * equijoin; candidates are deduped across tables before the one exact
    * cosine per pair. The per-plane work is the native HyperplaneBucket
    * kernel — weights derived executor-side from splitmix64(plane, dim),
    * one codegen'd pass per vector with no per-plane array allocation. */
  def lsh(e: DataFrame, queryPred: Column, k: Int,
      planes: Int = 0, tables: Int = 4, targetOccupancy: Long = 128L,
      maxOccupancy: Long = 4096L, n: Long = -1L): DataFrame = {
    // `n` = known corpus cardinality (metadata / LshBuckets.corpusSize):
    // skips the sizing count scan; -1 → unknown, count here (0 is a real
    // empty-corpus cardinality and is honored, not re-counted)
    val p = if (planes > 0) planes
      else LshBuckets.adaptivePlanes(
        if (n >= 0L) n else e.count(), targetOccupancy)
    val m = LshBuckets.members(e, p, tables, maxOccupancy)
    val qm = m.join(e.filter(queryPred).select(col("vec_id")), "vec_id")
      .withColumnRenamed("vec_id", "query_id")
    val cand = qm.as("q").join(m.as("c"),
        col("q.tbl") === col("c.tbl") &&
          col("q.bucket") === col("c.bucket") &&
          col("q.sub") === col("c.sub") &&
          col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cand
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm")), "query_id")
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("nv"),
        col("nrm").as("nnrm")), "neighbor_id")
      .withColumn("score",
        round(DotProduct(col("qv"), col("nv")) /
          (col("qnrm") * col("nnrm")), 4))
      .select(col("query_id"), col("neighbor_id"), col("score"))
    ranked(scored, k)
  }

  /** Every row of `df` (carrying `v`, `nrm`) assigned to its nearest
    * centroid, `c_id` appended — a per-row kernel, no Exchange. An empty
    * model assigns nothing (the rows vanish, as against an empty
    * centroid cross join). A duplicated `vec_id` keeps one assignment
    * per input row. */
  private[graft] def assignTo(df: DataFrame, model: CentroidModel): DataFrame =
    if (model.isEmpty)
      df.withColumn("c_id", lit(null).cast("long")).filter(lit(false))
    else
      df.withColumn("c_id",
        NearestCentroids.nearest(col("v"), col("nrm"), model))

  /** A one-group model as the `(c_id, cv)` centroid frame — a local
    * relation: reading it back runs no job. */
  private def centroidFrame(spark: SparkSession,
      model: CentroidModel): DataFrame = {
    val g = model.table.groups(0)
    val rows = g.ids.indices.map(i =>
      Row(g.ids(i), Option(g.vecs(i)).map(_.toSeq).orNull))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("c_id", LongType, nullable = false),
        StructField("cv", ArrayType(DoubleType)))))
  }

  /** Deterministic mini k-means (Lloyd): seeds are the k vectors with
    * smallest xxhash64(vec_id) (no driver-side randomness), then `iters`
    * assign/recompute rounds. Centroid ids are the seed hashes
    * themselves — distinct and orderable. The centroid table is k rows:
    * each round collects it, ships it once as a broadcast model, and
    * runs ONE aggregation ([[lloydRound]]) — the assignment is the
    * [[NearestCentroids]] kernel inside the grouping key and the mean
    * the [[VectorMean]] aggregate, so a round plans exactly one
    * Exchange. Clusters that lose every member vanish. The centroid
    * update is a distributed sum, order-dependent across partitionings
    * (KnnSpec pins it to the reference plan within 1e-9). Returns the
    * trained table as a local `(c_id, cv)` frame. */
  def kmeansCentroids(e: DataFrame, k: Int, iters: Int = 2): DataFrame =
    centroidFrame(e.sparkSession, kmeansModel(e, k, iters))

  private def kmeansModel(e: DataFrame, k: Int, iters: Int = 2): CentroidModel = {
    // (h, vec_id) tie-break for the same reason as the sampled training
    // draw: seed selection must stay deterministic even across a 64-bit
    // collision at the limit boundary (r17 ADVICE)
    var model = CentroidModel.of(e
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select(col("h").as("c_id"), col("v").as("cv")))
    (1 to iters).foreach { _ => model = CentroidModel.of(lloydRound(e, model)) }
    model
  }

  /** One Lloyd round over `e` (v, nrm) against `model`: the new
    * `(c_id, cv)` means of every non-empty cluster. */
  private[graft] def lloydRound(e: DataFrame, model: CentroidModel): DataFrame =
    e.groupBy(NearestCentroids.nearest(col("v"), col("nrm"), model).as("c_id"))
      .agg(VectorMean(col("v")).as("cv"))
      .filter(col("cv").isNotNull)

  /** Corpus clustering: assign every vector to its nearest trained
    * centroid and roll up per-cluster stats — the curation pass that
    * groups a corpus by embedding region (topic discovery, domain
    * balancing). Same kernel assignment as the IVF build, so it scales
    * identically. */
  def clusterStats(e: DataFrame, k: Int = 8): DataFrame = {
    val base = checkpointedBase(e)
    assignTo(base, kmeansModel(base, k))
      .groupBy(col("c_id"))
      .agg(
        count(lit(1)).as("n_vectors"),
        round(avg(col("nrm")), 4).as("avg_norm"))
  }

  /** Above this corpus size, [[assignSemanticClusters]] trains its
    * centroids on a bounded deterministic SAMPLE instead of the full
    * corpus (r16 verdict #5 — the standard large-scale k-means shape):
    * full-corpus Lloyd prices every round at n·k kernel ops, the
    * dominant term of the 50×-stress semantic-family wall, while
    * cluster-BLOCKING quality only needs enough sample mass per
    * centroid — [[SampleMembersPerCentroid]] members each — because
    * the occupancy cap + hyperplane sub-split + audit row already own
    * balance pathology. Below the switch the exact full-corpus rounds
    * run unchanged, so every locally-benchable scale (sf0.1 bench,
    * 1×/20× stress) keeps its committed behavior bit-for-bit — the
    * atScaleVerify posture, honoring the r11 dead-end lesson (never
    * let an at-scale shape leak into the measured small-scale path
    * without a fresh-session A/B). */
  private[graft] val SampleTrainSwitch = 65536L
  private[graft] val SampleMembersPerCentroid = 16L

  /** Nearest-centroid assignment of the whole corpus for the semantic
    * paths: k = ~n/targetClusterSize seeded-k-means clusters. Returns the
    * eagerly-materialized (vec_id, v, nrm, c_id) table — it feeds both
    * pair sides, the occupancy agg, and the final join. */
  private[similarity] def assignSemanticClusters(e: DataFrame,
      targetClusterSize: Long, n: Long,
      trainSwitch: Long = SampleTrainSwitch): DataFrame = {
    val base = checkpointedBase(e)
    val nn = if (n >= 0L) n else base.count()
    // clamp BEFORE the Long→Int narrowing: at the 100 TB design point
    // nn/targetClusterSize can exceed Int.MaxValue and a raw .toInt
    // would wrap negative (limit(k) with k < 0 throws)
    val k = math.min(Int.MaxValue.toLong,
      math.max(2L, nn / math.max(targetClusterSize, 1L))).toInt
    // sample-trained centroids past the switch: a deterministic
    // xxhash64-ordered bottom-s draw (the kmeansCentroids seeding
    // discipline — salted so the training sample is independent of the
    // seeding order), s = max(switch, membersPerCentroid · k) clamped
    // to the corpus; the Lloyd rounds then cost s·k instead of n·k
    // while the one full-corpus assignment pass below stays exact
    val trainSet =
      if (nn <= trainSwitch) base
      else {
        val s = math.min(nn, math.min(Int.MaxValue.toLong,
          math.max(trainSwitch, SampleMembersPerCentroid * k))).toInt
        // (sh, vec_id) tie-break: a 64-bit hash collision straddling the
        // limit boundary is expected at billion-vector scale (birthday
        // bound) and an untied orderBy would make the "deterministic"
        // sample run-dependent there (r17 ADVICE)
        base.withColumn("sh", xxhash64(col("vec_id"), lit("ktrain")))
          .orderBy(col("sh"), col("vec_id")).limit(s).drop("sh")
          .localCheckpoint(true)
      }
    assignTo(base, kmeansModel(trainSet, k))
      .select(col("vec_id"), col("v"), col("nrm"), col("c_id"))
      .localCheckpoint(true)
  }

  /** Occupancy-capped (vec_id, v, nrm, c_id, sub) pair-group members
    * (the LshBuckets posture applied to k-means clusters): clusters at or
    * under `maxOccupancy` keep sub = 0; over-cap clusters — k-means gives
    * NO balance guarantee, and a dense semantic region (exactly what
    * semantic dedup exists for) can concentrate into one giant cluster —
    * are re-split by `subPlanes` fresh hyperplanes into sub ∈
    * [1, 2^subPlanes]; sub-groups still over the cap are dropped (a
    * pathological near-identical mass, exact embedding dedup's job).
    * Every downstream pair join keys on (c_id, sub), so the worst-case
    * per-task pair count is maxOccupancy²/2 BY CONSTRUCTION, not in
    * expectation. Drops are audited ([[semanticClusterAudit]]). */
  private[similarity] def cappedClusterMembers(assigned: DataFrame,
      maxOccupancy: Long, subPlanes: Int): DataFrame = {
    import graft.functions.HyperplaneBucket
    val small = assigned.groupBy(col("c_id"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxOccupancy)
      .select("c_id")
    val keep = assigned.join(small, Seq("c_id"), "left_semi")
      .withColumn("sub", lit(0L))
    val refined = assigned.join(small, Seq("c_id"), "left_anti")
      .withColumn("sub", HyperplaneBucket(col("v"), subPlanes, 0) + lit(1L))
    val keep2 = refined.join(
      refined.groupBy(col("c_id"), col("sub"))
        .agg(count(lit(1)).as("occ"))
        .filter(col("occ") <= maxOccupancy)
        .select("c_id", "sub"),
      Seq("c_id", "sub"), "left_semi")
    keep.select("vec_id", "v", "nrm", "c_id", "sub")
      .union(keep2.select("vec_id", "v", "nrm", "c_id", "sub"))
  }

  /** Semantic dedup — the cluster-scoped pruning recipe (SemDeDup,
    * Abbas et al. 2023): k-means partitions the corpus into
    * ~n/targetClusterSize clusters, candidate near-dup pairs are scored
    * WITHIN clusters only, and each cosine-≥τ connected component keeps
    * its lowest vec_id. Complements the hyperplane-LSH path: clusters
    * capture semantic neighborhoods (same topic phrased differently)
    * that random hyperplanes split across buckets.
    *
    * Scale: Σ|cluster|² ≈ n · targetClusterSize is only an EXPECTATION —
    * k-means gives no balance bound — so the pair join runs over
    * [[cappedClusterMembers]]: occupancy cap + one hyperplane sub-split
    * level makes maxOccupancy²/2 the HARD per-task ceiling, with drops
    * accounted by [[semanticClusterAudit]]. The within-cluster join is a
    * (c_id, sub) equijoin, never a cartesian (PlanSpec-fenced), and the
    * component step reuses the CC-by-join pattern of Dedup.dedupClusters.
    * Past [[SampleTrainSwitch]] vectors, centroid TRAINING runs over a
    * bounded deterministic sample (full-corpus assignment stays exact) —
    * the r16-verdict #5 large-scale shape; see the switch's doc.
    *
    * Output: one row per vector — (vec_id, c_id, keeper); keeper ==
    * vec_id marks the survivor of its semantic group (vectors with no
    * ≥τ neighbor — including members of dropped over-cap sub-groups —
    * keep themselves). */
  def semanticDedup(e: DataFrame, tau: Double,
      targetClusterSize: Long = 64L, n: Long = -1L,
      maxOccupancy: Long = 1024L, subPlanes: Int = 6,
      trainSwitch: Long = SampleTrainSwitch): DataFrame = {
    val assigned = assignSemanticClusters(e, targetClusterSize, n,
      trainSwitch)
    val members = cappedClusterMembers(assigned, maxOccupancy, subPlanes)
    val pairs = members.as("a").join(members.as("b"),
        col("a.c_id") === col("b.c_id") && col("a.sub") === col("b.sub") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos_sim",
        round(DotProduct(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm")), 4))
      .filter(col("cos_sim") >= tau)
      .select(col("a.vec_id").as("doc1"), col("b.vec_id").as("doc2"))
    val comps = graft.dedup.Dedup.dedupClusters(pairs)
      .withColumnRenamed("doc_id", "vec_id")
      .withColumnRenamed("cluster", "keeper")
    assigned.select(col("vec_id"), col("c_id"))
      .join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id"),
        coalesce(col("keeper"), col("vec_id")).as("keeper"))
  }

  /** Drop accounting for [[semanticDedup]]'s cluster cap (the
    * lsh_bucket_audit discipline): one row — corpus size, memberships
    * kept for pair generation, memberships dropped (over-cap sub-groups),
    * final pair-group count, and the realized max pair-group occupancy
    * (KnnSpec asserts it stays ≤ maxOccupancy on a skewed corpus). */
  def semanticClusterAudit(e: DataFrame, targetClusterSize: Long = 64L,
      n: Long = -1L, maxOccupancy: Long = 1024L,
      subPlanes: Int = 6, trainSwitch: Long = SampleTrainSwitch): DataFrame = {
    val assigned = assignSemanticClusters(e, targetClusterSize, n,
      trainSwitch)
    val groups = cappedClusterMembers(assigned, maxOccupancy, subPlanes)
      .groupBy(col("c_id"), col("sub"))
      .agg(count(lit(1)).as("occ"))
    val kept = groups.agg(
      sum(col("occ")).as("n_kept"),
      count(lit(1)).as("n_groups"),
      max(col("occ")).as("max_occupancy"))
    assigned.agg(count(lit(1)).as("n_vectors")).crossJoin(broadcast(kept))
      .select(col("n_vectors"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_vectors") - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"),
        coalesce(col("n_groups"), lit(0L)).as("n_groups"),
        coalesce(col("max_occupancy"), lit(0L)).as("max_occupancy"))
  }

  // ── The IVF family: one core, three codecs ──────────────────────────

  /** One IVF codec — the residual half of the coarse-quantizer + codec
    * split (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011). The coarse half is ONE path for every codec:
    * the [[embOf]]-fenced, checkpointed base, the k-means lists, the
    * [[NearestCentroids]] assignment and probe lists, the bucketed list
    * write ([[writeLists]]), the delta segments and the merge. A codec
    * supplies only what differs: the stored payload of a list row
    * ([[stored]]), the probe-side payload its score reads ([[probes]]),
    * a filter on the index side ([[indexFilter]]) and the [[score]]
    * column over the probe row `q` and the list row `c`. */
  private sealed trait IvfCodec {
    /** List rows of assigned base rows (vec_id, v, nrm, c_id), in the
      * codec's stored column order. */
    def stored(assigned: DataFrame): DataFrame
    /** (query_id, probe payload, c_id): each query once per probed
      * list. */
    def probes(queries: DataFrame, coarse: CentroidModel,
        nprobe: Int): DataFrame
    def indexFilter: Column = lit(true)
    def score: Column

    final def indexSide(index: DataFrame): DataFrame = index.filter(indexFilter)

    /** Probe lists scored against one list frame — the c_id equijoin
      * (the index side arrives pre-partitioned), self-pairs out,
      * UNRANKED: the delta search unions two scored frames into one
      * bounded rank. */
    final def scored(probes: DataFrame, index: DataFrame): DataFrame =
      probes.as("q").join(indexSide(index).as("c"),
          col("q.c_id") === col("c.c_id") &&
            col("query_id") =!= col("c.vec_id"))
        .withColumn("score", score)
        .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
          col("score"))

    final def search(coarse: CentroidModel, queries: DataFrame, k: Int,
        nprobe: Int, index: DataFrame): DataFrame =
      ranked(scored(probes(queries, coarse, nprobe), index), k)
  }

  /** Float lists: the vector and its norm, scored by [[cosine]]. */
  private object FloatCodec extends IvfCodec {
    def stored(assigned: DataFrame): DataFrame =
      assigned.select(col("vec_id"), col("v"), col("nrm"), col("c_id"))
    def probes(queries: DataFrame, coarse: CentroidModel,
        nprobe: Int): DataFrame =
      probeLists(queries, coarse, nprobe)
    def score: Column = cosine
  }

  /** Int8 lists: the [[quantize]] codes and their integer norm (8×
    * smaller resident than float vectors), scored by the exact integer
    * [[quantizedScore]] chain; zero-norm codes are out on both sides
    * (0/0 has no cosine). Probe lists rank the FLOAT centroids. */
  private object Int8Codec extends IvfCodec {
    def stored(assigned: DataFrame): DataFrame =
      quantize(assigned)
        .select(col("vec_id"), col("qv"), col("qnrm"), col("c_id"))
    def probes(queries: DataFrame, coarse: CentroidModel,
        nprobe: Int): DataFrame =
      probes(queries, coarse, nprobe, Nil)
    /** The probe rows with the query columns `keep` carried along. */
    def probes(queries: DataFrame, coarse: CentroidModel, nprobe: Int,
        keep: Seq[Column]): DataFrame =
      probeLists(quantize(queries).filter(col("qnrm") > lit(0.0)), coarse,
        nprobe, keep :+ col("qv") :+ col("qnrm")).drop("v", "nrm")
    override def indexFilter: Column = col("qnrm") > lit(0.0)
    def score: Column =
      quantizedScore(col("q.qv"), col("c.qv"), col("q.qnrm"), col("c.qnrm"))
  }

  /** PQ lists: m codes per vector under a frozen `codebook`
    * ([[PqEncode]]), scored by ONE [[graft.functions.PqAdcScore]]
    * table-lookup pass against the query's flattened ADC LUT ([[PqLut]])
    * — O(m) per pair — at floor-half-up 4 decimals. */
  private final class PqCodec(codebook: CentroidModel, m: Int)
      extends IvfCodec {
    def stored(assigned: DataFrame): DataFrame =
      assigned.select(col("vec_id"), col("c_id"),
        PqEncode(col("v"), col("nrm"), codebook, m).as("codes"))
    def probes(queries: DataFrame, coarse: CentroidModel,
        nprobe: Int): DataFrame =
      probeLists(queries, coarse, nprobe)
        .withColumn("lut", PqLut(col("v"), col("nrm"), codebook, m))
        .drop("v", "nrm")
    def score: Column =
      floor(graft.functions.PqAdcScore(col("c.codes"), col("q.lut"))
        * lit(10000.0) + lit(0.5)).cast("double") / lit(10000.0)
  }

  /** (query_id, v, nrm, `payload`…) of every query once per list of its
    * `nprobe` nearest centroids, `c_id` appended — one kernel call and
    * an explode: no cross join, no window, no shuffle on the query key. */
  private def probeLists(queries: DataFrame, coarse: CentroidModel,
      nprobe: Int, payload: Seq[Column] = Nil): DataFrame =
    queries.select(col("vec_id").as("query_id") +: col("v") +: col("nrm") +:
        payload: _*)
      .withColumn("c_id",
        explode(NearestCentroids(col("v"), col("nrm"), coarse, nprobe)))

  /** The [[embOf]] base, materialized once: the Lloyd rounds plus the
    * final assignment read the checkpointed rows instead of re-scanning
    * the source. Every k-means consumer trains through it. */
  private def checkpointedBase(e: DataFrame): DataFrame =
    e.localCheckpoint(true)

  /** The ONE IVF build over the [[checkpointedBase]]: `codecFor` trains
    * the codec and names its side members (suffix → frame), which commit in
    * the SAME generation as the lists — one pointer flip publishes the
    * whole artifact. Returns the coarse model and the new snapshot. */
  private def buildIvf(e: DataFrame, tableName: String, path: String,
      nlist: Int, buckets: Int)(
      codecFor: (DataFrame, CentroidModel) => (IvfCodec,
        Seq[(String, DataFrame)])): (CentroidModel, Staged.Snapshot) = {
    val base = checkpointedBase(e)
    val coarse = kmeansModel(base, nlist)
    val (codec, sides) = codecFor(base, coarse)
    (coarse, Staged.commit(e.sparkSession, tableName, path) { g =>
      sides.foreach { case (suffix, frame) => g.save(suffix, frame) }
      g.write()(writeLists(buckets, codec.stored(assignTo(base, coarse))))
    })
  }

  /** The ONE inverted-list write (build, delta append, merge): rows
    * BUCKETED BY the list id. A probe needs no index-side Exchange: the
    * bucketed layout already hash-partitions by `c_id`, and an
    * equality/IN filter on `c_id` prunes whole buckets at planning time
    * (ApiSpec pins that this is the only such write). */
  private def writeLists(buckets: Int, rows: DataFrame)(tbl: String,
      p: String): Unit =
    rows
      .repartition(col("c_id"))
      .write
      .option("path", p)
      .bucketBy(buckets, "c_id")
      .sortBy("c_id")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(tbl)

  /** Persist a float IVF index ([[buildIvf]]). Returns the centroid
    * table (tiny — persist alongside, or recompute probes from it); with
    * `persistCentroids` it ALSO commits it as the `${tableName}_centroids`
    * member, so a separate serving process (the live hybrid probe)
    * reads both from one pointer read. */
  def writeIvfIndex(e: DataFrame, tableName: String, path: String,
      nlist: Int = 10, buckets: Int = 8,
      persistCentroids: Boolean = false): DataFrame = {
    val spark = e.sparkSession
    centroidFrame(spark, buildIvf(e, tableName, path, nlist, buckets) {
      (_, coarse) => (FloatCodec,
        if (persistCentroids) Seq("_centroids" -> centroidFrame(spark, coarse))
        else Nil)
    }._1)
  }

  /** Persist an int8 IVF index ([[Int8Codec]]) — the layout a 100 TB
    * corpus serves from: lists 8× smaller than float vectors stay
    * executor-cached where float lists spill. Returns the float centroid
    * table. */
  def writeIvfIndexQuantized(e: DataFrame, tableName: String, path: String,
      nlist: Int = 10, buckets: Int = 8): DataFrame =
    centroidFrame(e.sparkSession, buildIvf(e, tableName, path, nlist,
      buckets)((_, _) => (Int8Codec, Nil))._1)

  def searchIvfIndexQuantized(spark: SparkSession, tableName: String,
      centroids: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 2): DataFrame =
    Int8Codec.search(CentroidModel.of(centroids), queries, k, nprobe,
      Staged.table(spark, tableName))

  def searchIvfIndexQuantizedDelta(spark: SparkSession, tableName: String,
      centroids: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 2): DataFrame =
    searchFencedDelta(spark, tableName, centroids, Int8Codec, queries, k,
      nprobe)

  /** Generation fence for a centroid frame a CALLER passes in — outside
    * input the artifact's pointer cannot vouch for. The c_id space is
    * xxhash64 of the seed vec_ids, so a model from another build
    * equijoins to NOTHING and the probe comes back silently EMPTY. The
    * fence: every inverted-list id in the index must exist in the
    * centroid MODEL the probe's kernels read — one left-anti existence
    * count over the bucketed index scan, memoized per (resolved list
    * table, centroid-set digest) per JVM: a generation name never
    * repeats, so a new generation re-pays one scan and a steady-state
    * probe pays only the model collect its kernels need anyway. Models
    * read from the same snapshot as the lists (PQ coarse, persisted
    * `_centroids`) are never fenced: one pointer read cannot mix
    * generations. */
  private val centroidAlignmentMemo =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def requireCentroidAlignment(spark: SparkSession,
      tableName: String, model: CentroidModel): DataFrame =
    alignedIndex(Staged.resolve(spark, tableName), tableName, model)

  /** The list frame of `snap`, checked against `model`. */
  private def alignedIndex(snap: Staged.Snapshot, tableName: String,
      model: CentroidModel): DataFrame = {
    val index = snap.table(tableName)
    val cids = model.ids
    require(cids.length <= 1000000,
      s"centroid table $tableName: ${cids.length} rows — not a " +
        "broadcastable centroid artifact")
    // collision-FREE memo digest: md5 over the ':'-joined sorted ids
    val key = snap.members.getOrElse(tableName, tableName) + ":" +
      cids.length + ":" +
      org.apache.commons.codec.digest.DigestUtils.md5Hex(
        cids.sorted.mkString(":"))
    if (!centroidAlignmentMemo.contains(key)) {
      val known = index.sparkSession
        .createDataFrame(cids.toSeq.map(Tuple1(_))).toDF("c_id")
      val orphans = index
        .select(col("c_id")).distinct()
        .join(broadcast(known), Seq("c_id"), "left_anti")
        .count()
      require(orphans == 0L,
        s"IVF generation mismatch: $orphans inverted-list ids in " +
          s"$tableName have no row in the centroid table passed in — " +
          "the centroids are from a different build; pass the centroids " +
          "of the live generation, or rebuild")
      centroidAlignmentMemo.add(key)
    }
    index
  }

  /** The model of a caller-passed centroid frame and the list frame it
    * serves: unfenced when the frame IS the snapshot's own `_centroids`
    * member, [[alignedIndex]] otherwise. */
  private def fencedIndex(snap: Staged.Snapshot, tableName: String,
      centroids: DataFrame): (CentroidModel, DataFrame) = {
    val model = CentroidModel.of(centroids)
    val own = snap.members.get(s"${tableName}_centroids").exists { t =>
      centroids.queryExecution.analyzed match {
        case org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(_,
            r: org.apache.spark.sql.execution.datasources.LogicalRelation) =>
          r.catalogTable.exists(_.identifier.table == t)
        case _ => false
      }
    }
    (model, if (own) snap.table(tableName)
      else alignedIndex(snap, tableName, model))
  }

  /** Search a persisted float IVF index ([[writeIvfIndex]]): queries take
    * the `nprobe` nearest lists from the centroid model, then meet the
    * bucketed index in a `c_id` equijoin — the index side arrives
    * pre-partitioned (zero Exchange, PlanSpec-asserted), so at 100 TB
    * the scan touches only the probed lists' buckets. */
  def searchIvfIndex(spark: SparkSession, tableName: String,
      centroids: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 2): DataFrame =
    searchIvfIndexOn(Staged.table(spark, tableName),
      CentroidModel.of(centroids), queries, k, nprobe)

  /** [[searchIvfIndex]] over an ALREADY-RESOLVED index frame — the face
    * a reader that took the lists and the model from ONE pointer read
    * (the live hybrid probe) serves from. */
  def searchIvfIndexOn(index: DataFrame,
      model: CentroidModel, queries: DataFrame, k: Int,
      nprobe: Int = 2): DataFrame =
    FloatCodec.search(model, queries, k, nprobe, index)

  // ───── ANN delta (r18 verdict #1: a daily crawl against a weekly
  // re-cluster must not pay the weekly cost — the frozen-model posture of
  // appendDocVectorIndexDelta applied to the IVF layouts) ─────

  /** The ONE IVF delta append ([[Staged.append]]): arriving vectors
    * (an [[embOf]] frame, like the build's) are assigned to the FROZEN coarse model and
    * encoded under the codec's frozen model — re-training is the
    * full-rebuild cadence — and land as ONE segment in the base's own
    * list columns and order ([[writeLists]]). `models` resolves from the
    * snapshot and returns the (coarse, codec, list frame) — the list
    * frame checked by [[fencedIndex]] when the coarse model is caller
    * input. Contract (DeltaIndexSpec, per codec): probe over base ∪
    * segments ≡ a rebuild with the same frozen models — exactly, as
    * assignment and encoding are pure per-vector functions. */
  private def appendIvf(eNew: DataFrame, tableName: String, path: String,
      buckets: Int, face: String)(
      models: Staged.Snapshot => (CentroidModel, IvfCodec, DataFrame))
      : Unit =
    Staged.append(eNew.sparkSession, tableName, path, s"append${face}Delta",
        "vec_id") { snap =>
      val (coarse, codec, index) = models(snap)
      codec.stored(assignTo(checkpointedBase(eNew), coarse))
        .select(index.columns.toIndexedSeq.map(col): _*)
    } { (g, segment, rows) => g.write(segment)(writeLists(buckets, rows)) }

  /** The ONE delta search — base ∪ segments from one snapshot: probe
    * lists are computed ONCE and the base and each segment are scored
    * as their OWN c_id equijoin before the one bounded rank — unioning
    * the index frames first would erase each bucketed scan's
    * partitioning and re-shuffle the whole index. Probe width grows with
    * the live segments until a merge. With no segment this is exactly
    * the base search. */
  private def searchIvfDelta(snap: Staged.Snapshot, index: DataFrame,
      coarse: CentroidModel, codec: IvfCodec, queries: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    val probes = codec.probes(queries, coarse, nprobe).localCheckpoint(true)
    ranked(snap.segments.foldLeft(codec.scored(probes, index))((s, seg) =>
      s.unionByName(codec.scored(probes, snap.table(seg)))), k)
  }

  /** [[searchIvfDelta]] under a caller-passed centroid frame. */
  private def searchFencedDelta(spark: SparkSession, tableName: String,
      centroids: DataFrame, codec: IvfCodec, queries: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    val snap = Staged.resolve(spark, tableName)
    val (model, index) = fencedIndex(snap, tableName, centroids)
    searchIvfDelta(snap, index, model, codec, queries, k, nprobe)
  }

  /** Generation accounting for an IVF delta of any codec (the
    * textIndexDeltaAudit sibling): stored-vector masses and the integer
    * half-up milli share the delta holds. No delta reports zero delta
    * mass. Pure counts over the corpus, the split and the reader's
    * fence — the row sits under the hash gate. */
  def ivfDeltaAudit(spark: SparkSession, tableName: String): DataFrame = {
    val snap = Staged.resolve(spark, tableName)
    val nBase = snap.table(tableName).agg(count(lit(1)).as("n_vecs_base"))
    val nDelta = snap.segments.map(snap.table).reduceOption(_.unionByName(_))
      .map(_.agg(count(lit(1)).as("n_vecs_delta")))
      .getOrElse(spark.range(1).select(lit(0L).as("n_vecs_delta")))
    nBase.crossJoin(broadcast(nDelta))
      .select(col("n_vecs_base"), col("n_vecs_delta"),
        expr("""CASE WHEN n_vecs_base + n_vecs_delta > 0 THEN
                  (2 * n_vecs_delta * 1000 + (n_vecs_base + n_vecs_delta))
                    div (2 * (n_vecs_base + n_vecs_delta))
                ELSE 0 END""").as("delta_share_milli"))
  }

  /** Append a crawl delta to a float IVF index ([[appendIvf]]). */
  def appendIvfIndexDelta(eNew: DataFrame, tableName: String,
      path: String, centroids: DataFrame, buckets: Int = 8): Unit =
    appendIvf(eNew, tableName, path, buckets, "IvfIndex") { snap =>
      val (model, index) = fencedIndex(snap, tableName, centroids)
      (model, FloatCodec, index)
    }

  def appendIvfIndexQuantizedDelta(eNew: DataFrame, tableName: String,
      path: String, centroids: DataFrame, buckets: Int = 8): Unit =
    appendIvf(eNew, tableName, path, buckets, "IvfIndexQuantized") { snap =>
      val (model, index) = fencedIndex(snap, tableName, centroids)
      (model, Int8Codec, index)
    }

  /** [[searchIvfIndex]] over base ∪ delta ([[searchIvfDelta]]). */
  def searchIvfIndexDelta(spark: SparkSession, tableName: String,
      centroids: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 2): DataFrame =
    searchFencedDelta(spark, tableName, centroids, FloatCodec, queries, k,
      nprobe)

  /** Compact the segments into the base index, any codec
    * ([[Staged.merge]]): one index-ROW union write in the base's own list
    * columns, ZERO assignment or encoding recompute. Models are NOT
    * retrained — re-clustering is the full-rebuild cadence. */
  def mergeIvfIndex(spark: SparkSession, tableName: String, path: String,
      buckets: Int = 8): Unit =
    Staged.merge(spark, tableName, path) { (g, snap) =>
      g.write()(writeLists(buckets, snap.segments.map(snap.table)
        .foldLeft(snap.table(tableName))(_.unionByName(_))))
    }
  /** IVF LIST-BALANCE audit over a persisted index of any codec: list
    * population, heaviest/lightest lists, and max-over-ideal as the
    * integer half-up milli (1000 = perfectly balanced). Probe latency is
    * gated by the heaviest probed list — imbalance creep after drift is
    * the "rebuild the index" signal. One hash agg over the bucketed scan
    * (zero Exchange). Rows-only: lists come from seeded k-means. */
  def ivfBalanceAudit(spark: SparkSession, tableName: String): DataFrame =
    graft.sources.Staged.table(spark, tableName)
      .groupBy(col("c_id")).agg(count(lit(1)).as("list_size"))
      .groupBy()
      .agg(
        count(lit(1)).as("n_lists"),
        sum(col("list_size")).as("n_vectors"),
        max(col("list_size")).as("max_list"),
        min(col("list_size")).as("min_list"))
      .withColumn("imb_milli",
        expr("(2 * max_list * n_lists * 1000 + n_vectors) div " +
          "(2 * n_vectors)"))

  /** ANN quality audit — recall@k of the IVF search against the brute
    * baseline on the same probe set, as ONE auditable row (the
    * lsh_bucket_audit discipline applied to search QUALITY instead of
    * candidate volume): n_probes, k, hits (probe∩brute pairs), and
    * recall as a floor-half-up milli fraction. This is the number a
    * pipeline watches when tuning nprobe/nlist or deciding the index
    * needs a rebuild after drift — recall degradation is silent in the
    * search results themselves. Per-probe denominators use the BRUTE
    * list's own size (≤ k: a probe can have fewer than k candidates),
    * so a small corpus can still audit exactly.
    *
    * Scale: both sides restrict to the probe set (tiny); the join is
    * (query_id, neighbor_id) on two ≤ n_probes·k row sets. rows-only:
    * k-means assignment isn't ANSI-expressible. */
  def ivfRecallAudit(e: DataFrame, queryPred: Column, k: Int,
      nprobe: Int = 2, nlist: Int = 10): DataFrame =
    recallAccounting(
      brute(e, queryPred, k),
      ivf(e, queryPred, k, nprobe, nlist), k)

  /** [[ivfRecallAudit]] for the PRODUCTION path: the persisted int8
    * probe against the quantized brute baseline. Both sides rank with the
    * SAME integer chain, so the number isolates exactly what list
    * PRUNING costs — no quantization-error confound. */
  def ivfQuantizedRecallAudit(spark: SparkSession, e: DataFrame,
      tableName: String, path: String, queryPred: Column, k: Int,
      nprobe: Int = 2, nlist: Int = 10): DataFrame = {
    val centroids = writeIvfIndexQuantized(e, tableName, path,
      nlist = nlist, buckets = 8)
    recallAccounting(
      bruteQuantized(e, queryPred, k),
      searchIvfIndexQuantized(spark, tableName, centroids,
        e.filter(queryPred), k, nprobe), k)
  }

  private def recallAccounting(brutePairs: DataFrame,
      probePairs: DataFrame, k: Int): DataFrame = {
    val b = brutePairs.select(col("query_id"), col("neighbor_id"))
    val a = probePairs
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    b.join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy()
      .agg(
        countDistinct(col("query_id")).as("n_probes"),
        count(lit(1)).as("n_brute_pairs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("k", lit(k.toLong))
      .withColumn("recall_milli",
        floor(col("n_hits").cast("double") * lit(1000.0) /
          col("n_brute_pairs").cast("double") + lit(0.5)).cast("long"))
  }

  /** IVF: k-means centroids ([[kmeansCentroids]]; at scale trained once
    * offline), every vector joins its nearest centroid's inverted list;
    * queries probe the `nprobe` nearest lists. */
  def ivf(e: DataFrame, queryPred: Column, k: Int,
      nprobe: Int = 2, nlist: Int = 10): DataFrame = {
    // materialize the (id, v, nrm) base once: the k-means rounds, the
    // corpus assignment, and the query probes otherwise each re-scan the
    // source and re-derive norms — five scans collapse to one
    val base = checkpointedBase(e)
    val model = kmeansModel(base, nlist)
    FloatCodec.search(model, base.filter(queryPred), k, nprobe,
      FloatCodec.stored(assignTo(base, model)))
  }

  // ── Product quantization (IVF-PQ) ── the memory-scale end of the ANN
  // ladder: int8 stores one code per DIMENSION, PQ one per SUBSPACE (m
  // codes for dim dims), scored against a per-query lookup table — 64-dim
  // float vectors are 256 B/row, int8 codes 64 B, PQ codes (m=8) ~32 B.

  /** Default PQ geometry: 8 subspaces, 16 centroids each — dim must be
    * divisible by [[PqSubspaces]] (in-plan fence in [[pqSubvectors]]). */
  val PqSubspaces = 8
  val PqCodesPerSub = 16

  /** Slice every unit-normalized vector into `m` equal subvectors:
    * (vec_id, sub_id ∈ [0,m), sv, sv2 = |sv|²). Normalizing FIRST makes
    * the additive ADC inner-product estimate approximate the COSINE, so
    * PQ scores rank on the scale of every other ANN path here. The
    * divisibility fence raises in-plan (a truncating slice would drop
    * trailing dimensions silently). Slice-then-normalize, NOT
    * normalize-then-slice: a whole-vector `transform(v, x -> x/nrm)`
    * alias gets inlined by CollapseProject into each of the m slice
    * calls (the hidden-O(m·dim) recompute class); dividing inside each
    * slice touches every element once, with the identical IEEE division. */
  private[graft] def pqSubvectors(e: DataFrame, m: Int): DataFrame =
    e.withColumn("dimguard",
        coalesce(assert_true(size(col("v")) % lit(m) === lit(0),
          concat(lit("pq: dimensionality "), size(col("v")).cast("string"),
            lit(s" not divisible by m=$m subspaces — a truncating slice " +
              "would silently drop trailing dimensions"))).cast("int"),
          lit(0)))
      .select(col("vec_id"),
        posexplode(expr(
          s"transform(sequence(0, ${m - 1}), s -> " +
            s"transform(slice(v, (s + dimguard) * (size(v) div $m) + 1, " +
            s"size(v) div $m), x -> x / nrm))")).as(Seq("sub_id", "sv")))
      .withColumn("sv2", DotProduct(col("sv"), col("sv")))

  /** Train the m per-subspace codebooks as ONE grouped Lloyd loop: all
    * m·ksub centroids update in the same distributed job, keyed by
    * (sub_id, c_id) — m separate k-means runs would serialize m driver
    * loops for no reason. Seeds are the subvectors of the `ksub`
    * corpus vectors with smallest xxhash64(vec_id) (the kmeansCentroids
    * discipline: deterministic, no driver randomness, and the SAME seed
    * rows for every subspace so each subspace starts with exactly ksub
    * centroids). Each round ([[pqRound]]) is one aggregation over the
    * subvectors: the [[NearestCentroids]] kernel assigns within the
    * subspace's codebook group, [[VectorMean]] averages, and the means
    * are collected and merged into the model on the driver. Empty
    * clusters KEEP their previous centroid instead of vanishing — every
    * subspace holds exactly min(ksub, n) rows at all times, the
    * uniform-layout invariant the flattened ADC LUT addressing depends
    * on. Returns (sub_id, c_id, cv, code_idx, cn2) with code_idx the
    * DENSE 0-based position of c_id within its subspace.
    *
    * Determinism scope: the centroid update is a distributed sum,
    * order-dependent across PARTITIONINGS — codebooks are deterministic
    * for a fixed session/partitioning (what PqSpec rebuilds under), not
    * across environments; reproducible SERVED results come from
    * persisting the trained artifact ([[writeIvfPqIndex]]). */
  def pqCodebook(base: DataFrame, m: Int = PqSubspaces,
      ksub: Int = PqCodesPerSub, iters: Int = 2): DataFrame =
    codebookFrame(base.sparkSession, pqCodebookModel(base, m, ksub, iters))

  private def pqCodebookModel(base: DataFrame, m: Int, ksub: Int,
      iters: Int = 2): CentroidModel = {
    val spark = base.sparkSession
    def vec(r: Row, i: Int) = r.getSeq[Double](i).toArray
    val seeds = pqSubvectors(base.withColumn("h", xxhash64(col("vec_id")))
        .orderBy("h").limit(ksub), m)
      .select(col("sub_id"), xxhash64(col("vec_id")).as("c_id"),
        col("sv").as("cv"))
      .collect().groupBy(_.getInt(0))
    var model = CentroidModel(spark, Array.tabulate(m) { s =>
      val g = seeds.getOrElse(s, Array.empty[Row]).sortBy(_.getLong(1))
      new CentroidGroup(g.map(_.getLong(1)), g.map(vec(_, 2)))
    })
    val subvecs = pqSubvectors(base, m)
    (1 to iters).foreach { _ =>
      val means = pqRound(subvecs, model).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> vec(r, 2)).toMap
      model = CentroidModel(spark, model.table.groups.zipWithIndex.map {
        case (g, s) => new CentroidGroup(g.ids, g.ids.indices.map(i =>
          means.getOrElse((s, g.ids(i)), g.vecs(i))).toArray)
      })
    }
    model
  }

  /** One codebook Lloyd round over the (vec_id, sub_id, sv, sv2)
    * subvectors: the (sub_id, c_id, mv) means of every non-empty
    * cluster. */
  private[graft] def pqRound(subvecs: DataFrame,
      model: CentroidModel): DataFrame =
    subvecs.groupBy(col("sub_id"), NearestCentroids.inGroup(col("sv"),
        col("sv2"), col("sub_id"), model).as("c_id"))
      .agg(VectorMean(col("sv")).as("mv"))

  /** A codebook model as the persisted (sub_id, c_id, cv, code_idx, cn2)
    * frame — a local relation. */
  private def codebookFrame(spark: SparkSession,
      model: CentroidModel): DataFrame = {
    val rows = model.table.groups.zipWithIndex.flatMap { case (g, s) =>
      g.ids.indices.map(i =>
        Row(s, g.ids(i), g.vecs(i).toSeq, i, g.n2(i)))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows.toIndexedSeq: _*),
      StructType(Seq(StructField("sub_id", IntegerType, nullable = false),
        StructField("c_id", LongType, nullable = false),
        StructField("cv", ArrayType(DoubleType)),
        StructField("code_idx", IntegerType, nullable = false),
        StructField("cn2", DoubleType, nullable = false))))
  }

  /** Encode every vector as its m-code array (dense code_idx per
    * subspace, subspace order): one [[PqEncode]] kernel call per
    * vector against the broadcast codebook — no join, no shuffle.
    * Codes are DETERMINISTIC given the codebook: distance ties break on
    * c_id, so rebuilds within one session/partitioning produce
    * identical code arrays (spec-pinned; see [[pqCodebook]] for why the
    * trainer itself is same-partitioning deterministic only). */
  def pqEncode(base: DataFrame, codebook: DataFrame,
      m: Int = PqSubspaces): DataFrame =
    base.select(col("vec_id"), PqEncode(col("v"), col("nrm"),
        CentroidModel.codebook(codebook), m).as("codes"))

  /** Build + persist the IVF-PQ index ([[buildIvf]] with a [[PqCodec]]):
    * coarse lists in float space, a codebook trained on the same fenced
    * base, PQ codes in the bucketed lists. ALL THREE persist as members
    * of one artifact — the code lists at `tableName`, the coarse
    * centroids at `tableName_coarse`, the codebook at
    * `tableName_codebook` — because the streaming probe and the delta
    * faces read the models from the same pointer read as the lists.
    * Returns (coarse, codebook) read back from the committed snapshot. */
  def writeIvfPqIndex(e: DataFrame, tableName: String, path: String,
      nlist: Int = 10, m: Int = PqSubspaces, ksub: Int = PqCodesPerSub,
      buckets: Int = 8): (DataFrame, DataFrame) = {
    val spark = e.sparkSession
    val (_, snap) = buildIvf(e, tableName, path, nlist, buckets) {
      (base, coarse) =>
        val codebook = pqCodebookModel(base, m, ksub)
        (new PqCodec(codebook, m),
          Seq("_coarse" -> centroidFrame(spark, coarse),
            "_codebook" -> codebookFrame(spark, codebook)))
    }
    (snap.table(s"${tableName}_coarse"), snap.table(s"${tableName}_codebook"))
  }

  /** Per-query flattened ADC lookup table: (query_id, lut) with
    * lut[sub_id·ksub + code_idx] = dot(query subvector, centroid) —
    * the layout [[graft.functions.PqAdcScore]] reads (ksub = the
    * realized per-subspace codebook size, UNIFORM across subspaces by
    * the pqCodebook empty-cluster-keep invariant). One [[PqLut]] kernel
    * call per query against the broadcast codebook. */
  def pqLut(queries: DataFrame, codebook: DataFrame,
      m: Int = PqSubspaces): DataFrame =
    queries.select(col("vec_id").as("query_id"), PqLut(col("v"), col("nrm"),
        CentroidModel.codebook(codebook), m).as("lut"))

  /** Search the persisted IVF-PQ index: queries take their `nprobe`
    * lists from the coarse model and their ADC LUTs from the codebook
    * model (both kernels on the query row), then meet the bucketed code
    * lists in a c_id equijoin ([[PqCodec]]) — O(m) per pair instead of
    * O(dim), over an index dim/m× smaller than int8 codes. Scores are
    * deterministic (fixed subspace loop order); ranks break ties on
    * neighbor_id. */
  def searchIvfPq(spark: SparkSession, tableName: String,
      coarse: DataFrame, codebook: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 2, m: Int = PqSubspaces): DataFrame =
    searchIvfPqOn(Staged.table(spark, tableName), coarse, codebook,
      queries, k, nprobe, m)

  /** [[searchIvfPq]] over an already-resolved list frame — the face a
    * reader that took lists and models from ONE pointer read (the live
    * PQ probe) serves from. */
  private[graft] def searchIvfPqOn(index: DataFrame, coarse: DataFrame,
      codebook: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      m: Int = PqSubspaces): DataFrame =
    new PqCodec(CentroidModel.codebook(codebook), m).search(
      CentroidModel.of(coarse), queries, k, nprobe, index)

  /** Append a crawl delta to the persisted IVF-PQ index ([[appendIvf]]
    * with TWO frozen models, both read from the SAME snapshot as the
    * lists — one pointer read cannot mix generations, so neither model
    * needs a fence). */
  def appendIvfPqIndexDelta(eNew: DataFrame, tableName: String,
      path: String, m: Int = PqSubspaces, buckets: Int = 8): Unit =
    appendIvf(eNew, tableName, path, buckets, "IvfPqIndex") { snap =>
      val (coarse, codebook) = pqModels(snap, tableName)
      (coarse, new PqCodec(codebook, m), snap.table(tableName))
    }

  /** The frozen (coarse, codebook) models of a persisted IVF-PQ index
    * snapshot. */
  private def pqModels(snap: Staged.Snapshot,
      tableName: String): (CentroidModel, CentroidModel) =
    (CentroidModel.of(snap.table(s"${tableName}_coarse")),
      CentroidModel.codebook(snap.table(s"${tableName}_codebook")))

  /** [[searchIvfPq]] over base ∪ delta ([[searchIvfDelta]]), lists,
    * delta and both frozen models from one snapshot. */
  def searchIvfPqDelta(spark: SparkSession, tableName: String,
      queries: DataFrame, k: Int, nprobe: Int = 2,
      m: Int = PqSubspaces): DataFrame = {
    val snap = Staged.resolve(spark, tableName)
    val (coarse, codebook) = pqModels(snap, tableName)
    searchIvfDelta(snap, snap.table(tableName), coarse,
      new PqCodec(codebook, m), queries, k, nprobe)
  }

  /** [[ivfRecallAudit]] for the PQ path: persisted IVF-PQ probe vs the
    * float brute baseline on the same probes. Unlike the int8 audit the
    * number CONFOUNDS list pruning with quantization error by design —
    * PQ is lossy, and this row is the tuning signal for (m, ksub,
    * nprobe) together: the number a pipeline watches before trading
    * index memory for recall. */
  def pqRecallAudit(spark: SparkSession, e: DataFrame,
      tableName: String, path: String, queryPred: Column, k: Int,
      nprobe: Int = 2, nlist: Int = 10, m: Int = PqSubspaces,
      ksub: Int = PqCodesPerSub): DataFrame = {
    val (coarse, codebook) = writeIvfPqIndex(e, tableName, path,
      nlist = nlist, m = m, ksub = ksub)
    recallAccounting(
      brute(e, queryPred, k),
      searchIvfPq(spark, tableName, coarse, codebook,
        e.filter(queryPred), k, nprobe, m), k)
  }

  /** PQ CODE-SPACE balance audit over the persisted index (the
    * ivf_balance_audit discipline one level down): per subspace, codes
    * in use, dead codes (trained but never assigned — wasted LUT
    * entries and a retrain signal), occupancy extremes, and
    * max-over-ideal as the all-integer half-up milli. A collapsed
    * subspace (one hot code) contributes ~zero bits to the estimate —
    * recall decays silently while search "works"; this row is where
    * that shows first. One posexplode (m rows per vector) + one hash
    * agg to ≤ m·ksub rows, then a per-subspace rollup. */
  def pqCodeBalance(spark: SparkSession, tableName: String,
      codebook: DataFrame): DataFrame = {
    val occ = graft.sources.Staged.table(spark, tableName)
      .select(posexplode(col("codes")).as(Seq("sub_id", "code_idx")))
      .groupBy(col("sub_id"), col("code_idx"))
      .agg(count(lit(1)).as("occ"))
    val trained = codebook.groupBy(col("sub_id"))
      .agg(count(lit(1)).as("n_codes_trained"))
    occ.groupBy(col("sub_id"))
      .agg(
        count(lit(1)).as("n_codes_used"),
        sum(col("occ")).as("n_vectors"),
        max(col("occ")).as("max_occ"),
        min(col("occ")).as("min_occ"))
      .join(broadcast(trained), Seq("sub_id"))
      .withColumn("n_codes_dead", col("n_codes_trained") - col("n_codes_used"))
      .withColumn("imb_milli",
        expr("(2 * max_occ * n_codes_used * 1000 + n_vectors) div " +
          "(2 * n_vectors)"))
      .select(col("sub_id"), col("n_codes_trained"), col("n_codes_used"),
        col("n_codes_dead"), col("n_vectors"), col("max_occ"),
        col("min_occ"), col("imb_milli"))
  }
}
