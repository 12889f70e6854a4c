package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{CharNGramHashes, DotProduct, MinHashSig, SimHash64, WinnowedAnchors}

/** Deduplication suite over `documents` (SURVEY §2-E).
  *
  * Scale design: the only all-pairs operator is [[jaccardPairs]], kept as
  * the small-scope exact baseline the DuckDB oracle can check. The 100 TB
  * paths are hash-group ([[exact]]), LSH band-bucket joins
  * ([[minHashPairs]], [[simHashPairs]]) whose candidate sets grow ~linearly
  * with corpus size, and the banded embedding dedup in graft.similarity.
  */
object Dedup {

  private val toksExpr =
    "filter(split(lower(text), ' '), x -> x != '')"

  /** Exact dedup: group by content digest, keep lowest doc_id. One
    * map-side-combined shuffle on the digest — the canonical exact-dedup
    * plan at any scale. */
  def exact(d: DataFrame): DataFrame =
    d.groupBy(md5(lower(trim(col("text")))).as("digest"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))

  /** Exact word-set Jaccard pairs within one language partition via an
    * inverted-index join (shared-token candidates only, never a cross
    * join). Oracle-checkable baseline for the LSH variants. */
  def jaccardPairs(d: DataFrame, lang: String, tau: Double): DataFrame = {
    val scoped = d.filter(col("lang") === lang)
      .select(col("doc_id"), array_distinct(expr(toksExpr)).as("wset"))
    val sizes = scoped.select(col("doc_id"), size(col("wset")).as("n"))
    val inv = scoped.select(col("doc_id"), explode(col("wset")).as("word"))
    val pairs = inv.as("a").join(inv.as("b"),
        col("a.word") === col("b.word") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc1")
        .withColumnRenamed("n", "n1"), "doc1")
      .join(sizes.withColumnRenamed("doc_id", "doc2")
        .withColumnRenamed("n", "n2"), "doc2")
      .withColumn("jaccard",
        round(col("n_common") / (col("n1") + col("n2") - col("n_common")), 4))
      .filter(col("jaccard") >= tau)
      .select("doc1", "doc2", "n_common", "n1", "n2", "jaccard")
  }

  /** Word k-gram shingles of the lowercased text. */
  private def shingleExpr(k: Int): String = {
    val parts = (0 until k).map(j => s"t[i + $j]").mkString(", ")
    s"transform(sequence(0, size(t) - $k), i -> concat_ws(' ', $parts))"
  }

  /** Winnow-kernel anchor rows (the ONE WinnowedAnchors derivation —
    * length filter pushed at the scan, kernel pass spread via Par:
    * measured ~1.6-2 s single-task at sf0.1 on the one scan split;
    * no-op at real scale). `idAs` names the output doc column. */
  private def winnowRows(d: DataFrame, k: Int, w: Int,
      idAs: String = "doc_id"): DataFrame =
    graft.operators.Par
      .spreadBy(d.filter(length(col("text")) >= k),
        graft.operators.Par.slots(d), col("doc_id"))
      .select(col("doc_id").as(idAs),
        explode(WinnowedAnchors(col("text"), k, w)).as("h"))

  /** Distinct shingle-hash sets per doc: word `shingleK`-grams of the
    * lowercased text, hashed once (xxhash64). Shared by the signature
    * banding and the exact candidate verification. */
  private def shingleSets(d: DataFrame, shingleK: Int): DataFrame =
    // spread the shingle+hash kernel pass (measured 2.9 s single-task
    // at sf0.1 — the corpus fits one scan split; Par no-ops at scale);
    // every consumer checkpoint inherits the width
    graft.operators.Par
      .spreadBy(d, graft.operators.Par.slots(d), col("doc_id"))
      .withColumn("t", expr(toksExpr))
      .filter(size(col("t")) >= shingleK)
      .select(col("doc_id"), array_distinct(
        expr(s"transform(${shingleExpr(shingleK)}, s -> xxhash64(s))"))
        .as("sh"))

  /** (doc_id, band, sig) band-bucket keys: the `numHashes` virtual
    * permutations are the native MinHashSig kernel (splitmix64-seeded
    * minima), sliced into `bands` buckets of numHashes/bands rows each.
    * Band keys only — shipping the full shingle arrays through the bands×
    * explode and the candidate self-join would multiply the shuffle
    * volume by the band count; the arrays are joined back just for the
    * (few) candidates. */
  private def bandKeys(sh: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    sh.withColumn("mh", MinHashSig(col("sh"), numHashes))
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(0, ${bands - 1}), " +
            s"b -> struct(b AS band, xxhash64(slice(mh, b * $rows + 1, $rows)) AS sig))"))
          .as("bk"))
      .select(col("doc_id"),
        col("bk.band").as("band"), col("bk.sig").as("sig"))
  }

  /** MinHash signatures + banded LSH candidate pairs, verified against the
    * exact shingle Jaccard — the linear-cost near-dup path for 100 TB
    * (the standard Broder '97 / LSH construction). Candidate verification
    * intersects the distinct shingle-hash sets, which equals shingle
    * Jaccard up to 64-bit collisions.
    *
    * `maxOccupancy` fences the band-bucket self-join (the simHashPairs /
    * LshBuckets / stop-gram posture): a mass of m near-identical — but
    * not byte-identical, so exact dedup does NOT absorb them — documents
    * lands in ONE (band, sig) bucket of every band and would otherwise
    * produce bands·m²/2 candidate rows in one task. Over-cap buckets are
    * excluded from candidate generation; recall for everything else rides
    * the OR across the `bands` independent bands. Drops are never silent:
    * [[minHashBandAudit]] is the registered accounting row. */
  def minHashPairs(d: DataFrame, shingleK: Int = 3, numHashes: Int = 64,
      bands: Int = 16, tau: Double = 0.5,
      maxOccupancy: Long = 8192L,
      atScaleVerify: Option[Boolean] = None): DataFrame = {
    val sh = shingleSets(d, shingleK)
    // `banded` feeds three consumers (the occupancy agg, the semi-join
    // probe, both sides of the candidate self-join) — materialize the
    // slim (id, band, sig) table once instead of re-running the
    // tokenize+minhash kernel per consumer (the simHashPairs pattern;
    // same documented eager-checkpoint trade, SURVEY §5)
    val banded = bandKeys(sh, numHashes, bands).localCheckpoint(true)
    val small = banded.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxOccupancy)
      .select("band", "sig")
    val capped = banded.join(small, Seq("band", "sig"), "left_semi")
    val cand = capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .dropDuplicates("doc1", "doc2")
    // the default verify recomputes the lazy shingle pass (~3× total
    // with the banding pass) — MEASURED r11: semi-join-pruning it was a
    // bench REGRESSION at sf0.1 (warm 1.44→2.18 s; char-ngram sibling
    // 1.96→3.02): the fixed cost of the extra materializations exceeds
    // two corpus kernel passes until candidates ≪ corpus. Since r16
    // that 100 TB shape EXISTS behind the corpus-size switch
    // ([[verifiedJaccard]]) instead of only in prose.
    verifiedJaccard(cand, sh, tau, verifyAtScale(d, atScaleVerify))
  }

  /** Drop accounting for [[minHashPairs]]'s band-bucket cap (the
    * lsh_bucket_audit / substring_anchor_audit discipline): one row of
    * corpus-level band statistics — total band memberships, distinct
    * (band, sig) buckets, memberships dropped by the occupancy cap, and
    * the realized max bucket occupancy. A pipeline alerts when
    * `n_dropped_over_cap` jumps (a mirror-crawl flooding one signature)
    * instead of wondering why near-dups slipped through. */
  def minHashBandAudit(d: DataFrame, shingleK: Int = 3, numHashes: Int = 64,
      bands: Int = 16, maxOccupancy: Long = 8192L): DataFrame = {
    val occ = bandKeys(shingleSets(d, shingleK), numHashes, bands)
      .groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("occ"))
    occ.agg(
      sum(col("occ")).as("n_band_memberships"),
      count(lit(1)).as("n_buckets"),
      sum(when(col("occ") > maxOccupancy, col("occ")).otherwise(0L))
        .as("n_dropped_over_cap"),
      max(col("occ")).as("max_occupancy"))
  }

  /** 64-bit SimHash per document from word hashes (custom codegen'd
    * kernel graft.functions.SimHash64); near-dup pairs via 4×16-bit band
    * buckets then hamming ≤ maxHamming (bit_count(xor)). */
  def simHash(d: DataFrame): DataFrame =
    d.withColumn("hs",
        expr(s"transform(array_distinct($toksExpr), w -> xxhash64(w))"))
      .filter(size(col("hs")) > 0)
      .withColumn("simhash", SimHash64(col("hs")))
      .select(col("doc_id"), col("simhash"))

  /** Dedup-QUALITY recall audit (the knn_recall_audit discipline applied
    * to text near-dup): one row comparing [[minHashPairs]]'s emitted
    * pairs against the EXACT shingle-Jaccard ≥ τ pair set at the same
    * τ and shingle definition — the number that decides band/hash-count
    * tuning and cap sizing, because band-recall loss is silent in the
    * LSH output itself. `n_hits` is MEASURED (an inner join, not an
    * assumed subset), so a drift between the LSH verify's formula and
    * the exact baseline would surface as n_hits < n_lsh rather than
    * hide; DedupSpec asserts n_hits == n_lsh (emitted pairs are
    * verified-exact by construction) and total recall at τ=1.0
    * (identical shingle sets hash identically in every band). The exact
    * side is the brute baseline role — an audit job at audit scope, not
    * a production path (it shares the inverted-index shape of
    * [[jaccardPairs]] over the SAME xxhash64 shingle space the LSH
    * verify intersects, so the two sides can't diverge on tokenization
    * or hashing). recall = floor-half-up milli; an empty exact set
    * audits as 1000 (nothing to recall). */
  def dedupRecallAudit(d: DataFrame, shingleK: Int = 3, numHashes: Int = 64,
      bands: Int = 16, tau: Double = 0.5,
      maxOccupancy: Long = 8192L): DataFrame = {
    val sh = shingleSets(d, shingleK).localCheckpoint(true)
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    val inv = sh.select(col("doc_id"), explode(col("sh")).as("h"))
    val exact = inv.as("a").join(inv.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id").as("doc1"), col("n").as("n1")),
        "doc1")
      .join(sizes.select(col("doc_id").as("doc2"), col("n").as("n2")),
        "doc2")
      .withColumn("jaccard", round(col("n_common") /
        (col("n1") + col("n2") - col("n_common")), 4))
      .filter(col("jaccard") >= tau)
      .select("doc1", "doc2")
      .localCheckpoint(true) // feeds the count + the hit join
    val lsh = minHashPairs(d, shingleK, numHashes, bands, tau,
      maxOccupancy).select("doc1", "doc2").localCheckpoint(true)
    val ce = exact.agg(count(lit(1)).as("n_exact_pairs"))
    val cl = lsh.agg(count(lit(1)).as("n_lsh_pairs"))
    val ch = lsh.join(exact, Seq("doc1", "doc2"))
      .agg(count(lit(1)).as("n_hits"))
    ce.crossJoin(broadcast(cl)).crossJoin(broadcast(ch))
      .select(col("n_exact_pairs"), col("n_lsh_pairs"), col("n_hits"),
        when(col("n_exact_pairs") > 0L,
          floor(col("n_hits").cast("double") * lit(1000.0) /
            col("n_exact_pairs").cast("double") + lit(0.5)).cast("long"))
          .otherwise(1000L).as("recall_milli"))
  }

  /** Near-dup pairs via 4×16-bit simhash bands. Each band has a fixed
    * 65,536-bucket key space (the §5-documented ceiling), so a band
    * bucket's occupancy grows with the corpus — `maxOccupancy` caps it:
    * over-cap (band, key) groups are excluded from candidate generation
    * (the OR across the other 3 bands usually still surfaces their true
    * pairs — a ≤3-hamming pair collides in ≥1 of 4 bands by pigeonhole,
    * and a single dense band bucket rarely dominates all four). This is
    * the same degenerate-bucket posture as the stop-gram DF cap and
    * LshBuckets: bounded tasks first, recall via OR-construction. */
  def simHashPairs(d: DataFrame, maxHamming: Int = 3,
      maxOccupancy: Long = 8192L): DataFrame = {
    val sh = simHash(d)
    // `banded` feeds three consumers (occupancy agg, the semi-join's
    // probe side, both sides of the candidate self-join) — materialize
    // the slim (id, hash, band, key) table once instead of re-running
    // the tokenize+simhash kernel per consumer (the LshBuckets.members
    // pattern). NOTE the eager checkpoint runs a full job at DataFrame-
    // CONSTRUCTION time: plan-only consumers (graft.Explain) pay the
    // materialization before the timed run, and checkpoint blocks don't
    // survive executor loss — the documented trade (SURVEY §5 "eager
    // intermediates"); at cluster scale this site switches to
    // persist(MEMORY_AND_DISK)
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(expr(
        "transform(sequence(0, 3), " +
          "b -> struct(b AS band, shiftright(simhash, b * 16) & 65535 AS key))"))
        .as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      .localCheckpoint(true)
    val small = banded.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxOccupancy)
      .select("band", "key")
    val capped = banded.join(small, Seq("band", "key"), "left_semi")
    capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .dropDuplicates("doc1", "doc2")
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding near-dup pairs: cosine over the (cast-to-double) embedding
    * vectors, threshold on the ROUNDED score so engine summation order
    * can't flip inclusion. Pair generation is a broadcast-nested-loop at
    * test scale; the scale path buckets by LSH first (graft.similarity). */
  /** Corpus-size threshold past which the banded near-dup VERIFY stages
    * ([[minHashPairs]] / [[charNGramPairs]]) switch to their 100 TB
    * shape (r13 verdict #5: the two measured dead ends — the r11
    * semi-join verify pruning and the r3 sorted-kernel verify — now
    * exist in code behind this switch instead of only in prose). Far
    * above any locally testable scale BY DESIGN: both shapes were
    * measured REGRESSIONS at sf0.1 (r11: pruning's extra
    * materializations cost more than two full-corpus kernel passes;
    * r3: the per-doc sort dominates when candidates ≈ O(docs)), and
    * both flip sign when candidates ≪ corpus — the regime this
    * threshold gates. */
  private[graft] val VerifyAtScaleDocs = 10000000L

  /** Auto-resolve the verify shape: explicit wins; otherwise
    * file-backed corpora consult the JVM-memoized corpus size (the
    * LshBuckets.corpusSize posture — one cheap parquet-stat count per
    * (files, key) per JVM, shared across the sibling dedup queries; the
    * cached value is a threshold signal, so a filtered caller sharing
    * the same files reuses it) and in-memory test corpora stay on the
    * small shape. */
  private def verifyAtScale(d: DataFrame,
      explicit: Option[Boolean]): Boolean =
    explicit.getOrElse(
      d.inputFiles.nonEmpty && graft.similarity.LshBuckets.corpusSize(
        d, "dedup:verify-at-scale") > VerifyAtScaleDocs)

  /** The exact-Jaccard VERIFY stage shared by [[minHashPairs]] and
    * [[charNGramPairs]], in both shapes:
    *
    *  - '''small''' (default at every locally testable scale): join the
    *    lazily recomputed full shingle table to both pair sides and
    *    `array_intersect` per pair — MEASURED fastest up to sf0.1
    *    (r11/r3 dead-end notes);
    *  - '''atScale''': checkpoint the candidates, semi-join-prune the
    *    shingle recompute to candidate ids, sort each kept doc's hash
    *    set ONCE, and count intersections with the codegen'd
    *    [[graft.functions.SortedIntersectCount]] two-pointer kernel —
    *    the shape that wins when candidates ≪ corpus (a full-corpus
    *    recompute is two extra 100 TB kernel passes there, and the
    *    per-doc sort amortizes over every pair the doc appears in).
    *
    * Row-identical by construction (sorting a distinct set changes
    * nothing the intersect count sees) — DedupSpec asserts both shapes
    * emit the same rows. */
  private def verifiedJaccard(cand: DataFrame, sh: DataFrame, tau: Double,
      atScale: Boolean): DataFrame = {
    val (pairs, side) =
      if (!atScale) (cand, sh)
      else {
        val c = cand.localCheckpoint(true)
        val ids = c.select(col("doc1").as("doc_id"))
          .union(c.select(col("doc2").as("doc_id"))).distinct()
        val shv = sh.join(ids, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), array_sort(col("sh")).as("sh"))
          .localCheckpoint(true)
        (c, shv)
      }
    val joined = pairs
      .join(side.select(col("doc_id").as("doc1"), col("sh").as("s1")),
        "doc1")
      .join(side.select(col("doc_id").as("doc2"), col("sh").as("s2")),
        "doc2")
    val withCommon =
      if (!atScale)
        joined.withColumn("n_common",
          size(array_intersect(col("s1"), col("s2"))))
      else
        joined.withColumn("n_common",
          graft.functions.SortedIntersectCount(col("s1"), col("s2"))
            .cast("int"))
    withCommon
      .withColumn("jaccard", round(col("n_common") /
        (size(col("s1")) + size(col("s2")) - col("n_common")), 4))
      .filter(col("jaccard") >= tau)
      .select("doc1", "doc2", "n_common", "jaccard")
  }

  /** Hard scope ceiling for [[contamination]] — the one brute baseline
    * whose degenerate case is not merely slow but SUPER-LINEAR on stop
    * words (every common word joins train×test postings with no df cap),
    * so unlike the other declared baselines it gets an outright fence
    * (r13 verdict #4: the LshBuckets.corpusSize posture, applied as a
    * guard instead of a sizing input). */
  private[graft] val MaxBaselineDocs = 1000000L

  /** Fails fast when a declared small-scope BASELINE is handed a corpus
    * it was never meant for. File-backed corpora memoize their count per
    * (files, op) per JVM via [[graft.similarity.LshBuckets.corpusSize]]
    * — sibling registry queries over the same parquet pay one scan;
    * in-memory test corpora are counted directly, never memoized (no
    * file token to invalidate on). */
  private def requireBaselineScope(d: DataFrame, op: String,
      alt: String): Unit = {
    val n =
      if (d.inputFiles.isEmpty) d.count()
      else graft.similarity.LshBuckets.corpusSize(d, s"baseline:$op")
    require(n <= MaxBaselineDocs,
      s"$op is the small-scope BASELINE formulation (uncapped " +
        s"all-common-words candidate join): corpus has $n docs > " +
        s"$MaxBaselineDocs — use $alt, the df-capped scale path")
  }

  /** Decontamination: detect benchmark/test leakage into a training
    * split — cross-split near-duplicate pairs by word-set Jaccard via the
    * same inverted-index candidate join as [[jaccardPairs]], but only
    * across the split boundary. At 100 TB the test side is tiny, so the
    * inverted index of the TEST split is built and the train side streams
    * against it. BASELINE-ONLY: no df cap fences the word join, so a
    * stop word joins every train posting with every test posting —
    * [[requireBaselineScope]] hard-stops past [[MaxBaselineDocs]] docs;
    * [[contaminationAtScale]] is the capped production path. */
  def contamination(d: DataFrame, split: DataFrame, tau: Double): DataFrame = {
    requireBaselineScope(d, "Dedup.contamination", "contaminationAtScale")
    val withSplit = d.join(split.select("doc_id", "split"), "doc_id")
      .select(col("doc_id"), col("split"),
        array_distinct(expr(toksExpr)).as("wset"))
    val sizes = withSplit.select(col("doc_id"), size(col("wset")).as("n"))
    val train = withSplit.filter(col("split") === "train")
      .select(col("doc_id"), explode(col("wset")).as("word"))
    val test = withSplit.filter(col("split") === "test")
      .select(col("doc_id"), explode(col("wset")).as("word"))
    val pairs = train.as("a").join(test.as("b"), col("a.word") === col("b.word"))
      .groupBy(col("a.doc_id").as("train_doc"),
        col("b.doc_id").as("test_doc"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "train_doc")
        .withColumnRenamed("n", "n1"), "train_doc")
      .join(sizes.withColumnRenamed("doc_id", "test_doc")
        .withColumnRenamed("n", "n2"), "test_doc")
      .withColumn("jaccard",
        round(col("n_common") / (col("n1") + col("n2") - col("n_common")), 4))
      .filter(col("jaccard") >= tau)
      .select("train_doc", "test_doc", "n_common", "n1", "n2", "jaccard")
  }

  /** The 100 TB shape of [[contamination]]: UNscoped (no language/shard
    * prefilter), with the inverted index built on the TEST split only —
    * the small side at scale — and a stop-word document-frequency cap on
    * the index so common words can't degenerate the candidate join to
    * all-pairs. Candidates are verified EXACTLY against the full word
    * sets (the cap only prunes candidate discovery, never the Jaccard),
    * so at high tau the result equals the uncapped formulation as long
    * as every contaminated pair shares ≥1 sub-cap word — guaranteed in
    * practice because near-identical docs share their rare words. Spec
    * proves parity with the oracle-checked scoped version on its scope. */
  def contaminationAtScale(d: DataFrame, split: DataFrame, tau: Double,
      maxDf: Int = 100): DataFrame = {
    val withSplit = d.join(split.select("doc_id", "split"), "doc_id")
      .select(col("doc_id"), col("split"),
        array_distinct(expr(toksExpr)).as("wset"))
    val test = withSplit.filter(col("split") === "test")
      .select(col("doc_id").as("test_doc"), col("wset"))
    val train = withSplit.filter(col("split") === "train")
      .select(col("doc_id").as("train_doc"), col("wset"))
    // test-side inverted index, DF-capped: index size is bounded by the
    // test corpus (tiny at scale) minus its stop words
    val testInv = test.select(col("test_doc"), explode(col("wset")).as("word"))
    val rare = testInv.groupBy("word").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("word")
    val idx = testInv.join(rare, "word")
    // the train corpus streams against the index: one equijoin on word,
    // cost ∝ matching postings, never |train| × |test|
    val cand = train
      .select(col("train_doc"), explode(col("wset")).as("word"))
      .join(idx, "word")
      .select("train_doc", "test_doc")
      .dropDuplicates("train_doc", "test_doc")
    // exact verification on the full word sets for candidates only
    cand
      .join(train, "train_doc")
      .withColumnRenamed("wset", "w1")
      .join(test, "test_doc")
      .withColumnRenamed("wset", "w2")
      .withColumn("n_common",
        size(array_intersect(col("w1"), col("w2"))).cast("long"))
      .withColumn("n1", size(col("w1")))
      .withColumn("n2", size(col("w2")))
      .withColumn("jaccard",
        round(col("n_common") / (col("n1") + col("n2") - col("n_common")), 4))
      .filter(col("jaccard") >= tau)
      .select("train_doc", "test_doc", "n_common", "n1", "n2", "jaccard")
  }

  /** Drop accounting for the winnowed-anchor paths (the
    * `lsh_bucket_audit` discipline applied to [[substringPairs]]): one
    * row of corpus-level anchor statistics — total postings, distinct
    * anchors, postings dropped by the boilerplate df-cap, and the
    * realized max document frequency. This is the auditable guarantee
    * that the cap is a fence, not silent recall loss: a pipeline alerts
    * when `n_dropped_boilerplate` jumps (a licence header flooding the
    * corpus) instead of wondering why duplicates slipped through. */
  def substringAnchorAudit(d: DataFrame, k: Int = 40, w: Int = 25,
      maxDf: Int = 50): DataFrame = {
    require(k >= 1 && w >= 1 && maxDf >= 1, s"bad params k=$k w=$w maxDf=$maxDf")
    val freq = winnowRows(d, k, w)
      .groupBy("h").agg(count(lit(1)).as("df"))
    freq.agg(
      sum(col("df")).as("n_anchor_postings"),
      count(lit(1)).as("n_distinct_anchors"),
      sum(when(col("df") > maxDf, col("df")).otherwise(0L))
        .as("n_dropped_boilerplate"),
      max(col("df")).as("max_df"))
  }

  /** Candidate-join COST PLAN for the winnowed-anchor path (r18) — the
    * df HISTOGRAM with exact pair arithmetic: one row per distinct
    * document frequency with the anchor count, total postings, whether
    * the df-cap keeps that stratum, and the candidate pairs the stratum
    * would generate (df·(df−1)/2 per anchor). Read BEFORE running
    * [[substringPairs]] at a new scale: the kept strata's `cand_pairs`
    * sum is the join's exact output bound, and the dropped strata's sum
    * is what the boilerplate cap SAVED — the "predict the blowup before
    * paying for it" planning view, the per-stratum refinement of
    * [[substringAnchorAudit]]'s one-row totals.
    *
    * Numeric contract: df, n_anchors, postings are exact BIGINTs;
    * `cand_pairs` is a DOUBLE on purpose — at 100 TB a dropped
    * boilerplate stratum's df·(df−1)/2·n_anchors overflows BIGINT near
    * df ≈ 3·10⁹ (the quantity is a COST ESTIMATE, not a row count to
    * conserve), and the parenthesized product of exact-integer-valued
    * doubles is one IEEE chain — bit-identical both engines (each
    * factor < 2⁵³). `kept` is an all-integer predicate (2 ≤ df ≤
    * maxDf, the [[substringPairs]] join membership exactly). Scale:
    * one kernel pass + two hash aggs; output bounded by the number of
    * DISTINCT df values (≪ √postings in practice). */
  def anchorCostPlan(d: DataFrame, k: Int = 40, w: Int = 25,
      maxDf: Int = 50): DataFrame = {
    require(k >= 1 && w >= 1 && maxDf >= 1, s"bad params k=$k w=$w maxDf=$maxDf")
    winnowRows(d, k, w)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .groupBy("df").agg(count(lit(1)).as("n_anchors"))
      .select(col("df"), col("n_anchors"),
        (col("df") * col("n_anchors")).as("postings"),
        when(col("df") >= 2L && col("df") <= maxDf, 1L).otherwise(0L)
          .as("kept"),
        ((col("n_anchors").cast("double") * col("df").cast("double")) *
          (col("df") - 1L).cast("double") / lit(2.0)).as("cand_pairs"))
  }

  /** Substring-level decontamination: train docs sharing a VERBATIM
    * character run (≥ k+w-1 chars guaranteed, see [[substringPairs]])
    * with any test doc — the n-gram-overlap decontamination method of
    * the published LLM training reports, done at the character level so
    * tokenizer choice can't shift the boundary. Same posture as
    * [[contaminationAtScale]]: the anchor index is built on the TEST
    * split (the small side at 100 TB) with a document-frequency cap, and
    * the train corpus streams against it as one equijoin. Anchor
    * equality is the evidence (same md5 ⟹ same k-char run), so there is
    * no verify pass and the whole operator is oracle-checkable. */
  def contaminationSubstring(d: DataFrame, split: DataFrame,
      k: Int = 40, w: Int = 25, maxDf: Int = 50): DataFrame = {
    require(k >= 1 && w >= 1 && maxDf >= 1, s"bad params k=$k w=$w maxDf=$maxDf")
    // one kernel pass; the anchor table feeds the test index (cap +
    // postings) and the train probe side
    val anchors = winnowRows(d, k, w)
      .join(split.select("doc_id", "split"), "doc_id")
      .localCheckpoint(true)
    val test = anchors.filter(col("split") === "test")
      .select(col("doc_id").as("test_doc"), col("h"))
    // cap on TEST-side df: a boilerplate anchor across many test docs
    // would degenerate the index join; test-side rarity is what makes
    // an anchor evidential
    val rare = test.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("h")
    val idx = test.join(rare, "h")
    anchors.filter(col("split") === "train")
      .select(col("doc_id").as("train_doc"), col("h"))
      .join(idx, "h")
      .groupBy("train_doc", "test_doc")
      .agg(count(lit(1)).as("n_anchors"))
  }

  /** Near-dup CLUSTERS from a pair list: connected components via
    * iterative min-label propagation (each doc adopts the smallest
    * doc_id reachable through pair edges; iterate to fixpoint). Near-dup
    * graphs are overwhelmingly small star/clique components, so this
    * converges in a handful of rounds; each round is two shuffles on the
    * edge list — the standard large-graph CC-by-join pattern. Output:
    * (doc_id, cluster) where cluster = min doc_id of the component. */
  /** DUPLICATION-PROFILE histogram over a cluster assignment (r17) —
    * the shape-of-redundancy view a curation review reads next to
    * `dedup_report`'s mass totals: per cluster size k, how many
    * non-trivial duplicate clusters exist and how many docs they bind
    * (a corpus whose mass sits in a few size-1000 clusters has a
    * mirror/boilerplate problem; many size-2 clusters is ordinary
    * crawl overlap — the distinction decides whether dedup needs a
    * DF-cap intervention or is routine). The cluster frame is a
    * PARAMETER (the contaminationReport pair-source discipline), so
    * any cluster producer — exact Jaccard, LSH, substring — feeds the
    * same rollup; the oracle embeds the dedup_clusters SQL verbatim.
    * Scale: two map-side-combinable hash aggs over the cluster-sized
    * assignment; output is bounded by the distinct size count. */
  def clusterHistogram(clusters: DataFrame): DataFrame =
    clusters.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))

  def dedupClusters(pairs: DataFrame, maxRounds: Int = 8): DataFrame = {
    require(maxRounds >= 2 && maxRounds % 2 == 0,
      s"maxRounds must be a positive multiple of 2, got $maxRounds")
    // eager localCheckpoint: materializes AND truncates lineage, so each
    // round plans against a flat LogicalRDD instead of a nested tree
    // (lazy caches here made planning itself the bottleneck)
    val edges = pairs.select(col("doc1").as("a"), col("doc2").as("b"))
      .union(pairs.select(col("doc2").as("a"), col("doc1").as("b")))
      .distinct()
      .localCheckpoint(true)
    // Round-1 propagate FUSED (r21, guide §2.4 — remove shuffles
    // outright): at entry every label is the identity, so
    // neighborMin(a) = min over edges of b and the propagate join
    // against identity labels is algebraically the aggregate itself —
    // one exchange replaces the labels-init distinct plus the round-1
    // edges⋈labels join (the symmetrized edge list covers every node
    // as an `a`, so the label set is identical). Rounds after the
    // first run the general join form below.
    var labels: DataFrame = null
    var firstRound = true
    def violations(lbl: DataFrame): Long = edges
      .join(lbl.withColumnRenamed("doc_id", "a")
        .withColumnRenamed("cluster", "ca"), "a")
      .join(lbl.withColumnRenamed("doc_id", "b")
        .withColumnRenamed("cluster", "cb"), "b")
      .filter(col("ca") =!= col("cb")).count()
    // Adaptive rounds: with pointer jumping each round squares the
    // reachable radius, and near-dup components are cliques/stars of
    // diameter ≤ 2 in practice — so run TWO rounds, then check the
    // fixpoint (labels constant across every edge ⟹ every component at
    // its min) and only continue for pathological chain components. The
    // check is one count job; unconditional extra rounds cost two joins
    // + a materialization each.
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      (1 to 2).foreach { _ =>
        val propagated = if (firstRound) {
          firstRound = false
          edges.groupBy(col("a").as("doc_id"))
            .agg(min(col("b")).as("nbr_cluster"))
            .select(col("doc_id"),
              least(col("doc_id"), col("nbr_cluster")).as("cluster"))
        } else {
          val neighborMin = edges
            .join(labels.withColumnRenamed("doc_id", "b")
              .withColumnRenamed("cluster", "b_cluster"), "b")
            .groupBy(col("a").as("doc_id"))
            .agg(min(col("b_cluster")).as("nbr_cluster"))
          labels.join(neighborMin, Seq("doc_id"), "left")
            .select(col("doc_id"),
              least(col("cluster"), coalesce(col("nbr_cluster"), col("cluster")))
                .as("cluster"))
        }
        // pointer jumping (path halving): adopt the label of the current
        // label, collapsing chains in O(log diameter) rounds. The round
        // result is checkpointed: the self-join references `propagated`
        // twice and the next round twice more — without materialization
        // the lineage (and recomputation) doubles every round.
        labels = propagated.as("l")
          .join(propagated.select(col("doc_id").as("cluster"),
            col("cluster").as("cluster2")).as("m"), Seq("cluster"), "left")
          .select(col("doc_id"),
            least(col("cluster"), coalesce(col("cluster2"), col("cluster")))
              .as("cluster"))
          .localCheckpoint(true)
      }
      round += 2
      converged = violations(labels) == 0
    }
    require(converged,
      s"dedupClusters did not converge in $maxRounds rounds; " +
        "component diameter exceeds 2^rounds — raise `maxRounds`")
    labels
  }

  /** Character n-gram Jaccard near-dup pairs — tokenizer-free, works for
    * languages without whitespace segmentation. Candidates come from a
    * SAMPLED inverted index (only n-grams with hash ≡ 0 mod sampleMod are
    * indexed — a near-dup pair shares many n-grams, so it shares sampled
    * ones with high probability), then exact Jaccard on the full distinct
    * n-gram hash sets. Sampling bounds the index to ~1/sampleMod of
    * corpus n-grams — the knob that keeps the candidate join linear at
    * 100 TB.
    *
    * The stop-gram cap is CORPUS-RELATIVE since r15: max(maxDf,
    * n_docs/100). MEASURED at the 20× mirror-pathology stress corpus
    * (tools/stress/): with the old absolute cap, replicating the corpus
    * multiplied every gram's df past 50 and candidate generation
    * silently lost ALL pairs (27 → 0 rows) — an absolute df cap is a
    * recall cliff under exactly the duplication the operator hunts. The
    * relative cap keeps family-specific grams (df scales with the
    * family) while still dropping corpus-wide boilerplate; at sf0.1
    * (5000 docs) it equals the old default, so 1× results are
    * unchanged. Dropped gram mass is ACCOUNTED by
    * [[charNGramGramAudit]] (the lsh_bucket_audit discipline — this cap
    * was the one unaccounted drop in the family). The corpus size is
    * the memoized [[graft.similarity.LshBuckets.corpusSize]] count for
    * file-backed corpora (one scan per (files, key) per JVM); in-memory
    * test frames keep the explicit floor (never memoize those). */
  def charNGramPairs(d: DataFrame, n: Int = 5, tau: Double = 0.7,
      sampleMod: Int = 8, maxDf: Int = 50,
      atScaleVerify: Option[Boolean] = None): DataFrame = {
    val sh = d.select(col("doc_id"),
      array_distinct(CharNGramHashes(lower(col("text")), n)).as("sh"))
    val inv = sh.select(col("doc_id"),
        explode(expr(s"filter(sh, h -> h % $sampleMod = 0)")).as("g"))
    val cap = charNGramCap(d, maxDf)
    // stop-gram cap: grams appearing in more docs don't discriminate
    // and would quadratically blow up the candidate join (any near-dup
    // pair still shares plenty of rarer grams)
    val rare = inv.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap).select("g")
    val pruned = inv.join(broadcast(rare), "g")
    val cand = pruned.as("a").join(pruned.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .dropDuplicates("doc1", "doc2")
    // lazy verify recompute kept as the default — see the minHashPairs
    // measured-regression note (r11); the candidate-pruned sorted-kernel
    // shape exists behind the same corpus-size switch since r16
    verifiedJaccard(cand, sh, tau, verifyAtScale(d, atScaleVerify))
  }

  /** The corpus-relative stop-gram cap of [[charNGramPairs]]:
    * max(floor, n_docs/100) for file-backed corpora, the explicit floor
    * for in-memory frames. */
  private def charNGramCap(d: DataFrame, maxDf: Int): Long =
    if (d.inputFiles.isEmpty) maxDf.toLong
    else math.max(maxDf.toLong, graft.similarity.LshBuckets.corpusSize(
      d, "dedup:char-ngram-cap") / 100L)

  /** Drop accounting for [[charNGramPairs]]'s stop-gram cap (r15 — the
    * lsh_bucket_audit discipline, closing the ONE unaccounted drop in
    * the dedup family, found by the 20× stress run): one row with the
    * sampled gram-membership mass, the distinct gram count, the
    * membership mass dropped by the relative cap, the realized max df,
    * and the cap itself. A `n_dropped_over_cap` approaching
    * `n_gram_memberships` is the recall-cliff signal (the corpus's gram
    * space is saturated — raise the cap floor or the sample rate). */
  def charNGramGramAudit(d: DataFrame, n: Int = 5, sampleMod: Int = 8,
      maxDf: Int = 50): DataFrame = {
    val inv = d.select(col("doc_id"),
        array_distinct(CharNGramHashes(lower(col("text")), n)).as("sh"))
      .select(col("doc_id"),
        explode(expr(s"filter(sh, h -> h % $sampleMod = 0)")).as("g"))
    val cap = charNGramCap(d, maxDf)
    inv.groupBy("g").agg(count(lit(1)).as("df"))
      .agg(
        coalesce(sum(col("df")), lit(0L)).as("n_gram_memberships"),
        count(lit(1)).as("n_grams"),
        coalesce(sum(when(col("df") > cap, col("df")).otherwise(0L)),
          lit(0L)).as("n_dropped_over_cap"),
        coalesce(max(col("df")), lit(0L)).as("max_df"),
        lit(cap).as("df_cap"))
  }

  /** Exact-substring duplicate pairs (the ExactSubstr recipe of
    * training-data dedup): documents sharing a verbatim character run.
    * Candidates come from winnowed content-defined anchors
    * ([[graft.functions.WinnowedAnchors]]: md5 per k-char window, min per
    * w-hash run) — any shared run of length ≥ k+w-1 is GUARANTEED to
    * share an anchor, and anchor equality IS the evidence (same md5 ⟹
    * same k chars), so no separate verify pass is needed and the whole
    * operator is oracle-checkable in ANSI SQL.
    *
    * Scale shape: one linear codegen'd kernel pass per document (no
    * positional explode — winnowing keeps anchors at ~2/(w+1) per
    * position), then a document-frequency-capped anchor equijoin.
    * `maxDf` is the boilerplate fence: an anchor appearing in more docs
    * than that (licence headers, templates) is dropped rather than
    * allowed to quadratically blow up the join — same discipline as the
    * stop-gram cap in [[charNGramPairs]]. Output: (doc1, doc2,
    * n_anchors) — the shared-anchor count, an integer, so no FP rounding
    * contract is needed. */
  def substringPairs(d: DataFrame, k: Int = 40, w: Int = 25,
      maxDf: Int = 50): DataFrame = {
    require(k >= 1 && w >= 1 && maxDf >= 1, s"bad params k=$k w=$w maxDf=$maxDf")
    // length filter prunes before the kernel runs (kernel returns empty
    // for short docs anyway; the filter just pushes to the scan).
    // Eager checkpoint: the anchor table feeds the DF count AND both
    // sides of the pair join — without it the md5 kernel pass runs four
    // times (once per consumer scan)
    val anchors = winnowRows(d, k, w).localCheckpoint(true)
    // kernel output is distinct per doc, so df = document frequency;
    // df >= 2 additionally prunes singleton anchors (no pair can come
    // from them — pure volume optimization, result-identical)
    // NOT a forced broadcast: the df∈[2,maxDf] set scales with duplicate
    // content volume, unbounded at 100 TB — leave the join strategy to
    // AQE, which broadcasts it when it is actually small
    val byDf = anchors.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf).select("h")
    val kept = anchors.join(byDf, "h")
    kept.as("a").join(kept.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("n_anchors"))
  }

  /** Scale path for embedding near-dup: occupancy-safe random-hyperplane
    * LSH (graft.similarity.LshBuckets — adaptive plane count from corpus
    * size, `tables` independent hash tables OR-combined for recall, and a
    * bucket-occupancy cap with one sub-split level so a dense region can
    * never degenerate the self-join to all-pairs). Candidates are the
    * union of within-bucket pairs across tables, deduped BEFORE the
    * cosine so each surviving pair is scored once; the cosine verify is
    * exact, so every emitted pair carries its true (rounded) score.
    * Candidate volume is bounded by tables · Σ|bucket|²/2 with |bucket| ≤
    * maxOccupancy by construction — linear in corpus size at fixed
    * target occupancy. Drop accounting: LshBuckets.audit (registered as
    * `lsh_bucket_audit`). `emb` is a [[graft.similarity.Knn.embOf]]
    * frame: its degenerate vectors are already fenced out. */
  def embeddingPairsLsh(emb: DataFrame, tau: Double,
      planes: Int = 0, tables: Int = 4, targetOccupancy: Long = 128L,
      maxOccupancy: Long = 4096L, n: Long = -1L): DataFrame = {
    import graft.similarity.LshBuckets
    // planes = 0 → derive from corpus size so expected occupancy tracks
    // targetOccupancy at ANY scale; callers that already know the
    // cardinality (table metadata, LshBuckets.corpusSize) pass `n` so a
    // pipeline sizes once instead of one count scan per LSH query
    // (n = -1 → unknown; 0 is a real empty-corpus cardinality)
    val p = if (planes > 0) planes
      else LshBuckets.adaptivePlanes(
        if (n >= 0L) n else emb.count(), targetOccupancy)
    val m = LshBuckets.members(emb, p, tables, maxOccupancy)
    val cand = m.as("a").join(m.as("b"),
        col("a.tbl") === col("b.tbl") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.sub") === col("b.sub") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id1"), col("b.vec_id").as("vec_id2"))
      .dropDuplicates("vec_id1", "vec_id2")
    cand
      .join(emb.select(col("vec_id").as("vec_id1"), col("v").as("v1"),
        col("nrm").as("nrm1")), "vec_id1")
      .join(emb.select(col("vec_id").as("vec_id2"), col("v").as("v2"),
        col("nrm").as("nrm2")), "vec_id2")
      .withColumn("cos_sim",
        round(DotProduct(col("v1"), col("v2")) /
          (col("nrm1") * col("nrm2")), 4))
      .filter(col("cos_sim") >= tau)
      .select("vec_id1", "vec_id2", "cos_sim")
  }

  /** Exact embedding dedup: group on the raw vector (bit-identical
    * doubles — the degenerate mass the LSH occupancy cap deliberately
    * drops), keep the lowest vec_id. One map-side-combinable shuffle on
    * the vector bytes; the companion to [[exact]] for the embedding
    * table, and the documented absorber for `lsh_bucket_audit` drops.
    * It answers about STORED rows, so `emb` is
    * [[graft.similarity.Knn.embStoredRows]]: degenerate vectors group
    * too. */
  def embeddingExact(emb: DataFrame): DataFrame =
    emb.groupBy(col("v"))
      .agg(min(col("vec_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select("keeper", "n_copies")

  def embeddingPairs(emb: DataFrame, tau: Double): DataFrame =
    // norms come with the Knn.embOf frame (once per vector, not per
    // pair, and fenced there — the oracle's squared-norm predicate); the
    // pair loop is the native DotProduct kernel
    emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos_sim",
        round(DotProduct(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm")), 4))
      .filter(col("cos_sim") >= tau)
      .select(col("a.vec_id").as("vec_id1"), col("b.vec_id").as("vec_id2"),
        col("cos_sim"))

  /** Quality-aware keeper selection over near-dup clusters — the stage a
    * production pipeline runs INSTEAD of keep-lowest-id: within each
    * cluster keep the highest-quality member (doc_id asc tie-break on
    * the rounded score, so the choice is deterministic and
    * engine-stable). One hash agg with `max_by` over a struct — a
    * map-side-combinable argmax, never a row_number window over the
    * corpus. Input: (doc_id, cluster) from [[dedupClusters]] and a
    * quality table carrying (doc_id, quality_score). */
  def keeperByQuality(clusters: DataFrame, quality: DataFrame): DataFrame =
    clusters.join(quality.select("doc_id", "quality_score"), "doc_id")
      .groupBy(col("cluster"))
      .agg(
        max_by(col("doc_id"),
          struct(col("quality_score"), (-col("doc_id")).as("neg")))
          .as("keeper"),
        max(col("quality_score")).as("keeper_quality"),
        count(lit(1)).as("n_members"))
      .select("cluster", "keeper", "keeper_quality", "n_members")

  /** Takedown propagation through near-dup clusters — the
    * right-to-be-forgotten pass a training pipeline runs when sources
    * opt out: purged members leave their clusters and each cluster
    * re-elects its keeper among the survivors (keep-lowest-id, the
    * [[dedupClusters]] convention; a fully-purged cluster reports
    * keeper −1). Cluster identity stays that of the full corpus run —
    * membership is filtered, edges are not recomputed — so downstream
    * artifacts keyed by cluster id remain joinable across the purge.
    * One source join + one hash agg over the (small) cluster membership
    * table; the conditional min IS the re-election (no window, no
    * second pass). */
  def purgeReelect(clusters: DataFrame, d: DataFrame,
      optOut: Seq[String]): DataFrame = {
    require(optOut.nonEmpty, "purgeReelect needs at least one opt-out source")
    val flagged = clusters
      .join(d.select(col("doc_id"), col("source")), "doc_id")
      .withColumn("purged", col("source").isInCollection(optOut))
    flagged.groupBy(col("cluster"))
      .agg(
        min(col("doc_id")).as("old_keeper"),
        coalesce(min(when(!col("purged"), col("doc_id"))), lit(-1L))
          .as("new_keeper"),
        count(lit(1)).as("n_members"),
        sum(when(col("purged"), 1L).otherwise(0L)).as("n_purged"))
      .select("cluster", "old_keeper", "new_keeper", "n_members",
        "n_purged")
  }

  /** Per-source exact-dedup savings report — the observability rollup a
    * crawl pipeline publishes after its first dedup pass (the audit-row
    * discipline applied at the report level): docs, distinct contents,
    * duplicate docs, total chars, and chars saved by keeping only the
    * lowest-id copy of each content group. One map-side-combinable agg
    * on (source, digest) then a source rollup — no joins, no windows. */
  def dedupReport(d: DataFrame): DataFrame =
    d.withColumn("digest", md5(lower(trim(col("text")))))
      .withColumn("len", length(col("text")).cast("long"))
      .groupBy(col("source"), col("digest"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("len")).as("sum_chars"),
        min_by(col("len"), col("doc_id")).as("kept_chars"))
      .groupBy(col("source"))
      .agg(
        sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_uniq"),
        sum(col("n") - lit(1L)).as("n_dup"),
        sum(col("sum_chars")).as("chars_total"),
        sum(col("sum_chars") - col("kept_chars")).as("chars_saved"))

  /** Cross-source exact-duplicate matrix — the mirror detector: for each
    * ordered source pair (a < b), how many distinct contents appear in
    * BOTH, and how many doc copies each side holds over those shared
    * contents. A pair with a large shared count is one crawl mirroring
    * another — the provenance question a curation pipeline answers
    * before weighting sources independently.
    *
    * Scale: one (digest, source) distinct-agg, then a digest self-join
    * whose fan-out is bounded by |sources|² per digest (sources are a
    * handful, not a corpus dimension) — never doc-pairwise. */
  def sourceOverlap(d: DataFrame): DataFrame = {
    val g = d
      .groupBy(md5(lower(trim(col("text")))).as("digest"), col("source"))
      .agg(count(lit(1)).as("n"))
    g.as("a").join(g.as("b"),
        col("a.digest") === col("b.digest") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(
        count(lit(1)).as("n_shared_digests"),
        sum(col("a.n")).as("docs_a"),
        sum(col("b.n")).as("docs_b"))
  }

  /** NEAR-duplicate mirror matrix — [[sourceOverlap]]'s blind spot
    * closed: exact digests miss a mirror that rewrites boilerplate or
    * injects banners, while shared ≥ k+w−1-char verbatim runs
    * ([[substringPairs]]) survive both. One row per normalized source
    * pair with pair count and total anchor evidence; the DIAGONAL
    * (source_a = source_b) is the intra-source near-dup mass, read next
    * to the off-diagonal mirror signal. The pair list is the already-
    * fenced substring join (df-capped, never all-pairs); the rollup
    * adds two doc_id equijoins and a sources²-bounded agg. */
  def sourceOverlapNear(d: DataFrame, k: Int = 40, w: Int = 25,
      maxDf: Int = 50): DataFrame = {
    val src = d.select(col("doc_id"), col("source"))
    substringPairs(d, k, w, maxDf)
      .join(src.select(col("doc_id").as("doc1"),
        col("source").as("source_1")), "doc1")
      .join(src.select(col("doc_id").as("doc2"),
        col("source").as("source_2")), "doc2")
      .groupBy(
        least(col("source_1"), col("source_2")).as("source_a"),
        greatest(col("source_1"), col("source_2")).as("source_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("n_anchors")).as("n_anchors"))
  }

  /** Decontamination GOVERNANCE rollup — one row per method over the
    * engine's four cross-split checks (lexical scoped, lexical unscoped,
    * substring, semantic): pair count plus distinct train/test members.
    * The four methods see different contamination (token overlap vs
    * verbatim runs vs paraphrase in embedding space); a release sign-off
    * reads them side by side, which is this row set. Pair sources are
    * PARAMETERS (the doc_similar_topk posture): the registry feeds the
    * oracle-checked operators, a 100 TB run feeds their scale variants
    * (unscoped stays, substring stays, semantic swaps in the IVF probe)
    * and the report composes unchanged. CONTRACT: each frame's FIRST
    * column is the train-side member, SECOND the test-side (callers
    * re-select when the operator emits test first, as the semantic
    * family does). */
  def contaminationReport(methods: Seq[(String, DataFrame)]): DataFrame = {
    require(methods.nonEmpty, "no methods")
    methods.map { case (name, pairs) =>
      val Seq(trainCol, testCol) = pairs.columns.toSeq.take(2)
      pairs.agg(
        count(lit(1)).as("n_pairs"),
        countDistinct(col(trainCol)).as("n_train_members"),
        countDistinct(col(testCol)).as("n_test_members"))
        .select(lit(name).as("method"), col("n_pairs"),
          col("n_train_members"), col("n_test_members"))
    }.reduce(_.unionByName(_))
  }

  /** Persist the winnowed-anchor index of a curated corpus as an external
    * table BUCKETED BY anchor hash — the text-side dual of
    * [[graft.similarity.Knn.writeIvfIndex]]. The index is df-capped at
    * write time (boilerplate anchors never enter it), so an incremental
    * probe inherits the fence for free. At 100 TB this is the offline
    * build a rolling-crawl pipeline runs once per corpus release. */
  def writeAnchorIndex(d: DataFrame, tableName: String, path: String,
      k: Int = 40, w: Int = 25, maxDf: Int = 50, buckets: Int = 8): Unit = {
    require(k >= 1 && w >= 1 && maxDf >= 1, s"bad params k=$k w=$w maxDf=$maxDf")
    // one kernel pass; the anchor table feeds the df count + the kept set
    val anchors = winnowRows(d, k, w).localCheckpoint(true)
    val rare = anchors.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("h")
    // one generation behind the artifact pointer (Staged.commit): the
    // live index serves while the new generation builds
    graft.sources.Staged.commit(d.sparkSession, tableName, path)(_.write() {
      (tbl, p) =>
        anchors.join(rare, "h")
          .repartition(col("h"))
          .write
          .option("path", p)
          .bucketBy(buckets, "h")
          .sortBy("h")
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .saveAsTable(tbl)
    })
  }

  /** Probe the PERSISTED anchor index with a batch of NEW documents —
    * the exact per-doc check [[graft.streaming.Streaming
    * .contaminationStream]] runs per arrival, as ONE stream-static
    * equijoin against the bucketed index (no shard-side df cap: every
    * arriving doc is checked in full, the live-gate semantics —
    * [[incrementalSubstringPairs]] adds the cap for the bulk-shard
    * variant). Same kernel explode, same codepoint length gate, same
    * count rollup as [[contaminationSubstring]]'s train side, so the
    * probe over a replayed corpus equals the batch check row-for-row
    * (StreamingSpec). The index side arrives pre-bucketed on `h` —
    * zero corpus-side Exchange; only the probe batch shuffles. */
  def anchorProbe(spark: SparkSession, tableName: String,
      docs: DataFrame, k: Int = 40, w: Int = 25): DataFrame = {
    require(k >= 1 && w >= 1, s"bad params k=$k w=$w")
    winnowRows(docs, k, w, idAs = "train_doc")
      .join(graft.sources.Staged.table(spark, tableName)
        .select(col("doc_id").as("test_doc"), col("h")), "h")
      .groupBy("train_doc", "test_doc")
      .agg(count(lit(1)).as("n_anchors"))
  }

  /** Incremental substring dedup — the shape a rolling crawl actually
    * runs: a NEW shard streams against the PERSISTED anchor index
    * ([[writeAnchorIndex]]) instead of re-deduping the full corpus. One
    * kernel pass over the shard, then an anchor equijoin where the index
    * side arrives pre-bucketed (no Exchange on the corpus side — the
    * shard is the only thing that shuffles, exactly the IVF-search join
    * shape). The shard side carries its own df cap so a boilerplate
    * anchor INSIDE the new shard can't degenerate the probe; the index
    * was capped at write time. Output: (new_doc, corpus_doc, n_anchors) —
    * anchor equality is the evidence (same md5 ⟹ same k-char run), no
    * verify pass, same contract as [[substringPairs]].
    *
    * Boundary approximation vs a full re-dedup: each df cap is applied
    * on its OWN side (corpus df at write time, shard df at probe time),
    * so an anchor with corpus-df ≤ maxDf and shard-df ≤ maxDf but
    * union-df > maxDf still yields pairs where a full [[substringPairs]]
    * over corpus+shard would drop it. That is the inherent price of not
    * rebuilding the index per shard — the incremental run can only
    * over-report near the cap boundary, never silently drop — and the
    * oracle (`dedup_incremental`) checks exactly this per-side-cap
    * semantics. */
  def incrementalSubstringPairs(spark: SparkSession, tableName: String,
      newDocs: DataFrame, k: Int = 40, w: Int = 25,
      maxDf: Int = 50): DataFrame = {
    require(k >= 1 && w >= 1 && maxDf >= 1, s"bad params k=$k w=$w maxDf=$maxDf")
    val shard = winnowRows(newDocs, k, w, idAs = "new_doc")
      .localCheckpoint(true) // feeds the df cap + the probe
    val rare = shard.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("h")
    shard.join(rare, "h")
      .join(graft.sources.Staged.table(spark, tableName)
        .select(col("doc_id").as("corpus_doc"), col("h")), "h")
      .groupBy("new_doc", "corpus_doc")
      .agg(count(lit(1)).as("n_anchors"))
  }
}
