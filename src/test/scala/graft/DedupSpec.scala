package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.PolyHash64

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Tiny planted corpus: d1≈d2 near-dups, d3 disjoint, d4=d1 exact. */
  private def plantedDocs = Seq(
    (1L, "en", "the quick brown fox jumps over the lazy dog and runs far away home tonight"),
    (2L, "en", "the quick brown fox jumps over the lazy dog and runs far away home today"),
    (3L, "en", "completely different words about spark catalyst tungsten shuffles and partitions everywhere"),
    (4L, "en", "the quick brown fox jumps over the lazy dog and runs far away home tonight"),
  ).toDF("doc_id", "lang", "text")

  test("exact dedup groups identical docs under one keeper") {
    val groups = Dedup.exact(plantedDocs).collect()
    assert(groups.length == 3)
    val dupGroup = groups.find(_.getAs[Long]("n_copies") == 2).get
    assert(dupGroup.getAs[Long]("keeper") == 1L)
  }

  test("minhash LSH finds the planted near-dup pair and not the disjoint doc") {
    val pairs = Dedup.minHashPairs(plantedDocs, tau = 0.5)
      .select("doc1", "doc2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 4L))) // exact dup must always band together
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("the at-scale verify shape is row-identical to the default, minhash and char-ngram") {
    // r13 verdict #5: the 100 TB verify configuration (candidate-pruned
    // recompute + per-doc sort + SortedIntersectCount kernel) must emit
    // EXACTLY the rows of the measured-fastest local shape — sorting a
    // distinct hash set changes nothing the intersect count sees. Use
    // the sf corpus so real near-dup structure exercises both shapes.
    val docs = graft.text.TextOps.docs(spark, SF)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val mhSmall = rows(Dedup.minHashPairs(docs,
      atScaleVerify = Some(false)))
    val mhScale = rows(Dedup.minHashPairs(docs,
      atScaleVerify = Some(true)))
    assert(mhSmall.nonEmpty && mhSmall == mhScale,
      s"minhash ${mhSmall.size} vs ${mhScale.size}")
    val cnSmall = rows(Dedup.charNGramPairs(docs,
      atScaleVerify = Some(false)))
    val cnScale = rows(Dedup.charNGramPairs(docs,
      atScaleVerify = Some(true)))
    assert(cnSmall.nonEmpty && cnSmall == cnScale,
      s"char-ngram ${cnSmall.size} vs ${cnScale.size}")
    // the auto default on this (small, file-backed) corpus is the
    // small shape: registered behavior unchanged
    assert(rows(Dedup.minHashPairs(docs)) == mhSmall)
  }

  test("minhash estimated jaccard equals exact shingle jaccard (verified pairs)") {
    // verification step recomputes exact jaccard from full shingle sets,
    // so any reported pair must match a direct computation
    val reported = Dedup.minHashPairs(plantedDocs, tau = 0.5)
      .filter(col("doc1") === 1L && col("doc2") === 4L)
      .select("jaccard").collect()
    assert(reported.nonEmpty && reported.head.getDouble(0) == 1.0)
  }

  test("simhash: identical docs hamming 0; near-dups close; disjoint not paired") {
    val pairs = Dedup.simHashPairs(plantedDocs, maxHamming = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs(( 1L, 4L)) == 0L)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash occupancy cap: a degenerate bucket is excluded, not exploded") {
    import spark.implicits._
    // 40 identical docs land in ONE bucket of every band (identical
    // simhash); with cap 10, all four band buckets are over cap → zero
    // candidate pairs from this mass (exact dedup's job), instead of a
    // 40²/2 self-join per band
    val clones = (1L to 40L)
      .map(i => (i, "en", "same exact duplicated text body for all"))
      .toDF("doc_id", "lang", "text")
    assert(Dedup.simHashPairs(clones, maxHamming = 3,
      maxOccupancy = 10L).count() == 0L)
    // the default cap leaves the small planted corpus untouched
    val pairs = Dedup.simHashPairs(plantedDocs, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("minhash occupancy cap: a near-clone mass is excluded, not exploded") {
    import spark.implicits._
    // 40 near-identical docs — one differing trailing token each, so
    // exact dedup does NOT absorb them — share most shingles and band
    // together heavily; byte-identical clones would land in ONE bucket of
    // every band. With cap 10, over-cap (band, sig) buckets are excluded
    // from candidate generation instead of a 40²/2 self-join per band.
    val base = "same long duplicated text body shared by every clone in this mass entirely"
    val clones = (1L to 40L)
      .map(i => (i, "en", s"$base token$i"))
      .toDF("doc_id", "lang", "text")
    val capped = Dedup.minHashPairs(clones, tau = 0.5, maxOccupancy = 10L)
    // bound, not zero: the differing token perturbs SOME bands under the
    // cap on some pairs — what must vanish is the quadratic mass
    assert(capped.count() < 100L)
    // the audit row accounts for the drop: every membership counted,
    // dropped mass > 0, max occupancy reports the degenerate bucket
    val audit = Dedup.minHashBandAudit(clones, maxOccupancy = 10L).head()
    assert(audit.getAs[Long]("n_dropped_over_cap") > 0L)
    assert(audit.getAs[Long]("max_occupancy") > 10L)
    assert(audit.getAs[Long]("n_band_memberships") == 40L * 16L)
    // the default cap leaves the small planted corpus untouched
    val pairs = Dedup.minHashPairs(plantedDocs, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
    val normal = Dedup.minHashBandAudit(plantedDocs).head()
    assert(normal.getAs[Long]("n_dropped_over_cap") == 0L)
  }

  test("char n-gram pairs find the planted near-dup, skip the disjoint doc") {
    val pairs = Dedup.charNGramPairs(plantedDocs, n = 5, tau = 0.5,
      sampleMod = 2).collect()
      .map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2"))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("char n-gram stop-gram cap is corpus-relative on file-backed " +
      "corpora and its audit accounts the dropped gram mass") {
    import spark.implicits._
    // the 20× stress finding, reproduced in miniature: replicate a tiny
    // corpus so every gram's df exceeds the explicit floor — an
    // ABSOLUTE cap drops everything (0 pairs); the relative cap (here
    // forced via maxDf ≥ the replicated df) keeps the family pairs
    val fams = (0 until 6).map(f =>
      ((1 to 40).map(i => s"w${f}x$i").mkString("")))
    val reps = for (f <- 0 until 6; k <- 0 until 8)
      yield (f * 100L + k, fams(f))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cn_cap").toString
    reps.toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    // absolute floor 4 < 8 copies per family: every gram over the cap —
    // with a 48-doc corpus the relative term (n/100 = 0) keeps floor 4,
    // so the absolute cliff is visible...
    val cliff = Dedup.charNGramPairs(docs, n = 5, tau = 0.9,
      sampleMod = 2, maxDf = 4).count()
    assert(cliff == 0L, s"expected the recall cliff, got $cliff pairs")
    // ...and the audit ACCOUNTS it: every sampled membership dropped
    val a = Dedup.charNGramGramAudit(docs, n = 5, sampleMod = 2,
      maxDf = 4).head()
    assert(a.getAs[Long]("n_dropped_over_cap") ==
      a.getAs[Long]("n_gram_memberships"))
    assert(a.getAs[Long]("n_gram_memberships") > 0L)
    assert(a.getAs[Long]("max_df") >= 8L)
    assert(a.getAs[Long]("df_cap") == 4L)
    // a cap at or above the family df restores every within-family pair
    val ok = Dedup.charNGramPairs(docs, n = 5, tau = 0.9,
      sampleMod = 2, maxDf = 8).count()
    assert(ok == 6L * 8L * 7L / 2L, s"got $ok pairs")
    val a2 = Dedup.charNGramGramAudit(docs, n = 5, sampleMod = 2,
      maxDf = 8).head()
    assert(a2.getAs[Long]("n_dropped_over_cap") == 0L)
  }

  test("jaccard pairs on real data are symmetric-free and above threshold") {
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    val p = Dedup.jaccardPairs(docs, "de", 0.5)
    val rows = p.collect()
    assert(rows.forall(r => r.getAs[Long]("doc1") < r.getAs[Long]("doc2")))
    assert(rows.forall(_.getAs[Double]("jaccard") >= 0.5))
  }

  test("embedding pairs respect the rounded threshold") {
    val emb = graft.similarity.Knn.emb(spark, SF)
    val rows = Dedup.embeddingPairs(emb, 0.3).collect()
    assert(rows.forall(_.getAs[Double]("cos_sim") >= 0.3))
  }

  test("lsh embedding pairs are a sound subset of brute-force pairs") {
    val emb = graft.similarity.Knn.emb(spark, SF)
    val brute = Dedup.embeddingPairs(emb, 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.embeddingPairsLsh(emb, 0.3).collect()
    assert(lsh.nonEmpty)
    // no false positives: every LSH pair is a brute pair with equal score
    assert(lsh.forall { r =>
      brute.get((r.getLong(0), r.getLong(1))).contains(r.getDouble(2))
    })
  }

  test("unscoped at-scale contamination matches the scoped formulation on its scope") {
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    val fr = docs.filter(col("lang") === "fr")
    val split = graft.text.TextOps.splitAssign(fr, 13)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("train_doc"), r.getAs[Long]("test_doc")) ->
        (r.getAs[Long]("n_common"), r.getAs[Double]("jaccard"))
    val scoped = Dedup.contamination(fr, split, tau = 0.9)
      .collect().map(key).toMap
    val atScale = Dedup.contaminationAtScale(fr, split, tau = 0.9)
      .collect().map(key).toMap
    assert(scoped.nonEmpty)
    assert(atScale == scoped)
  }

  test("contamination baseline scope is FENCED: an over-bound corpus fails a named require") {
    // r13 verdict #4: the uncapped all-common-words join is the one
    // brute baseline whose degenerate case is super-linear on stop
    // words — past MaxBaselineDocs it must hard-stop, naming the
    // capped path, before any join is planned
    import spark.implicits._
    val big = spark.range(Dedup.MaxBaselineDocs + 1)
      .select(col("id").as("doc_id"), lit("en").as("lang"),
        lit("some words").as("text"))
    val split = Seq((0L, "train")).toDF("doc_id", "split")
    val ex = intercept[IllegalArgumentException] {
      Dedup.contamination(big, split, tau = 0.9)
    }
    assert(ex.getMessage.contains("BASELINE") &&
      ex.getMessage.contains("contaminationAtScale"), ex.getMessage)
    // in-scope corpora are untouched (the oracle-checked default path)
    val small = big.limit(4)
    Dedup.contamination(small, split, tau = 0.9) // must not raise
  }

  test("keeper by quality picks the best-quality member, doc_id breaks rounded ties") {
    import spark.implicits._
    // clusters {1,2,5} and {7,8}; quality makes 5 the winner of the
    // first and leaves 7/8 tied — tie must go to the LOWER doc_id
    val clusters = Seq((1L, 1L), (2L, 1L), (5L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster")
    val quality = Seq((1L, 0.25), (2L, 0.5), (5L, 0.75), (7L, 0.5),
      (8L, 0.5)).toDF("doc_id", "quality_score")
    val got = Dedup.keeperByQuality(clusters, quality).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getLong(3)))).toMap
    assert(got == Map(1L -> ((5L, 0.75, 3L)), 7L -> ((7L, 0.5, 2L))))
  }

  test("purge re-election: survivors take over, empty clusters report -1") {
    import spark.implicits._
    // cluster 1: keeper 1 purged → 2 takes over; cluster 7: untouched;
    // cluster 9: fully purged → new keeper -1
    val clusters = Seq((1L, 1L), (2L, 1L), (5L, 1L), (7L, 7L), (8L, 7L),
      (9L, 9L), (10L, 9L)).toDF("doc_id", "cluster")
    val docs = Seq((1L, "bad"), (2L, "ok"), (5L, "ok"), (7L, "ok"),
      (8L, "ok"), (9L, "bad"), (10L, "worse"))
      .toDF("doc_id", "source")
    val got = Dedup.purgeReelect(clusters, docs, Seq("bad", "worse"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      1L -> ((1L, 2L, 3L, 1L)),
      7L -> ((7L, 7L, 2L, 0L)),
      9L -> ((9L, -1L, 2L, 2L))))
  }

  test("dedup report: per-source savings account for every duplicate char") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "same text"), (2L, "a", "same text"), (3L, "a", "other"),
      (4L, "b", "unique content here"),
    ).toDF("doc_id", "source", "text")
    val got = Dedup.dedupReport(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // source a: 3 docs, 2 uniq, 1 dup, chars 9+9+5=23, saved 9
    assert(got("a") == ((3L, 2L, 1L, 23L, 9L)))
    assert(got("b") == ((1L, 1L, 0L, 19L, 0L)))
  }

  test("dedup clusters: transitive pairs collapse to one component") {
    import spark.implicits._
    // edges: 1-2, 2-5, 7-8 → components {1,2,5}, {7,8}
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 8L)).toDF("doc1", "doc2")
    val clusters = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(5L) == 1L)
    assert(clusters(7L) == 7L && clusters(8L) == 7L)
  }

  test("clusters over minhash == clusters over exact jaccard at τ=1 (total band recall)") {
    import spark.implicits._
    // At τ=1.0 the minhash path is provably lossless: identical shingle
    // sets produce identical signatures, hence identical keys in EVERY
    // band (recall 1), and the exact verify step kills any banding false
    // positive — so the LSH composition must equal clustering the exact
    // τ=1.0 Jaccard pairs. CAVEAT (why this holds only for THIS corpus):
    // minhash measures shingle-set Jaccard while jaccardPairs measures
    // word-SET Jaccard, so two docs with the same words REORDERED have
    // word-set Jaccard 1 but different shingle sets — planting such a
    // pair here would break the asserted equality (the divergence test
    // below pins that behavior). Clone groups {1,4,9} and {2,5}; 3 and 6
    // are distinct; 10 is a NEAR-dup of group 1 (jaccard < 1) and must
    // be excluded on both sides; no doc is a word-reorder of another.
    val corpus = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog and runs far away home tonight"),
      (2L, "en", "pack my box with five dozen liquor jugs before the long winter arrives early"),
      (3L, "en", "completely different words about spark catalyst tungsten shuffles and partitions everywhere"),
      (4L, "en", "the quick brown fox jumps over the lazy dog and runs far away home tonight"),
      (5L, "en", "pack my box with five dozen liquor jugs before the long winter arrives early"),
      (6L, "en", "sphinx of black quartz judge my vow while wizards jump quickly over fences"),
      (9L, "en", "the quick brown fox jumps over the lazy dog and runs far away home tonight"),
      (10L, "en", "the quick brown fox jumps over the lazy dog and runs far away home today"),
    ).toDF("doc_id", "lang", "text")
    val viaLsh = Dedup.dedupClusters(Dedup.minHashPairs(corpus, tau = 1.0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaExact = Dedup.dedupClusters(Dedup.jaccardPairs(corpus, "en", 1.0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLsh == viaExact)
    assert(viaLsh ==
      Map(1L -> 1L, 4L -> 1L, 9L -> 1L, 2L -> 2L, 5L -> 2L))
  }

  test("dedup recall audit: hits equal LSH pairs; total recall at τ=1.0") {
    import spark.implicits._
    // real corpus at the registry τ: every LSH-emitted pair is
    // verified-exact, so hits == lsh and recall ≤ 1000 by construction
    val aud = Dedup.dedupRecallAudit(
      graft.text.TextOps.docs(spark, SF)).collect().head
    assert(aud.getAs[Long]("n_hits") == aud.getAs[Long]("n_lsh_pairs"), aud)
    assert(aud.getAs[Long]("n_lsh_pairs") <= aud.getAs[Long]("n_exact_pairs"))
    assert(aud.getAs[Long]("recall_milli") <= 1000L)
    // exact clones: identical shingle sets hash identically in every
    // band → recall exactly 1000
    val clones = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "en", "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "en", "completely different words about catalyst and shuffles"))
      .toDF("doc_id", "lang", "text")
    val c = Dedup.dedupRecallAudit(clones, tau = 1.0).collect().head
    assert(c.getAs[Long]("n_exact_pairs") == 1L, c)
    assert(c.getAs[Long]("recall_milli") == 1000L, c)
    // no qualifying pairs → nothing to recall → 1000 (not a 0/0)
    val lone = Seq((1L, "en", "just one tiny document here today"))
      .toDF("doc_id", "lang", "text")
    val l = Dedup.dedupRecallAudit(lone).collect().head
    assert(l.getAs[Long]("n_exact_pairs") == 0L &&
      l.getAs[Long]("recall_milli") == 1000L, l)
  }

  test("substring pairs: shared run >= k+w-1 chars is guaranteed; disjoint text is not paired") {
    import spark.implicits._
    // shared run of 70 chars (> guarantee length 40+25-1 = 64), embedded
    // at DIFFERENT offsets inside otherwise-unrelated padding — the
    // content-defined anchors must still align; docs 3/4 share nothing
    val run = "the exact same seventy character run of text planted into both documents!"
    assert(run.length >= 64)
    val padA = "completely unrelated prefix material for document number one here "
    val padB = "a different and much longer leading section belonging to document two "
    val corpus = Seq(
      (1L, "en", padA + run + " trailing words for one"),
      (2L, "en", padB + run + " other trailing material"),
      (3L, "en", "this document shares no forty character window with any other document in the corpus"),
      (4L, "en", "and neither does this one because every window of it is unique to itself entirely"),
    ).toDF("doc_id", "lang", "text")
    val pairs = Dedup.substringPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("incremental substring dedup: shard vs persisted index matches the full run's cross slice") {
    import spark.implicits._
    val run = "the exact same seventy character run of text planted into both documents!"
    val corpus = Seq(
      (1L, "en", "corpus doc leading material " + run + " plus trailing words"),
      (2L, "en", "this document shares no forty character window with any other document here"),
    ).toDF("doc_id", "lang", "text")
    val shard = Seq(
      (10L, "en", "new shard document with different padding " + run + " and a tail"),
      (11L, "en", "and neither does this one because every window of it is unique to itself"),
    ).toDF("doc_id", "lang", "text")
    val tbl = "graft_anchor_index_spec"
    val path = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), tbl).toString
    graft.sources.Staged.drop(spark, tbl)
    Dedup.writeAnchorIndex(corpus, tbl, path)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val got = Dedup.incrementalSubstringPairs(spark, tbl, shard)
      val inc = got.collect()
        .map(r => ((r.getLong(1), r.getLong(0)), r.getLong(2))).toMap
      // only the planted cross pair, with the same anchor-count evidence
      // the full (corpus ∪ shard) run reports for it
      val full = Dedup.substringPairs(corpus.union(shard)).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      assert(inc.keySet == Set((1L, 10L)))
      assert(inc((1L, 10L)) == full((1L, 10L)))
      // the persisted index side arrives pre-bucketed: its scan reads
      // bucketed, and the join is never a cartesian
      val p = got.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"), p)
      assert(!p.contains("CartesianProduct"), p)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("substring contamination: only cross-split verbatim overlap is reported") {
    import spark.implicits._
    val run = "the exact same seventy character run of text planted into both documents!"
    val corpus = Seq(
      (1L, "en", "unrelated train-side leading material " + run),
      (2L, "en", "different test document header text " + run + " and a tail"),
      (3L, "en", "another train doc " + run + " sharing the same run as doc one"),
      (4L, "en", "a test document with entirely unique content sharing no window with anything"),
    ).toDF("doc_id", "lang", "text")
    // explicit split: 1,3 train; 2,4 test — docs 1&3 share the run but
    // are both train, so they must NOT be reported
    val split = Seq((1L, "train"), (2L, "test"), (3L, "train"), (4L, "test"))
      .toDF("doc_id", "split")
    val got = Dedup.contaminationSubstring(corpus, split).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (3L, 2L)))
  }

  test("winnowed anchors kernel matches a brute-force reference (incl. non-ascii)") {
    import graft.functions.WinnowedAnchors
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // brute-force reference: code-point windows, O(n·w) min scan
    def ref(text: String, k: Int, w: Int): Set[String] = {
      val cps = text.codePoints().toArray
      val n = cps.length - k + 1
      if (n <= 0) Set.empty
      else {
        val hs = (0 until n).map(i => md5hex(new String(cps, i, k)))
        (0 until n).map(i => hs.slice(i, math.min(i + w, n)).min).toSet
      }
    }
    val texts = Seq(
      "über die brücke läuft ein igel mit çok güzel façade naïve texte",
      "short",
      "a" * 80, // degenerate: every window identical → exactly one anchor
      "the quick brown fox jumps over the lazy dog and keeps on running home tonight",
    )
    val k = 11; val w = 4
    val got = texts.toDF("text")
      .select(WinnowedAnchors(col("text"), k, w).as("a"))
      .collect().map(_.getSeq[String](0).toSet)
    texts.zip(got).foreach { case (t, g) =>
      assert(g == ref(t, k, w), s"mismatch for: $t")
    }
  }

  test("word-reorder pair: word-set jaccard 1 but shingle jaccard < 1 (known divergence)") {
    import spark.implicits._
    // The corpus-dependence caveat of the τ=1.0 parity proof above, made
    // executable: same multiword vocabulary, different order. jaccardPairs
    // (word-set) must pair them at τ=1.0; minHashPairs (shingle-set via
    // exact verify) must NOT — a future corpus edit that plants such a
    // pair in the parity test would silently invalidate its proof sketch.
    val reordered = Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "en", "kappa iota theta eta zeta epsilon delta gamma beta alpha"),
    ).toDF("doc_id", "lang", "text")
    val bySet = Dedup.jaccardPairs(reordered, "en", 1.0).collect()
    assert(bySet.length == 1, "word-set jaccard must see the reorder as identical")
    val byShingle = Dedup.minHashPairs(reordered, tau = 1.0).collect()
    assert(byShingle.isEmpty, "shingle jaccard must see the reorder as distinct")
  }

  test("split assignment is a pure function of doc_id with sane proportions") {
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    val a = graft.text.TextOps.splitAssign(docs, 13).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val b = graft.text.TextOps.splitAssign(docs, 13).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(a == b)
    val trainFrac = a.values.count(_ == "train").toDouble / a.size
    assert(trainFrac > 0.6 && trainFrac < 0.95, s"trainFrac $trainFrac")
  }

  test("stratified sample is deterministic under its seed") {
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    val s1 = graft.text.TextOps.stratifiedSample(docs, 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = graft.text.TextOps.stratifiedSample(docs, 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2)
    assert(s1.nonEmpty && s1.size < docs.count())
  }

  test("source_overlap: planted mirror counted once, disjoint pairs absent") {
    import spark.implicits._
    val d = Seq(
      (1L, "s1", "shared content alpha"),
      (2L, "s2", "shared content alpha"),
      (3L, "s2", "shared content alpha"),  // second copy inside s2
      (4L, "s1", "only in s1"),
      (5L, "s3", "only in s3"))
      .toDF("doc_id", "source", "text")
    val rows = graft.dedup.Dedup.sourceOverlap(d).collect()
    assert(rows.length == 1, rows.mkString(", "))
    val r = rows.head
    assert(r.getAs[String]("source_a") == "s1" &&
      r.getAs[String]("source_b") == "s2")
    assert(r.getAs[Long]("n_shared_digests") == 1L)
    // docs_b counts BOTH s2 copies of the shared content
    assert(r.getAs[Long]("docs_a") == 1L && r.getAs[Long]("docs_b") == 2L)
  }

  test("source_overlap_near: mirrors via verbatim runs, intra-source diagonal") {
    import spark.implicits._
    // an 80-char varied run (>= k+w-1 = 64 guarantees a shared anchor)
    val shared = (1 to 80).map(i => ('a' + (i * 7) % 26).toChar).mkString
    val d = Seq(
      (1L, "srcA", s"prefix one $shared"),
      (2L, "srcB", s"other start $shared trailing part"),   // mirror A<->B
      (3L, "srcA", s"$shared more content inside source a"), // intra-A
      (4L, "srcC", "completely different text with no shared runs at " +
        "all but enough length to pass the forty char gate"))
      .toDF("doc_id", "source", "text")
    val rows = graft.dedup.Dedup.sourceOverlapNear(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // cross-source mirror present (pairs 1-2 and 2-3)
    assert(rows.contains(("srcA", "srcB")), rows.keySet.toString)
    assert(rows(("srcA", "srcB")).getAs[Long]("n_pairs") == 2L)
    // the diagonal: intra-source near-dup mass (pair 1-3)
    assert(rows.contains(("srcA", "srcA")))
    assert(rows(("srcA", "srcA")).getAs[Long]("n_pairs") == 1L)
    // no shared runs with srcC anywhere
    assert(!rows.keySet.exists(k => k._1 == "srcC" || k._2 == "srcC"))
  }

  test("contamination_report: one row per method, empty methods report zero") {
    import spark.implicits._
    val p1 = Seq((1L, 10L), (2L, 10L)).toDF("train_doc", "test_doc")
    val p2 = Seq.empty[(Long, Long)].toDF("train_doc", "test_doc")
    val rep = graft.dedup.Dedup.contaminationReport(
      Seq("m1" -> p1, "m2" -> p2)).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rep.size == 2)
    assert(rep("m1").getAs[Long]("n_pairs") == 2 &&
      rep("m1").getAs[Long]("n_train_members") == 2 &&
      rep("m1").getAs[Long]("n_test_members") == 1)
    assert(rep("m2").getAs[Long]("n_pairs") == 0 &&
      rep("m2").getAs[Long]("n_train_members") == 0 &&
      rep("m2").getAs[Long]("n_test_members") == 0)
  }

  test("contamination_report_ivf: shared methods byte-identical, ivf a subset") {
    def byMethod(name: String) =
      graft.registry.PipelineQueries.queries(name)(spark, SF)
        .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val rep = byMethod("contamination_report")
    val repIvf = byMethod("contamination_report_ivf")
    // the three engine-side lexical/substring methods are ONE definition
    // — the reports can only differ in the semantic pair source
    Seq("lexical_scoped", "lexical_unscoped", "substring").foreach { m =>
      assert(rep(m) == repIvf(m), s"$m: ${rep(m)} vs ${repIvf(m)}")
    }
    // the probe path emits a subset of the brute pairs (KnnSpec proves
    // the pair-level subset; here the report-level counts must agree)
    val brute = rep("semantic").map(_.asInstanceOf[Long])
    val probed = repIvf("semantic_ivf").map(_.asInstanceOf[Long])
    assert(probed.zip(brute).forall { case (p, b) => p <= b },
      s"ivf counts exceed brute: $probed vs $brute")
  }

  test("poly_hash64 is deterministic, empty-seeded, and spread") {
    val vals = plantedDocs.select(PolyHash64(col("text")).as("h"))
      .collect().map(_.getLong(0))
    assert(vals(0) == vals(3)) // identical text
    assert(vals.distinct.length == 3)
    val empty = Seq("").toDF("t").select(PolyHash64(col("t"))).head.getLong(0)
    assert(empty == 7L)
  }

  test("clusterHistogram: planted cluster shapes bin exactly; rollup " +
      "consistent with the assignment") {
    // planted corpus: {1, 2, 4} one near-dup cluster, 3 unpaired → one
    // size-3 cluster, no size-1 bins (singletons have no pairs)
    val clusters = Dedup.dedupClusters(
      Dedup.jaccardPairs(plantedDocs, "en", 0.8))
    val hist = Dedup.clusterHistogram(clusters).collect()
    assert(hist.length == 1, hist.mkString(", "))
    assert(hist(0).getAs[Long]("cluster_size") == 3L)
    assert(hist(0).getAs[Long]("n_clusters") == 1L)
    assert(hist(0).getAs[Long]("n_docs") == 3L)
    // consistency on the real corpus: histogram == a Scala rollup
    val real = Dedup.dedupClusters(
      Dedup.jaccardPairs(graft.text.TextOps.docs(spark, SF), "de", 0.85))
      .collect().groupBy(_.getAs[Long]("cluster")).values
      .groupBy(_.size).map { case (k, cs) => (k.toLong, cs.size.toLong) }
    val got = Dedup.clusterHistogram(Dedup.dedupClusters(
      Dedup.jaccardPairs(graft.text.TextOps.docs(spark, SF), "de", 0.85)))
      .collect()
      .map(r => r.getAs[Long]("cluster_size") ->
        r.getAs[Long]("n_clusters")).toMap
    assert(got == real, s"$got vs $real")
  }

  test("anchorCostPlan: conserves the audit totals and the kept strata " +
      "predict the realized pair join exactly") {
    val d = graft.text.TextOps.docs(spark, SF)
    val plan = Dedup.anchorCostPlan(d).collect()
    val audit = Dedup.substringAnchorAudit(d).collect().head
    // stratum sums must equal the one-row audit's corpus totals
    assert(plan.map(_.getAs[Long]("postings")).sum ==
      audit.getAs[Long]("n_anchor_postings"))
    assert(plan.map(_.getAs[Long]("n_anchors")).sum ==
      audit.getAs[Long]("n_distinct_anchors"))
    assert(plan.map(_.getAs[Long]("df")).max ==
      audit.getAs[Long]("max_df"))
    // the kept strata's cand_pairs is EXACTLY the pair join's total
    // shared-anchor mass: each kept anchor at df d contributes
    // d(d-1)/2 (doc1, doc2, anchor) evidences = Σ n_anchors over pairs
    val predicted = plan.filter(_.getAs[Long]("kept") == 1L)
      .map(_.getAs[Double]("cand_pairs")).sum
    val realized = Dedup.substringPairs(d).agg(
      sum(col("n_anchors"))).collect().head.getLong(0)
    assert(predicted == realized.toDouble,
      s"predicted $predicted vs realized $realized")
    // df = 1 strata predict zero pairs and are never kept
    plan.filter(_.getAs[Long]("df") == 1L).foreach { r =>
      assert(r.getAs[Double]("cand_pairs") == 0.0)
      assert(r.getAs[Long]("kept") == 0L)
    }
  }
}
