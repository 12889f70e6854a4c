package graft

import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.multimodal.Multimodal

class TextSpec extends SparkSpec {

  lazy val docs = TextOps.docs(spark, SF).cache()

  test("stats: token counts are consistent with chars") {
    val rows = TextOps.stats(docs).collect()
    assert(rows.length == docs.count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_uniq_tokens") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Double]("uniq_ratio") <= 1.0)
      assert(r.getAs[Long]("n_chars") > 0)
    }
  }

  test("heavyHitters equals the naive groupBy under hostile partitioning") {
    import spark.implicits._
    // one hot token concentrated in few docs, a medium token spread out,
    // and a long unique-token tail that overflows the k=5 MG capacity
    val hot = (1L to 6L).map(i => (i, "en", Seq.fill(30)("hot").mkString(" ")))
    val med = (7L to 26L).map(i => (i, "en", "med med filler" + i))
    val tail = (27L to 126L).map(i =>
      (i, "en", s"u${i}a u${i}b u${i}c u${i}d u${i}e"))
    // repartition by doc_id so the hot mass lands in few partitions
    val planted = (hot ++ med ++ tail).toDF("doc_id", "lang", "text")
      .repartition(8, col("doc_id"))
    def naive(k: Int) = {
      val w = planted.select(explode(
        expr("filter(split(lower(text), ' '), x -> x != '')")).as("word"))
      val n = w.count()
      w.groupBy("word").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * k > lit(n))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    for (k <- Seq(5, 20, 100)) {
      val got = TextOps.heavyHitters(planted, k).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == naive(k), s"k=$k")
    }
    // the hot token (180 of ~780 tokens) must survive even tiny capacity
    assert(TextOps.heavyHitters(planted, 5).collect()
      .exists(_.getString(0) == "hot"))
  }

  test("wordAssoc: hand-computed PMI on the micro grid; independence " +
      "(pmi 0) and sub-threshold support are excluded") {
    import spark.implicits._
    // lang x bigrams: (p,q)×2 (q,p)×1 (q,r)×1 (r,r)×1, n=5 →
    // pmi(p,q)=pmi(q,p)=pmi(r,r)=ln(2.5), pmi(q,r)=ln(1.25);
    // lang y: (s,s)×3 with cx=cy=n → ratio 1 → snapped pmi 0 → excluded
    val d = Seq(
      (1L, "p q p q r r", "x", "s0"),
      (2L, "s s s s", "y", "s0"),
    ).toDF("doc_id", "text", "lang", "source")
    val got = TextOps.wordAssoc(d, minCount = 1L).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    val ln25 = math.round(math.log(2.5) * 1e6).toDouble / 1e6
    val ln125 = math.round(math.log(1.25) * 1e6).toDouble / 1e6
    assert(got == Map(
      ("x", "p", "q") -> ((2L, 2L, 2L, ln25)),
      ("x", "q", "p") -> ((1L, 2L, 1L, ln25)),
      ("x", "q", "r") -> ((1L, 2L, 2L, ln125)),
      ("x", "r", "r") -> ((1L, 1L, 2L, ln25))), got.toString)
    // support threshold: minCount 2 keeps only the (p,q) pair
    val cut = TextOps.wordAssoc(d, minCount = 2L).collect()
    assert(cut.map(r => (r.getString(1), r.getString(2))).toSet ==
      Set(("p", "q")))
    // phrase density against that dictionary: doc 1 has 5 bigrams of
    // which (p,q) hits TWICE (multiset counting), 2/5 → 400 milli;
    // doc 2's (s,s) is in no dictionary (pmi 0) → density 0
    val pd = TextOps.phraseDensity(d, minCount = 2L).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(pd == Map(1L -> ((5L, 2L, 400L)), 2L -> ((3L, 0L, 0L))),
      pd.toString)
  }

  test("qualityDrift: a uniformly bad source scores negative, a good one positive") {
    import spark.implicits._
    val good = "the value data key " * 20 // 80 tokens, stopword-heavy mix
    val junk = "x"
    val planted = ((1L to 20L).map(i => (i, "en", s"$good doc$i", "good")) ++
      (21L to 40L).map(i => (i, "en", junk, "bad")))
      .toDF("doc_id", "lang", "text", "source")
    val got = TextOps.qualityDrift(planted).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(got.keySet == Set("good", "bad"))
    assert(got("good")._1 == 20L && got("bad")._1 == 20L)
    assert(got("bad")._2 < 0 && got("good")._2 > 0)
    assert(got("good")._2 == -got("bad")._2) // symmetric two-source case
  }

  test("doc_novelty: first occurrence scores 1, a clone scores 0, mixtures in between") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val planted = Seq(
      (1L, "en", base),
      (2L, "en", base), // exact clone of 1 → every 5-gram already seen
      (3L, "en", "lambda mu nu xi omicron pi rho sigma tau upsilon"),
      // doc 4 starts with doc 1's phrasing and ends fresh
      (4L, "en", "alpha beta gamma delta epsilon phi chi psi omega one two"),
    ).toDF("doc_id", "lang", "text")
    val got = TextOps.docNovelty(planted).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_first"), r.getAs[Long]("n_grams"),
          r.getAs[Double]("novelty"))).toMap
    assert(got(1L)._3 == 1.0)
    assert(got(2L) == (0L, got(1L)._2, 0.0))
    assert(got(3L)._3 == 1.0)
    assert(got(4L)._1 > 0L && got(4L)._1 < got(4L)._2)
  }

  test("wordAssoc marginal identities: left and right marginals both " +
      "sum to the lang's bigram total") {
    import org.apache.spark.sql.functions._
    // run unthresholded so the identities cover the whole distribution
    val all = TextOps.wordAssoc(docs, minCount = 1L)
      .filter(col("pmi") > -1e9) // keep everything positive-pmi emits
    // recompute totals from the emitted slice is insufficient (pmi>0
    // filter) — check against the raw bigram count instead
    val pairsTotal = TextOps.bigramPairs(docs)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val lens = docs.select(col("lang"),
        expr("size(filter(split(text, ' '), x -> x != ''))").as("n"))
      .filter(col("n") >= 2)
      .groupBy("lang").agg(sum(col("n") - 1).as("exp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // bigram volume is exactly Σ(len−1) over ≥2-token docs, per lang
    assert(pairsTotal == lens, s"$pairsTotal vs $lens")
    // within the emitted dictionary every row's marginals bound the
    // joint (cx, cy ≥ n_pair) and totals are consistent
    all.collect().foreach { r =>
      val (n, cx, cy) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(cx >= n && cy >= n, r.toString)
    }
  }

  test("budgetCut: admission is monotone in the budget") {
    import org.apache.spark.sql.functions._
    def kept(b: Long) = TextOps.budgetCut(docs, b)
      .filter(col("kept") === 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val k400 = kept(400L); val k800 = kept(800L); val k5000 = kept(5000L)
    assert(k400.nonEmpty && k400.subsetOf(k800) && k800.subsetOf(k5000))
    // and the loosest budget is not yet vacuous at this corpus
    assert(k800.size < k5000.size)
  }

  test("qualityCut: admission is monotone in the keep fraction; " +
      "audit is consistent with the cut") {
    def kept(m: Long) = TextOps.qualityCut(docs, m)
      .filter(col("kept") === 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // target = (n·keep) div 1000 grows with keepMilli, cum_before is
    // fixed per group, so deficit — and with it the ceil threshold —
    // only grows: the kept set must be inclusion-monotone
    val k200 = kept(200L); val k400 = kept(400L); val k800 = kept(800L)
    assert(k200.nonEmpty && k200.subsetOf(k400) && k400.subsetOf(k800))
    assert(k400.size < k800.size)
    // audit columns are a pure rollup of the cut rows
    val byCut = TextOps.qualityCut(docs, 400L).collect()
      .groupBy(_.getAs[String]("source"))
    TextOps.qualityCutAudit(docs, 400L).collect().foreach { a =>
      val g = byCut(a.getAs[String]("source"))
      assert(a.getAs[Long]("n_docs") == g.length.toLong)
      assert(a.getAs[Long]("n_kept") ==
        g.count(_.getAs[Long]("kept") == 1L).toLong)
      assert(a.getAs[Long]("target_keep") ==
        g.length.toLong * 400L / 1000L)
    }
  }

  test("vocabCoverage: OOV mass is monotone in the df band and in the " +
      "train fraction's direction") {
    def oov(minDf: Long) = TextOps.vocabCoverage(docs, minDf = minDf)
      .collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("tokens_oov"), r.getAs[Long]("tokens_total")))
      .toMap
    // a tighter band (higher minDf) can only SHRINK the vocabulary, so
    // per-source OOV mass is non-decreasing; totals are band-invariant
    val d2 = oov(2L); val d3 = oov(3L); val d5 = oov(5L)
    assert(d2.nonEmpty)
    d2.keys.foreach { s =>
      assert(d2(s)._2 == d3(s)._2 && d3(s)._2 == d5(s)._2, s)
      assert(d2(s)._1 <= d3(s)._1 && d3(s)._1 <= d5(s)._1, s)
    }
    // strictness needs a word straddling the band — plant one: "rare"
    // has train df exactly 2 (known at minDf=2, OOV at minDf=3)
    import spark.implicits._
    def split(id: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.charAt(0) < 'd') "train" else "test"
    }
    val tr = (1L to 200L).filter(split(_) == "train").take(2)
    val te = (1L to 200L).filter(split(_) == "test").take(1)
    val planted = Seq(
      (tr(0), "rare", "en", "s0"), (tr(1), "rare rare", "en", "s0"),
      (te(0), "rare", "en", "s0")).toDF("doc_id", "text", "lang", "source")
    def plantedOov(m: Long) = TextOps.vocabCoverage(planted, minDf = m)
      .collect().head.getAs[Long]("tokens_oov")
    assert(plantedOov(2L) == 0L && plantedOov(3L) == 1L)
  }

  test("budgetCut: hard ceiling, tight prefix-closed admission, " +
      "repartition-invariant membership") {
    import org.apache.spark.sql.functions._
    val B = 800L
    val cut = TextOps.budgetCut(docs, B).cache()
    // recompute the draw to audit group structure (hex4 is internal)
    val g = cut.withColumn("hex4", substring(md5(concat_ws(":",
        col("doc_id").cast("string"), lit("budget"))), 1, 4))
      .groupBy("source", "q4", "hex4")
      .agg(sum("n_tok").as("g_tok"),
        min("kept").as("kmin"), max("kept").as("kmax"))
      .collect()
    // admission is group-uniform
    g.foreach(r => assert(r.getLong(4) == r.getLong(5), r.toString))
    g.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val ordered = rows.sortBy(r => (-r.getLong(1), r.getString(2)))
      val flags = ordered.map(_.getLong(4))
      // kept groups form a PREFIX of the (q4 desc, hex4) order
      assert(!flags.sliding(2).exists(p => p.length == 2 &&
        p(0) == 0L && p(1) == 1L))
      val keptTok = ordered.filter(_.getLong(4) == 1L).map(_.getLong(3)).sum
      assert(keptTok <= B) // hard ceiling
      // tightness: the first dropped group would not have fit
      ordered.find(_.getLong(4) == 0L).foreach { first =>
        assert(keptTok + first.getLong(3) > B)
      }
    }
    // membership is a pure function of the corpus, not its partitioning
    val again = TextOps.budgetCut(docs.repartition(7, col("doc_id")), B)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    val base = cut.collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(again == base)
  }

  test("selectionReport: duplicates drop before the budget, funnel is monotone") {
    import spark.implicits._
    // s0: A and B are byte-identical (B loses the election), C distinct
    val d = Seq(
      (1L, "alpha beta gamma delta", "x", "s0"),
      (2L, "alpha beta gamma delta", "x", "s0"),
      (3L, "epsilon zeta eta theta iota", "x", "s0"),
    ).toDF("doc_id", "text", "lang", "source")
    val r = TextOps.selectionReport(d, budget = 100L).collect()
    assert(r.length == 1)
    val row = r.head
    val (nRaw, tokRaw) = (row.getAs[Long]("n_raw"), row.getAs[Long]("tok_raw"))
    val (nDedup, tokDedup) =
      (row.getAs[Long]("n_dedup"), row.getAs[Long]("tok_dedup"))
    val (nSel, tokSel) = (row.getAs[Long]("n_sel"), row.getAs[Long]("tok_sel"))
    assert(nRaw == 3L && tokRaw == 13L)
    // the duplicate left BEFORE selection; the slack budget keeps all
    assert(nDedup == 2L && tokDedup == 9L)
    assert(nSel == 2L && tokSel == 9L)
    assert(row.getAs[Long]("sel_milli") ==
      (2 * 9 * 1000 + 13) / (2 * 13)) // 692
    // funnel monotone under a tight budget too
    val tight = TextOps.selectionReport(d, budget = 5L).collect().head
    assert(tight.getAs[Long]("tok_sel") <= 5L &&
      tight.getAs[Long]("tok_sel") <= tight.getAs[Long]("tok_dedup"))
  }

  test("packManifest: digest is a pure function of pack membership") {
    import org.apache.spark.sql.functions._
    def m(df: org.apache.spark.sql.DataFrame) =
      TextOps.packManifest(df).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    val base = m(docs)
    assert(base.nonEmpty)
    // partitioning never changes a receipt
    assert(m(docs.repartition(7, col("doc_id"))) == base)
    // dropping one doc flips its pack's digest
    val d0 = docs.orderBy("doc_id").select("doc_id").head().getLong(0)
    val without = m(docs.filter(col("doc_id") =!= d0))
    assert(without != base)
  }

  test("pack_assign: packs are contiguous, start at 0 per source, and respect the budget") {
    val budget = 256L
    val rows = TextOps.packAssign(docs, budget).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tok"), r.getAs[Long]("pack_id")))
    assert(rows.length == docs.count())
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val ordered = rs.sortBy(_._2)
      assert(ordered.head._4 == 0L, s"$src first pack")
      // pack ids non-decreasing in doc order, no pack skipped, and each
      // doc's start token falls inside its pack's window
      var startTok = 0L
      var prevPack = 0L
      ordered.foreach { case (_, _, nTok, pack) =>
        assert(pack >= prevPack && pack <= prevPack + math.max(1L, nTok / budget + 1),
          s"$src pack jump $prevPack -> $pack")
        assert(pack == startTok / budget, s"$src pack vs start token")
        startTok += nTok
        prevPack = pack
      }
    }
  }

  test("mm_dedup: byte-identical synthesis collapses, distinct params stay apart") {
    import spark.implicits._
    // bmp params are (id % 32, id % 16): ids 0 and 224 collide
    // (224 = lcm(7,32), so both are bmp rows with params (0,0)); id 7 is
    // the same modality with different dims — the digest group structure
    // must match the parameter-tuple structure exactly
    val media = Multimodal.synthesize(
      Seq((0L, "en", "s"), (224L, "en", "s"), (7L, "en", "s"))
        .toDF("doc_id", "lang", "source"))
    val blobs = media.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Array[Byte]]("blob")).toMap
    assert(java.util.Arrays.equals(blobs(0L), blobs(224L)))
    assert(!java.util.Arrays.equals(blobs(0L), blobs(7L)))
    val groups = Multimodal.exactDedup(media).collect()
      .map(r => r.getAs[Long]("keeper") -> r.getAs[Long]("n_copies")).toMap
    assert(groups == Map(0L -> 2L, 7L -> 1L))
  }

  test("mm_dedup_near: re-encodes pair up; different dims do not; unknowns never bucket") {
    import spark.implicits._
    import graft.multimodal.MediaCodec
    val a = MediaCodec.encodeJpeg(100, 80, 3)
    // a "metadata rewrite" re-encode: same frame header, the JFIF
    // density bytes differ — exact dedup misses it, near-dup must not
    val b = a.clone(); b(14) = 2.toByte; b(16) = 2.toByte
    val c = MediaCodec.encodeJpeg(100, 80, 3) // byte-identical to a
    val d = MediaCodec.encodeJpeg(300, 200, 3) // other dims band
    val junk = Array[Byte](1, 2, 3, 4) // undecodable
    // the video rung: a re-encoded MP4 whose canvas and duration drift
    // within their bands (100→102 px, 100→104 ms) pairs; the format
    // field keeps it out of every image bucket
    val e = MediaCodec.encodeMp4(100, 80, 1000, 10000)
    val f = MediaCodec.encodeMp4(102, 80, 1040, 10000)
    val media = Seq((1L, "s", a), (2L, "s", b), (3L, "s", c),
      (4L, "s", d), (5L, "s", junk), (6L, "s", e), (7L, "s", f))
      .toDF("doc_id", "source", "blob")
    val rows = Multimodal.nearDedup(media).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L), (6L, 7L)))
    // the byte-identical pair verifies at jaccard exactly 1
    val exactPair = rows.find(r =>
      (r.getLong(0), r.getLong(1)) == (1L, 3L)).get
    assert(exactPair.getAs[Double]("jaccard") == 1.0)
  }

  test("mm_dedup_near occupancy cap: an identical-header mass is excluded, not exploded") {
    import spark.implicits._
    import graft.multimodal.MediaCodec
    // 40 byte-identical blobs land in ONE feature bucket per band table;
    // with cap 10 both tables' buckets are excluded from candidate
    // generation (exactDedup's job) instead of a 40²/2 self-join
    val mass = (1L to 40L).map(i => (i, "s", MediaCodec.encodeGif(30, 20)))
      .toDF("doc_id", "source", "blob")
    assert(Multimodal.nearDedup(mass, maxOccupancy = 10L).count() == 0L)
    // the default cap leaves a small corpus untouched (pairs matching in
    // both band tables are deduped before verify)
    assert(Multimodal.nearDedup(mass).count() == 40L * 39L / 2L)
    // the audit row accounts for every membership the cap dropped: 40
    // docs × 2 band tables, both over cap 10, none over the default cap
    val audit = Multimodal.nearDedupAudit(mass, maxOccupancy = 10L)
      .collect().head
    assert(audit.getAs[Long]("n_bucket_memberships") == 80L)
    assert(audit.getAs[Long]("n_buckets") == 2L)
    assert(audit.getAs[Long]("n_dropped_over_cap") == 80L)
    assert(audit.getAs[Long]("max_occupancy") == 40L)
    assert(Multimodal.nearDedupAudit(mass).collect()
      .head.getAs[Long]("n_dropped_over_cap") == 0L)
  }

  test("mm_dedup_near: a resize across a table-0 band boundary is caught by the offset table") {
    import spark.implicits._
    import graft.multimodal.MediaCodec
    // widths 103 vs 105 straddle the table-0 boundary at 104
    // (floor(103/8)=12, floor(105/8)=13) — the r10 single-bucketing
    // missed this pair; the offset table (floor((w+4)/8)=13 for both)
    // must surface it. Heights equal so only width drifts.
    val a = MediaCodec.encodeJpeg(103, 80, 3)
    val b = MediaCodec.encodeJpeg(105, 80, 3)
    val far = MediaCodec.encodeJpeg(240, 80, 3) // genuinely different
    val media = Seq((1L, "s", a), (2L, "s", b), (3L, "s", far))
      .toDF("doc_id", "source", "blob")
    val pairs = Multimodal.nearDedup(media).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("mm_dedup_near_candidates: band multiplicity per pair, superset of verified") {
    import spark.implicits._
    import graft.multimodal.MediaCodec
    // identical dims collide in BOTH band tables (n_tables = 2); the
    // 103/105 boundary drift collides in the offset table only (1)
    val a = MediaCodec.encodeJpeg(103, 80, 3)
    val b = MediaCodec.encodeJpeg(105, 80, 3)
    val c = MediaCodec.encodeJpeg(103, 80, 3) // byte-identical to a
    val far = MediaCodec.encodeJpeg(240, 80, 3)
    val media = Seq((1L, "s", a), (2L, "s", b), (3L, "s", c), (4L, "s", far))
      .toDF("doc_id", "source", "blob")
    val cand = Multimodal.nearDedupCandidates(media).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("n_tables"))
      .toMap
    assert(cand ==
      Map((1L, 2L) -> 1L, (2L, 3L) -> 1L, (1L, 3L) -> 2L), cand.toString)
    // the candidate stage is a superset of the verified pair list by
    // construction (verify only filters) — pin it anyway
    val verified = Multimodal.nearDedup(media).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.nonEmpty && verified.subsetOf(cand.keySet))
  }

  test("mm_transcode_candidates: cross-format same-canvas pairs only, capped, audio excluded") {
    import spark.implicits._
    import graft.multimodal.MediaCodec
    val media = Seq(
      (1L, "s", MediaCodec.encodeBmp(40, 20)),           // bmp 40x20x3
      (2L, "s", MediaCodec.encodeWebp(40, 20)),          // webp 40x20x3 → pair with 1
      (3L, "s", MediaCodec.encodeWebp(40, 20, alpha = true)), // 4ch → no pair
      (4L, "s", MediaCodec.encodeBmp(40, 20)),           // same format as 1 → no pair
      (5L, "s", MediaCodec.encodeGif(40, 20)),           // 1ch → no pair
      (6L, "s", MediaCodec.encodeWav(1, 8000, 400)),     // audio: excluded
      (7L, "s", MediaCodec.encodePng(40, 20, colorType = 2)) // png 3ch → pairs with 1,2,4
    ).toDF("doc_id", "source", "blob")
    val got = Multimodal.transcodeCandidates(media).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 7L), (2L, 4L), (2L, 7L), (4L, 7L)))
    // occupancy cap: a canvas-size flood is excluded, not self-joined
    val flood = (1L to 40L).map(i => (i, "s",
      if (i % 2 == 0) MediaCodec.encodeBmp(40, 20)
      else MediaCodec.encodeWebp(40, 20))).toDF("doc_id", "source", "blob")
    assert(Multimodal.transcodeCandidates(flood, maxOccupancy = 10L)
      .count() == 0L)
    assert(Multimodal.transcodeCandidates(flood).count() == 20L * 20L)
    // planted-transcode synthesis (only id%5==0 image/video rows plant):
    // id 0 (bmp) gains a same-canvas webp clone at id+1e9; id 15 (png)
    // a webp+alpha clone; id 20 (mp4: 20%7=6) a same-canvas bmp "poster
    // frame" — the cross-format video rung; id 170 (1-CHANNEL jpeg:
    // 170%7=2, 170%8=2) must NOT plant — those pairs, only
    val planted = Multimodal.transcodeCandidates(
      Multimodal.synthesizeWithTranscodes(
        Seq((0L, "en", "s"), (15L, "en", "s"), (20L, "en", "s"),
          (170L, "en", "s")).toDF("doc_id", "lang", "source")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted == Set((0L, 1000000000L), (15L, 1000000015L),
      (20L, 1000000020L)))
  }

  test("bm25: term-bearing docs rank by tf and length; no-match docs absent; order-exact sum") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "vector vector vector stream alpha beta gamma"),
      (2L, "en", "vector alpha beta gamma delta epsilon zeta eta"),
      (3L, "en", "alpha beta gamma delta"),
      (4L, "en", "hash window hash window stream vector kappa iota"),
    ).toDF("doc_id", "lang", "text")
    val rows = TextOps.bm25Search(docs, Seq("vector", "stream", "window", "hash"))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_terms_matched"), r.getAs[Double]("score"))).toMap
    assert(!rows.contains(3L)) // no query term
    assert(rows(1L)._1 == 2L && rows(2L)._1 == 1L && rows(4L)._1 == 4L)
    // doc 4 matches all four terms → highest score; doc 1 (3×vector +
    // stream) beats doc 2 (1×vector, longer doc)
    assert(rows(4L)._2 > rows(1L)._2 && rows(1L)._2 > rows(2L)._2)
    assert(rows.values.forall(_._2 > 0.0))
    // deterministic across runs (integer-micro sum: no FP order drift)
    val again = TextOps.bm25Search(docs, Seq("vector", "stream", "window", "hash"))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_terms_matched"), r.getAs[Double]("score"))).toMap
    assert(again == rows)
  }

  test("doc_similar_persisted: probe equals the directed slice of " +
      "doc_similar") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$SF/documents.parquet")
    val tbl = "graft_doc_vec_spec"
    val path = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), tbl).toString
    graft.sources.Staged.drop(spark, tbl)
    graft.sources.Staged.drop(spark, s"${tbl}_vocab")
    TextOps.writeDocVectorIndex(d, tbl, path)
    val pred = substring(md5(concat_ws(":",
      col("doc_id").cast("string"), lit("mlt"))), 1, 1) < "4"
    val got = TextOps.docSimilarPersisted(spark, d, tbl, s"${tbl}_vocab",
      pred)
    val gotSet = got.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    // the engine-vs-engine cross-derivation: the corpus-side pair set
    // restricted to slice endpoints, served directed
    val inSlice = d.filter(pred).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val want = TextOps.docSimilar(d).collect().flatMap { r =>
      val (lang, a, b, s) =
        (r.getString(0), r.getLong(1), r.getLong(2),
          r.getAs[Double]("score"))
      Seq((lang, a, b, s)).filter(_ => inSlice(a)) ++
        Seq((lang, b, a, s)).filter(_ => inSlice(b))
    }.toSet
    assert(want.nonEmpty && gotSet == want,
      s"probe ${gotSet.size} vs slice ${want.size}")
  }

  test("text_search_indexed: persisted probe equals ad-hoc bm25; bucketed scan, pushed filter") {
    val d = spark.read.parquet(s"$SF/documents.parquet")
    val terms = Seq("vector", "stream", "window", "hash")
    val tbl = "graft_text_index_spec"
    val path = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), tbl).toString
    graft.sources.Staged.drop(spark, tbl)
    graft.sources.Staged.drop(spark, s"${tbl}_stats")
    TextOps.writeTextIndex(d, tbl, path)
    val got = TextOps.searchIndex(spark, tbl, terms)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_terms_matched"),
        r.getAs[Double]("score"))).toSet
    val adhoc = key(TextOps.bm25Search(d, terms))
    assert(adhoc.nonEmpty)
    assert(key(got) == adhoc) // the persisted hop is transparent
    // the probe reads the bucketed postings with the term filter pushed
    // to the scan — the index side never rescans or reshuffles
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"), p)
    assert(p.contains("In(term"), p)
  }

  test("doc_keywords: rare terms outrank common ones; k and tie-break respected") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "common common rare1 rare1 rare1 mid"),
      (2L, "en", "common common common mid zebra"),
      (3L, "en", "common mid"),
    ).toDF("doc_id", "lang", "text")
    val rows = TextOps.docKeywords(docs, k = 2).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("rnk")) ->
        (r.getAs[String]("term"), r.getAs[Double]("tfidf")))
      .toMap
    // every doc emits exactly min(k, #terms) rows
    assert(rows.keySet.map(_._1) == Set(1L, 2L, 3L))
    assert(rows.keys.count(_._1 == 1L) == 2)
    // doc 1: rare1 (tf 3, df 1) is the top keyword, far above common
    assert(rows((1L, 1L))._1 == "rare1")
    // doc 2: zebra (df 1) beats mid (df 3) and common (df 3)
    assert(rows((2L, 1L))._1 == "zebra")
    // doc 3: both terms have tfidf 0 at df 3... common < mid lexically
    val d3 = Seq(rows((3L, 1L))._1, rows((3L, 2L))._1)
    assert(d3 == d3.sorted) // equal rounded scores → term-asc order
  }

  test("pipeline_full: composed stages subset correctly and pack deterministically") {
    def run() = TextOps.curateFull(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_tok"), r.getAs[Long]("pack_id")))
    val r1 = run()
    assert(r1.nonEmpty)
    assert(r1.toSet == run().toSet) // deterministic end-to-end
    val ids = r1.map(_._1).toSet
    // every survivor passed the quality gate ...
    val q = TextOps.quality(docs)
      .filter(col("quality_score") >= 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(q))
    // ... is a train-split member (split is a pure function of doc_id) ...
    val train = TextOps.splitAssign(docs, 13)
      .filter(col("split") === "train")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(train))
    // ... and an exact-dedup keeper (copies share a quality score, so the
    // in-pipeline keeper equals the whole-corpus keeper)
    val keepers = graft.dedup.Dedup.exact(docs)
      .select("keeper").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(keepers))
    // packing starts at pack 0 within every source
    r1.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.map(_._4).min == 0L, s"source $src")
    }
  }

  test("source balance: deterministic, per-source counts near cap, keep-all above cap") {
    val cap = 15L
    val a = TextOps.sourceBalance(docs, cap).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val b = TextOps.sourceBalance(docs, cap).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(a == b)
    // each source is Binomial(n_src, cap/n_src): mean = cap, so kept
    // counts concentrate near the cap (loose 4-sigma-ish bounds)
    val perSource = TextOps.sourceBalance(docs, cap)
      .groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    val srcSizes = docs.groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    srcSizes.foreach { case (src, n) =>
      val kept = perSource.getOrElse(src, 0L)
      assert(kept <= n)
      if (n > cap) assert(kept >= cap / 3 && kept <= math.min(n, cap * 2),
        s"$src kept $kept of $n (cap $cap)")
    }
    // cap >= every source: the filter must pass everything through
    assert(TextOps.sourceBalance(docs, 1000000L).count() == docs.count())
  }

  test("quality score is within [0, 1] for every doc") {
    val rows = TextOps.quality(docs).select("quality_score").collect()
    assert(rows.forall { r =>
      val q = r.getDouble(0); q >= 0.0 && q <= 1.0
    })
  }

  test("token_count: every source rolled up, bpe >= ws token totals") {
    val rows = TextOps.tokenCountBySource(docs).collect()
    assert(rows.length == docs.select("source").distinct().count())
    rows.foreach { r =>
      assert(r.getAs[Long]("total_bpe_tokens") >= r.getAs[Long]("total_ws_tokens"))
    }
  }

  test("bigram lm: deterministic transitions score perplexity 1, ambiguous higher") {
    import spark.implicits._
    // the LM is corpus-trained, so the docs use DISJOINT vocabularies:
    // doc 1's contexts each have one continuation, doc 2's 'x' splits
    // three ways
    val corpus = Seq(
      (1L, "s", "a b a b a b"),
      (2L, "s", "x y x z x w")
    ).toDF("doc_id", "source", "text")
    val r = TextOps.lmScoreBigram(corpus).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_transitions"), x.getAs[Double]("perplexity"))).toMap
    assert(r(1L)._1 == 5L && r(1L)._2 == 1.0, r.toString)
    assert(r(2L)._1 == 5L && r(2L)._2 > 1.0, r.toString)
  }

  test("repetition stats flag duplicated n-grams and clear clean docs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "s", "buy now buy now buy now buy now"),       // heavy repetition
      (2L, "s", "every word here appears exactly once today friends")
    ).toDF("doc_id", "source", "text")
    val r = TextOps.repetitionStats(corpus).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_grams"), x.getAs[Long]("n_uniq_grams"),
          x.getAs[Double]("dup_ratio"))).toMap
    // doc 1: 8 toks → 6 trigrams, only 2 distinct ("buy now buy",
    // "now buy now") → dup_ratio 4/6
    assert(r(1L) == ((6L, 2L, 0.6667)))
    // doc 2: all trigrams unique
    assert(r(2L)._1 == r(2L)._2 && r(2L)._3 == 0.0)
  }

  test("bpe training learns the planted high-frequency merges in order") {
    import spark.implicits._
    // 'lo' is the most frequent adjacent pair (5+2+2=9 via low/lower/
    // lowest... plus 'slow'); classic Sennrich toy corpus shape
    val corpus = Seq(
      (1L, "src", "low low low low low"),
      (2L, "src", "lower lower newest newest"),
      (3L, "src", "newest newest newest widest")).toDF("doc_id", "source", "text")
    val (vocab, merges) = TextOps.bpeTrain(corpus, numMerges = 10)
    assert(merges.nonEmpty)
    // most frequent pairs dominate the early merges: 'es'+'t' chain or
    // 'l'+'o' must appear among the first learned merges
    assert(merges.take(3).exists { case (a, b) =>
      (a == "l" && b == "o") || (a == "e" && b == "s") || (a == "es" && b == "t")
    }, merges.toString)
    val rows = vocab.collect()
    rows.foreach { r =>
      val word = r.getAs[String]("word")
      val syms = r.getSeq[String](r.fieldIndex("syms"))
      assert(syms.mkString == word) // segmentation concatenates to the word
      assert(r.getAs[Long]("n_bpe") == syms.length)
      assert(syms.length <= word.length)
    }
    // 'low' (freq 7 with 'lower') must compress below its char count
    val low = rows.find(_.getAs[String]("word") == "low").get
    assert(low.getAs[Long]("n_bpe") < 3L)
  }

  test("bpe with zero merges counts characters; merges only reduce counts") {
    import spark.implicits._
    val corpus = Seq((1L, "a", "abab abab cdcd"), (2L, "b", "abab xyz"))
      .toDF("doc_id", "source", "text")
    val zero = TextOps.tokenCountBpe(corpus, numMerges = 0).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("total_bpe_tokens"))
      .toMap
    // no merges → every word is character-split: 'abab abab cdcd' = 12
    assert(zero("a") == 12L && zero("b") == 7L)
    val merged = TextOps.tokenCountBpe(corpus, numMerges = 8).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("total_bpe_tokens"))
      .toMap
    assert(merged("a") < zero("a") && merged("b") <= zero("b"))
    // determinism: same corpus, same merges → identical counts
    val again = TextOps.tokenCountBpe(corpus, numMerges = 8).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("total_bpe_tokens"))
      .toMap
    assert(again == merged)
  }

  test("docSimilarTopK: per-doc cut bounded, ranks consecutive, symmetric plant") {
    import spark.implicits._
    val rows = TextOps.docSimilarTopK(docs).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq == (1L to g.length))
      val sc = sorted.map(_.getAs[Double]("score"))
      assert(sc.toSeq == sc.sortBy(-_).toSeq) // non-increasing down the rank
      assert(g.length <= 5)
    }
    // planted: identical docs serve each other as rank-1 at exactly 1.0
    val planted = Seq(
      (1L, "en", "alpha beta gamma common"),
      (2L, "en", "alpha beta gamma common"),
      (3L, "en", "delta epsilon zeta common"),
      (4L, "en", "delta epsilon zeta common"),
      (5L, "en", "eta theta iota common")).toDF("doc_id", "lang", "text")
    val top = TextOps.docSimilarTopK(planted, k = 2, tau = 0.5,
      minDf = 2, maxDfTenths = 9).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("similar_id"), r.getAs[Double]("score"),
          r.getAs[Long]("rnk"))).toMap
    assert(top(1L) == ((2L, 1.0, 1L)) && top(2L) == ((1L, 1.0, 1L)))
    assert(top(3L) == ((4L, 1.0, 1L)) && top(4L) == ((3L, 1.0, 1L)))
    assert(!top.contains(5L)) // no in-band mass → never served
  }

  test("docSimilarPrefix equals docSimilar row-for-row and actually prunes") {
    import spark.implicits._
    // real corpus at the spec SF, default parameters
    val want = TextOps.docSimilar(docs).collect().map(_.toSeq).toSet
    val got = TextOps.docSimilarPrefix(docs).collect().map(_.toSeq).toSet
    assert(got == want, s"prefix ${got.size} vs blocked ${want.size}")
    assert(want.nonEmpty) // vacuous equality proves nothing
    // the planted corpus from the docSimilar spec must agree too
    val planted = Seq(
      (1L, "en", "alpha beta gamma common"),
      (2L, "en", "alpha beta gamma common"),
      (3L, "en", "delta epsilon zeta common"),
      (4L, "en", "delta epsilon zeta common"),
      (5L, "en", "eta theta iota common"),
      (6L, "fr", "alpha beta gamma common")).toDF("doc_id", "lang", "text")
    val wantP = TextOps.docSimilar(planted, tau = 0.5, minDf = 2,
      maxDfTenths = 9).collect().map(_.toSeq).toSet
    val gotP = TextOps.docSimilarPrefix(planted, tau = 0.5, minDf = 2,
      maxDfTenths = 9).collect().map(_.toSeq).toSet
    assert(gotP == wantP && wantP.nonEmpty)
  }

  test("requireInjectiveTermHash: real hash passes, planted collision fires") {
    import spark.implicits._
    val vocab = Seq(("en", "alpha"), ("en", "beta"), ("fr", "alpha"))
      .toDF("lang", "term")
    TextOps.requireInjectiveTermHash(vocab) // the production hash
    // a planted colliding hash (constant) must FIRE the guard — the
    // failure mode the kernel's key contract forbids is detected, not
    // silently merged into the dot
    val err = intercept[IllegalArgumentException] {
      TextOps.requireInjectiveTermHash(vocab, lit(0L))
    }
    assert(err.getMessage.contains("collision"), err.getMessage)
    // equal hashes ACROSS languages are not collisions (the pair join
    // blocks on lang — that is the whole point of the lang salt)
    TextOps.requireInjectiveTermHash(vocab,
      when(col("term") === "alpha", lit(1L)).otherwise(lit(2L)))
  }

  test("docSimilarTopKFrom over the prefix pair source equals the blocked cut") {
    // the serving composition registered as doc_similar_topk_prefix:
    // identical pair sources (previous test) must give an identical cut
    // — this is what lets both registry rows share one oracle SQL
    val blocked = TextOps.docSimilarTopK(docs).collect().map(_.toSeq).toSet
    val prefix = TextOps.docSimilarTopKFrom(TextOps.docSimilarPrefix(docs))
      .collect().map(_.toSeq).toSet
    assert(prefix == blocked && blocked.nonEmpty,
      s"prefix cut ${prefix.size} vs blocked cut ${blocked.size}")
  }

  test("persisted BPE model: merge list round-trips, indexed apply equals in-query") {
    val tbl = "graft_bpe_model_spec"
    val path = java.nio.file.Files
      .createTempDirectory("bpe_model").toString + "/m"
    graft.sources.Staged.drop(spark, tbl)
    graft.sources.Staged.drop(spark, s"${tbl}_merges")
    val (_, trained) = TextOps.bpeTrain(docs, numMerges = 40)
    TextOps.writeBpeModel(docs, tbl, path, numMerges = 40)
    // the model artifact round-trips exactly, in merge order
    val persisted = graft.sources.Staged.table(spark, s"${tbl}_merges")
      .orderBy("merge_rank").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    assert(persisted == trained, s"$persisted vs $trained")
    // train-once/apply-per-batch is transparent to the result
    val direct = TextOps.tokenCountBpe(docs, numMerges = 40).collect()
      .map(_.toSeq).toSet
    val indexed = TextOps.tokenCountBpeIndexed(spark, tbl, docs).collect()
      .map(_.toSeq).toSet
    assert(indexed == direct)
  }

  /** Escape a learned BPE symbol for a SQL lambda literal (parity oracle). */
  private def sqlLit(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  /** The round-3 in-engine DataFrame merge loop, kept verbatim as the
    * parity oracle for the driver-local trainer (2 Spark jobs per merge —
    * correct but serialized, which is why production bpeTrain moved the
    * loop driver-local over the bounded vocab). */
  private def bpeMergesInEngine(d: org.apache.spark.sql.DataFrame,
      numMerges: Int): Seq[(String, String)] = {
    var vocab = d
      .withColumn("toks", expr("filter(split(lower(text), ' '), x -> x != '')"))
      .select(explode(col("toks")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.length < numMerges) {
      val top = vocab
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "i -> struct(syms[i] AS a, syms[i + 1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty || top.head.getAs[Long]("cnt") < 2L) done = true
      else {
        val (a, b) = (top.head.getAs[String]("a"), top.head.getAs[String]("b"))
        merges += ((a, b))
        vocab = vocab.withColumn("syms", expr(
          s"""aggregate(syms, cast(array() as array<string>),
             (acc, x) -> if(size(acc) > 0
                            AND element_at(acc, -1) = '${sqlLit(a)}'
                            AND x = '${sqlLit(b)}',
                          concat(slice(acc, 1, size(acc) - 1),
                            array('${sqlLit(a + b)}')),
                          concat(acc, array(x))))"""))
        if (merges.length % 4 == 0) vocab = vocab.localCheckpoint(true)
      }
    }
    merges.toSeq
  }

  test("driver-local bpe merges are identical to the in-engine DataFrame loop") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "src", "low low low low low"),
      (2L, "src", "lower lower newest newest"),
      (3L, "src", "newest newest newest widest"),
      (4L, "src", "aaa abab banana bandana ba na")).toDF("doc_id", "source", "text")
    val (_, driverMerges) = TextOps.bpeTrain(corpus, numMerges = 12)
    val engineMerges = bpeMergesInEngine(corpus, numMerges = 12)
    assert(driverMerges == engineMerges,
      s"driver=$driverMerges engine=$engineMerges")
  }

  test("bpe greedy apply is left-to-right (aaa -> [aa, a] under merge a+a)") {
    import spark.implicits._
    val corpus = Seq((1L, "s", "aaa aaa aaa")).toDF("doc_id", "source", "text")
    val (vocab, merges) = TextOps.bpeTrain(corpus, numMerges = 1)
    assert(merges == Seq(("a", "a")))
    val row = vocab.filter(col("word") === "aaa").head
    val syms = row.getSeq[String](row.fieldIndex("syms"))
    assert(syms == Seq("aa", "a"), syms.toString)
  }

  test("lang_id predicts a language for every doc, deterministically") {
    val a = TextOps.langId(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    val b = TextOps.langId(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(a.size == docs.count())
    assert(a == b)
  }

  test("fingerprint: bag_fingerprint ignores word order") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"),
      (3L, "alpha beta delta")).toDF("doc_id", "text")
    val fps = TextOps.fingerprint(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("fingerprint"), r.getAs[Long]("bag_fingerprint"))).toMap
    assert(fps(1L)._2 == fps(2L)._2)
    assert(fps(1L)._1 != fps(2L)._1)
    assert(fps(1L)._2 != fps(3L)._2)
  }

  test("redact masks emails and digit runs") {
    import spark.implicits._
    val d = Seq((1L, "mail me at a.b@example.com or call 1234567 now"))
      .toDF("doc_id", "text")
    val r = TextOps.redact(d).head()
    assert(r.getAs[String]("redacted") ==
      "mail me at <EMAIL> or call <NUM> now")
    assert(r.getAs[Long]("chars_redacted") ==
      "a.b@example.com".length + "1234567".length)
  }

  test("contamination finds planted cross-split near-dup") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "totally different words here nothing shared at all")
    ).toDF("doc_id", "text")
    val split = Seq((1L, "train"), (2L, "test"), (3L, "test"))
      .toDF("doc_id", "split")
    val hits = graft.dedup.Dedup.contamination(d, split, tau = 0.5)
      .collect()
    assert(hits.length == 1)
    assert(hits.head.getAs[Long]("train_doc") == 1L &&
      hits.head.getAs[Long]("test_doc") == 2L)
  }

  test("lm score ranks common-token docs as lower perplexity") {
    import spark.implicits._
    val d = Seq(
      (1L, "the the the the the the the the"),
      (2L, "the the the the rare1 rare2 rare3 rare4")
    ).toDF("doc_id", "text")
    val s = TextOps.lmScore(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("avg_logp"), r.getAs[Double]("perplexity"))).toMap
    assert(s(1L)._1 > s(2L)._1)          // common tokens → higher logp
    assert(s(1L)._2 < s(2L)._2)          // → lower perplexity
    assert(s.values.forall(_._2 >= 1.0)) // perplexity is ≥ 1
  }

  test("stratified sample is collect-free, seeded, and near the target fraction") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    val sampled = TextOps.stratifiedSample(docs, 0.2)
    // plan is a pure filter over the scan — no sampleBy strata collect
    // (which would surface as a LocalRelation of collected langs)
    assert(sampled.queryExecution.optimizedPlan
      .collect { case l: LocalRelation => l }.isEmpty)
    val n = sampled.count().toDouble
    val total = docs.count().toDouble
    assert(math.abs(n / total - 0.2) < 0.08, s"rate ${n / total}")
    // deterministic under the seed; doc membership is a pure row function
    assert(sampled.collect().map(_.getLong(0)).toSet ==
      TextOps.stratifiedSample(docs, 0.2).collect().map(_.getLong(0)).toSet)
    // per-stratum: every language keeps a nonzero share
    val langs = sampled.select("lang").distinct().count()
    assert(langs == docs.select("lang").distinct().count())
    // boundary fractions: 1.0 keeps everything (the 5-char hex threshold
    // "10000" would otherwise break the 4-char comparison), 0.0 nothing
    assert(TextOps.stratifiedSample(docs, 1.0).count() == total)
    assert(TextOps.stratifiedSample(docs, 0.0).count() == 0)
  }

  test("multimodal: byte stats equal text lengths; real decode recovers planted dims") {
    val ingested = Multimodal.ingest(docs)
    val total = Multimodal.byteStats(ingested)
      .agg(sum("total_bytes")).head.getLong(0)
    val expected = docs.agg(sum(octet_length(col("text")))).head.getLong(0)
    assert(total == expected)
    // synthesized REAL container bytes: every blob decodes to its
    // planted modality and dimensions
    val feats = Multimodal.extractFeatures(Multimodal.synthesize(docs))
      .collect()
    assert(feats.length == docs.count())
    feats.foreach { f =>
      (f.doc_id % 7) match {
        case 0 =>
          assert(f.format == "bmp" &&
            f.width == 16 + (f.doc_id % 32).toInt &&
            f.height == 8 + (f.doc_id % 16).toInt, f.toString)
        case 1 =>
          assert(f.format == "png" &&
            f.width == 32 + (f.doc_id % 64).toInt, f.toString)
        case 2 =>
          assert(f.format == "jpeg" &&
            f.width == 64 + (f.doc_id % 128).toInt &&
            f.height == 48 + (f.doc_id % 64).toInt &&
            (f.channels == 1 || f.channels == 3), f.toString)
        case 3 =>
          assert(f.format == "wav" && f.sample_rate > 0 &&
            f.duration_ms > 0.0, f.toString)
        case 4 =>
          assert(f.format == "gif" &&
            f.width == 20 + (f.doc_id % 40).toInt &&
            f.height == 10 + (f.doc_id % 20).toInt &&
            f.channels == 1, f.toString)
          // the animated plant: frame count and total GCE delay are
          // doc_id arithmetic; stills stay zero-frame, zero-duration
          if (f.doc_id % 3 == 2)
            assert(f.n_frames == 2 + (f.doc_id % 4).toInt &&
              f.duration_ms == ((2 + f.doc_id % 4) *
                (5 + f.doc_id % 6) * 10).toDouble, f.toString)
          else
            assert(f.n_frames == 0 && f.duration_ms == 0.0, f.toString)
        case 5 =>
          assert(f.format == "webp" &&
            f.width == 24 + (f.doc_id % 48).toInt &&
            f.height == 12 + (f.doc_id % 24).toInt &&
            f.channels == (if (f.doc_id % 12 == 11) 4 else 3), f.toString)
          if (f.doc_id % 12 == 7)
            assert(f.n_frames == 2 + (f.doc_id % 5).toInt &&
              f.duration_ms == ((2 + f.doc_id % 5) *
                (40 + (f.doc_id % 8) * 10)).toDouble, f.toString)
          else
            assert(f.n_frames == 0 && f.duration_ms == 0.0, f.toString)
        case _ =>
          assert(f.format == "mp4" &&
            f.width == 48 + (f.doc_id % 96).toInt &&
            f.height == 32 + (f.doc_id % 64).toInt &&
            f.channels == 3 && f.duration_ms > 0.0, f.toString)
      }
    }
    // all seven container formats must actually appear in the corpus
    assert(feats.map(_.format).toSet ==
      Set("bmp", "png", "jpeg", "wav", "gif", "webp", "mp4"))
    // text blobs are not a known container → unknown, not a crash
    val unk = Multimodal.featureStats(ingested).collect()
    assert(unk.length == 1 && unk.head.getString(0) == "unknown")
  }

  test("docSimilar: shared in-band terms pair up, banded-out terms don't count") {
    import spark.implicits._
    // docs 1-2 and 3-4 are identical in the banded space; "common" is in
    // every doc (df·10 = 50 > 9·n_docs = 45 → excluded from the VECTOR
    // SPACE, so it can't make everything similar); doc 5's distinctive
    // terms have df=1 < minDf → zero in-band mass → no rows, no NaN;
    // doc 6 duplicates doc 1 in a DIFFERENT language → the lang scoping
    // must keep them apart (its own lang's in-band space is empty)
    val planted = Seq(
      (1L, "en", "alpha beta gamma common"),
      (2L, "en", "alpha beta gamma common"),
      (3L, "en", "delta epsilon zeta common"),
      (4L, "en", "delta epsilon zeta common"),
      (5L, "en", "eta theta iota common"),
      (6L, "fr", "alpha beta gamma common")).toDF("doc_id", "lang", "text")
    val pairs = TextOps.docSimilar(planted, tau = 0.5, minDf = 2,
      maxDfTenths = 9).collect()
    val keys = pairs.map(r =>
      (r.getAs[Long]("doc1"), r.getAs[Long]("doc2"))).toSet
    assert(keys == Set((1L, 2L), (3L, 4L)), pairs.mkString(", "))
    pairs.foreach { r =>
      assert(r.getAs[Double]("score") == 1.0, r.toString) // identical vectors
      assert(r.getAs[Long]("n_common") == 3, r.toString) // stop term excluded
    }
  }

  test("sample_exact_k: exact k per stratum, window-parity, partition-stable") {
    import spark.implicits._
    val d = (0L until 200L).map(i =>
      (i, if (i % 2 == 0) "en" else "fr", s"src${i % 3}", s"text $i"))
      .toDF("doc_id", "lang", "source", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
    val got = TextOps.sampleExactK(d, k = 4).collect()
    // every (lang, source) stratum has >= 4 members → exactly 4 each
    val per = got.groupBy(r => (r.getString(0), r.getString(1)))
      .view.mapValues(_.length).toMap
    assert(per.size == 6 && per.values.forall(_ == 4), per.toString)
    // ranks are 1..k within each stratum
    got.groupBy(r => (r.getString(0), r.getString(1))).values.foreach { rs =>
      assert(rs.map(_.getLong(3)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    }
    // the window formulation (= the DuckDB oracle) is the semantics; the
    // bounded aggregate must reproduce its exact row set
    d.createOrReplaceTempView("sek_docs")
    val want = spark.sql("""
      SELECT lang, source, doc_id, CAST(rk AS BIGINT) AS sample_rank FROM (
        SELECT lang, source, doc_id,
               row_number() OVER (PARTITION BY lang, source
                 ORDER BY md5(concat_ws(':', CAST(doc_id AS STRING),
                   'strat')), doc_id) AS rk
        FROM sek_docs) WHERE rk <= 4""").collect()
    assert(got.map(key).toSet == want.map(key).toSet)
    // a pure function of the id set: identical under any partitioning
    val again = TextOps.sampleExactK(d.repartition(7), k = 4).collect()
    assert(again.map(key).toSet == got.map(key).toSet)
    // stratum smaller than k yields all its members, never pads
    val small = Seq((1L, "xx", "s", "t"), (2L, "xx", "s", "t"))
      .toDF("doc_id", "lang", "source", "text")
    assert(TextOps.sampleExactK(small, k = 5).count() == 2)
  }

  test("mix_plan: sqrt temperature weights, exact integer grid, budget override") {
    import spark.implicits._
    // unique word streams → no dedup loss; stratum a has 4x b's tokens
    val d = Seq(
      (1L, "en", "a", (0 until 400).map(i => s"a$i").mkString(" ")),
      (2L, "en", "b", (0 until 100).map(i => s"b$i").mkString(" ")),
      // duplicate of doc 1's text in source c → loses the election,
      // tokens_kept = 0 → excluded from the plan by the integer guard
      (3L, "en", "c", (0 until 400).map(i => s"a$i").mkString(" ")))
      .toDF("doc_id", "lang", "source", "text")
    val p = TextOps.mixPlan(d).collect()
      .map(r => r.getString(1) -> r).toMap
    assert(p.keySet == Set("a", "b"))
    // weights: floor(sqrt(400)*1000) = 20000, floor(sqrt(100)*1000) = 10000
    assert(p("a").getAs[Long]("weight_milli") == 20000L)
    assert(p("b").getAs[Long]("weight_milli") == 10000L)
    // budget = kept_total = 500: targets floor(500*w/30000)
    assert(p("a").getAs[Long]("target_tokens") == 333L)
    assert(p("b").getAs[Long]("target_tokens") == 166L)
    // share/epochs on the 1e-4 floor-half-up grid
    assert(p("a").getAs[Double]("share") == 0.6667)
    assert(p("b").getAs[Double]("share") == 0.3333)
    assert(p("a").getAs[Double]("epochs") == 0.8325)
    assert(p("b").getAs[Double]("epochs") == 1.66)
    // explicit budget rescales targets only
    val p2 = TextOps.mixPlan(d, Some(1000L)).collect()
      .map(r => r.getString(1) -> r).toMap
    assert(p2("a").getAs[Long]("target_tokens") == 666L)
    assert(p2("b").getAs[Long]("target_tokens") == 333L)
    assert(p2("a").getAs[Long]("weight_milli") == 20000L)
  }

  test("mix_audit: pool vs allocation, floor slack bounded, upsample count") {
    import spark.implicits._
    val d = Seq(
      (1L, "en", "a", (0 until 400).map(i => s"a$i").mkString(" ")),
      (2L, "en", "b", (0 until 100).map(i => s"b$i").mkString(" ")))
      .toDF("doc_id", "lang", "source", "text")
    val r = TextOps.mixAudit(d).collect()(0)
    assert(r.getAs[Long]("n_strata") == 2L)
    assert(r.getAs[Long]("kept_total") == 500L)
    // 333 + 166: each target floors, slack < n_strata tokens
    assert(r.getAs[Long]("target_total") == 499L)
    assert(r.getAs[Long]("n_upsampled") == 1L) // b: 166 > 100
    assert(r.getAs[Double]("max_epochs") == 1.66)
  }

  test("mix_apply: whole epochs + one thresholded fractional copy") {
    import spark.implicits._
    // 100 docs x 4 tokens in a, 100 docs x 1 token in b → same stratum
    // totals as the plan spec: r_a = 333/400 = 0.8325, r_b = 166/100 = 1.66
    val d = ((0 until 100).map(i =>
        (i.toLong, "en", "a", s"a${i}w0 a${i}w1 a${i}w2 a${i}w3")) ++
      (0 until 100).map(i => (100L + i, "en", "b", s"b${i}solo")))
      .toDF("doc_id", "lang", "source", "text")
    val got = TextOps.mixApply(d).collect()
    val bySrc = got.groupBy(_.getString(2))
    // b: every doc keeps its whole epoch (>= 1 copy), ~66% draw a 2nd
    val b = bySrc("b").map(_.getAs[Long]("n_copies"))
    assert(b.length == 100 && b.forall(c => c == 1L || c == 2L))
    val b2 = b.count(_ == 2L)
    assert(b2 > 40 && b2 < 90, s"frac-copy draws $b2, expected ~66")
    // a: base epoch 0 → only fractional draws survive the >0 guard,
    // ~83% of docs, each exactly 1 copy
    val a = bySrc("a").map(_.getAs[Long]("n_copies"))
    assert(a.forall(_ == 1L))
    assert(a.length > 60 && a.length <= 100, s"draws ${a.length}, exp ~83")
    // pure function of the id set: identical under any partitioning
    val again = TextOps.mixApply(d.repartition(7)).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))
    assert(again.map(key).toSet == got.map(key).toSet)
    // a tight budget drops every whole epoch below 1
    val tight = TextOps.mixApply(d, Some(50L)).collect()
    assert(tight.forall(_.getAs[Long]("n_copies") == 1L))
  }

  test("domain_classifier: planted vocabularies separate, band excludes rare terms") {
    import spark.implicits._
    // ref docs speak alpha/beta, crawl docs zeta/eta, 'common' is shared
    // and uninformative; 'once' appears in one doc only → out of band
    val d = ((1 to 4).map(i => (i.toLong, "en", "ref", "alpha beta common")) ++
      (5 to 8).map(i => (i.toLong, "en", "crawl", "zeta eta common")) ++
      Seq((9L, "en", "crawl", "once")))
      .toDF("doc_id", "lang", "source", "text")
    val m = TextOps.domainModel(d, refSource = "ref").collect()
      .map(r => r.getString(0) -> r).toMap
    // df band: 'once' (df=1) is excluded from the vocabulary
    assert(!m.contains("once"))
    assert(m("alpha").getAs[Long]("c_ref") == 4L &&
      m("alpha").getAs[Long]("c_oth") == 0L)
    assert(m("alpha").getAs[Long]("logodds_milli") > 0L)
    assert(m("zeta").getAs[Long]("logodds_milli") < 0L)
    // 'common' appears 4x in each class: log-odds exactly ln(1) = 0
    assert(m("common").getAs[Long]("logodds_milli") == 0L)
    val scores = TextOps.domainClassifier(d, refSource = "ref").collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 9's only term is out of band → no evidence, no row
    assert(!scores.contains(9L))
    (1 to 4).foreach(i => assert(scores(i.toLong).getAs[Long]("pred_ref") == 1L))
    (5 to 8).foreach(i => assert(scores(i.toLong).getAs[Long]("pred_ref") == 0L))
    // confusion rollup: perfectly separated planted corpus
    val ev = TextOps.domainClassifierEval(d, refSource = "ref").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("n_docs")).toMap
    assert(ev == Map((1L, 1L) -> 4L, (0L, 0L) -> 4L))
  }

  test("domain_classifier_holdout: trains on train split, scores only test split") {
    import spark.implicits._
    // resolve which ids land in which split (pure function of doc_id)
    val base = (1L to 60L).toDF("doc_id")
      .withColumn("lang", lit("en")).withColumn("source", lit("x"))
    val sp = TextOps.splitAssign(base, 13).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val trainIds = (1L to 60L).filter(sp(_) == "train")
    val testIds = (1L to 60L).filter(sp(_) == "test")
    assert(trainIds.size >= 8 && testIds.size >= 5, sp.toString)
    val rows =
      trainIds.take(4).map((_, "en", "ref", "alpha beta common")) ++
      trainIds.slice(4, 8).map((_, "en", "crawl", "zeta eta common")) ++
      testIds.take(2).map((_, "en", "ref", "alpha beta")) ++
      testIds.slice(2, 4).map((_, "en", "crawl", "zeta eta")) ++
      // a term that exists ONLY in the test split: not in the trained
      // vocabulary, so this doc has no evidence and no row
      Seq((testIds(4), "en", "crawl", "qqq qqq"))
    val d = rows.toDF("doc_id", "lang", "source", "text")
    val got = TextOps.domainClassifierHoldout(d, refSource = "ref")
      .collect().map(r => r.getLong(0) -> r).toMap
    // only test-split docs are scored
    assert(got.keySet.forall(id => sp(id) == "test"), got.keySet.toString)
    assert(!got.contains(testIds(4)))
    testIds.take(2).foreach(id =>
      assert(got(id).getAs[Long]("pred_ref") == 1L, s"doc $id"))
    testIds.slice(2, 4).foreach(id =>
      assert(got(id).getAs[Long]("pred_ref") == 0L, s"doc $id"))
  }

  test("domain_classifier_persisted: round-trip identical to the in-session model") {
    val d = graft.text.TextOps.docs(spark, SF)
    graft.sources.Staged.drop(spark, "dom_model_spec")
    val path = java.nio.file.Files
      .createTempDirectory("graft_dom_model_spec").toString + "/m"
    TextOps.writeDomainModel(d, "dom_model_spec", path)
    val got = TextOps.domainScorePersisted(spark, d, "dom_model_spec")
      .collect().map(_.toSeq).toSet
    val want = TextOps.domainClassifier(d).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want)
  }

  test("curriculum_assign: equal-mass phases, cross-score monotone, no doubles") {
    val d = TextOps.docs(spark, SF)
    val got = TextOps.curriculumAssign(d, nPhases = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = got.length
    assert(n > 0)
    // every doc gets a phase in [0, 4)
    assert(got.forall(r => r._3 >= 0L && r._3 < 4L))
    // equal-mass within the binomial spread of the straddling groups
    val sizes = got.groupBy(_._3).view.mapValues(_.size).toMap
    assert(sizes.keySet == Set(0L, 1L, 2L, 3L), sizes.toString)
    sizes.values.foreach(s =>
      assert(math.abs(s - n / 4.0) < n * 0.1 + 20, sizes.toString))
    // exact cross-score monotonicity: a higher-quality doc never lands
    // in a LATER phase than a lower-quality doc (disjoint position
    // intervals per score group)
    val byScore = got.groupBy(_._2).view
      .mapValues(rs => (rs.map(_._3).min, rs.map(_._3).max)).toMap
    val scores = byScore.keys.toSeq.sorted.reverse // descending quality
    scores.sliding(2).foreach {
      case Seq(hi, lo) =>
        assert(byScore(hi)._2 <= byScore(lo)._1,
          s"q4=$hi phases ${byScore(hi)} overlap q4=$lo ${byScore(lo)}")
      case _ =>
    }
    // pure function of the id set: identical under any partitioning
    val again = TextOps.curriculumAssign(d.repartition(7), nPhases = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSet == got.toSet)
  }

  test("pack_audit: fill and oversize accounting per source") {
    import spark.implicits._
    def words(n: Int, p: String) = (0 until n).map(i => s"$p$i").mkString(" ")
    val d = Seq(
      (1L, "en", "a", words(4, "x")),   // starts 0, 4, 8 → one pack
      (2L, "en", "a", words(4, "y")),
      (3L, "en", "a", words(4, "z")),
      (4L, "en", "b", words(12, "w")))  // longer than the budget itself
      .toDF("doc_id", "lang", "source", "text")
    val r = TextOps.packAudit(d, budget = 10L).collect()
      .map(x => x.getString(0) -> x).toMap
    val a = r("a")
    assert(a.getAs[Long]("n_docs") == 3L && a.getAs[Long]("n_packs") == 1L)
    assert(a.getAs[Long]("tokens_total") == 12L)
    assert(a.getAs[Long]("n_oversize_docs") == 0L)
    // the straddling tail doc overfills the single pack: 12/10 → 1200
    assert(a.getAs[Long]("fill_milli") == 1200L)
    val b = r("b")
    assert(b.getAs[Long]("n_oversize_docs") == 1L)
    assert(b.getAs[Long]("n_packs") == 1L)
  }

  test("token_yield: copies debit the losing stratum, keepers score 1.0") {
    import spark.implicits._
    val d = Seq(
      (1L, "en", "a", "one two three"),          // keeper (min doc_id)
      (2L, "en", "b", "one two three"),          // copy: loses election
      (3L, "en", "a", "four five six seven"))    // unique
      .toDF("doc_id", "lang", "source", "text")
    val r = TextOps.tokenYield(d).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x).toMap
    val a = r(("en", "a"))
    assert(a.getAs[Long]("n_docs") == 2 && a.getAs[Long]("tokens_raw") == 7)
    assert(a.getAs[Long]("n_docs_kept") == 2 &&
      a.getAs[Long]("tokens_kept") == 7)
    assert(a.getAs[Double]("yield_frac") == 1.0)
    val b = r(("en", "b"))
    assert(b.getAs[Long]("n_docs") == 1 && b.getAs[Long]("n_docs_kept") == 0)
    assert(b.getAs[Long]("tokens_kept") == 0 &&
      b.getAs[Double]("yield_frac") == 0.0)
  }

  test("pipeline integrity counts matches and both orphan directions") {
    import spark.implicits._
    val d = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val e = Seq((2L, 0), (3L, 1), (9L, 2)).toDF("vec_id", "label")
    val r = TextOps.pipelineIntegrity(d, e).collect().head
    assert(r.getAs[Long]("n_docs") == 3L && r.getAs[Long]("n_vecs") == 3L)
    assert(r.getAs[Long]("n_matched") == 2L)
    assert(r.getAs[Long]("n_doc_only") == 1L) // doc 1 not embedded
    assert(r.getAs[Long]("n_vec_only") == 1L) // vec 9 dangles
    // the real corpus is fully aligned by construction
    val full = TextOps.pipelineIntegrity(docs,
      graft.similarity.Knn.emb(spark, SF)).collect().head
    assert(full.getAs[Long]("n_doc_only") == 0L &&
      full.getAs[Long]("n_vec_only") == 0L)
    assert(full.getAs[Long]("n_matched") == full.getAs[Long]("n_docs"))
  }

  test("source scorecard agrees with its member operators") {
    val card = TextOps.sourceScorecard(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val rep = graft.dedup.Dedup.dedupReport(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(card.keySet == rep.keySet)
    card.foreach { case (src, c) =>
      val r = rep(src)
      Seq("n_docs", "n_uniq", "n_dup", "chars_total", "chars_saved")
        .foreach(col => assert(c.getAs[Long](col) == r.getAs[Long](col),
          s"$src $col"))
      val mq = c.getAs[Long]("mean_quality_milli")
      assert(mq >= 0L && mq <= 1000L, s"$src mq=$mq")
      assert(c.getAs[Long]("tokens_total") > 0L)
    }
    // milli mean reproduces from the per-doc quality quarters
    val q = TextOps.quality(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(sum(round(col("quality_score") * 4, 0).cast("long")).as("s4"),
        count(lit(1)).as("n")).collect()
      .map(r => r.getAs[String]("source") ->
        math.floor(r.getAs[Long]("s4").toDouble * 250.0 /
          r.getAs[Long]("n").toDouble + 0.5).toLong).toMap
    card.foreach { case (src, c) =>
      assert(c.getAs[Long]("mean_quality_milli") == q(src), src)
    }
  }

  test("vocabAudit: hand-computed types/hapax/TTR and the argmax " +
      "top token with a deterministic tie") {
    import spark.implicits._
    // s0: tokens = a a b c  → n_tokens 4, types {a,b,c} = 3, hapax {b,c}
    //   = 2, ttr = half-up(3000/4) = 750, hapax = half-up(2000/3) = 667,
    //   top = a (cnt 2), top_milli = half-up(2000/4) = 500
    // s1: b b a a → a and b tie at 2; lexicographic tie → top = a;
    //   types 2, hapax 0, ttr 500, top_milli 500
    val d = Seq(
      (1L, "a a b", "en", "s0"), (2L, "c", "en", "s0"),
      (3L, "b b a a", "en", "s1")
    ).toDF("doc_id", "text", "lang", "source")
    val got = TextOps.vocabAudit(d).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val s0 = got("s0")
    assert(s0.getAs[Long]("n_tokens") == 4L)
    assert(s0.getAs[Long]("n_types") == 3L)
    assert(s0.getAs[Long]("n_hapax") == 2L)
    assert(s0.getAs[Long]("ttr_milli") == 750L)
    assert(s0.getAs[Long]("hapax_milli") == 667L)
    assert(s0.getAs[String]("top_word") == "a")
    assert(s0.getAs[Long]("top_cnt") == 2L)
    assert(s0.getAs[Long]("top_milli") == 500L)
    val s1 = got("s1")
    assert(s1.getAs[String]("top_word") == "a") // tie at 2 → lexicographic
    assert(s1.getAs[Long]("ttr_milli") == 500L)
    assert(s1.getAs[Long]("n_hapax") == 0L)
  }

  test("vocabOverlap: planted shared vs exclusive words across sources") {
    import spark.implicits._
    // shared word x lives in both sources; y only in s0, z only in s1.
    // s0: tokens x x y → types 2, shared types 1 (x), mass 3, shared
    //   mass 2 → shared_types_milli 500, shared_mass_milli 667
    // s1: x z z z → types 2, shared 1, mass 4, shared mass 1 →
    //   milli 500 / 250
    val d = Seq(
      (1L, "x x y", "en", "s0"), (2L, "x z z z", "en", "s1")
    ).toDF("doc_id", "text", "lang", "source")
    val got = TextOps.vocabOverlap(d).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val s0 = got("s0")
    assert(s0.getAs[Long]("types_total") == 2L)
    assert(s0.getAs[Long]("types_shared") == 1L)
    assert(s0.getAs[Long]("types_exclusive") == 1L)
    assert(s0.getAs[Long]("tokens_total") == 3L)
    assert(s0.getAs[Long]("tokens_shared") == 2L)
    assert(s0.getAs[Long]("shared_types_milli") == 500L)
    assert(s0.getAs[Long]("shared_mass_milli") == 667L)
    val s1 = got("s1")
    assert(s1.getAs[Long]("tokens_shared") == 1L)
    assert(s1.getAs[Long]("shared_mass_milli") == 250L)
  }

  test("sourceNovelty: first-seen attribution under the greedy rank; " +
      "conservation and cumulative monotonicity") {
    import spark.implicits._
    // ranks by (docs desc, source): s1 (3 docs), s2 (2), s3 (1).
    // vocab: s1 {a, b}, s2 {b, c}, s3 {a, c, d} → first seen:
    //   a→s1, b→s1, c→s2, d→s3 → types_new 2 / 1 / 1, cum 2, 3, 4
    val d = Seq(
      (1L, "a b", "en", "s1"), (2L, "a", "en", "s1"), (3L, "b", "en", "s1"),
      (4L, "b c", "en", "s2"), (5L, "c c", "en", "s2"),
      (6L, "a c d", "en", "s3")
    ).toDF("doc_id", "text", "lang", "source")
    val got = TextOps.sourceNovelty(d).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(got("s1").getAs[Long]("src_rank") == 1L)
    assert(got("s2").getAs[Long]("src_rank") == 2L)
    assert(got("s3").getAs[Long]("src_rank") == 3L)
    assert(got("s1").getAs[Long]("types_new") == 2L)
    assert(got("s2").getAs[Long]("types_new") == 1L)
    assert(got("s3").getAs[Long]("types_new") == 1L)
    // tokens_new: s1 carries a×2 + b×2 = 4; s2 its new type c×3 = 3;
    // s3 only d×1 (a and c were seen above it)
    assert(got("s1").getAs[Long]("tokens_new") == 4L)
    assert(got("s2").getAs[Long]("tokens_new") == 3L)
    assert(got("s3").getAs[Long]("tokens_new") == 1L)
    assert(got("s3").getAs[Long]("types_total") == 3L)
    // conservation: Σ types_new == global distinct vocabulary
    assert(got.values.map(_.getAs[Long]("types_new")).sum == 4L)
    assert(got("s3").getAs[Long]("cum_types_new") == 4L)
    // cumulative is monotone down the greedy order
    val cums = got.values.toSeq.sortBy(_.getAs[Long]("src_rank"))
      .map(_.getAs[Long]("cum_types_new"))
    assert(cums == cums.sorted && cums == Seq(2L, 3L, 4L))
  }

  test("contextFit: ceiling chunks, padding and half-up utilization; " +
      "zero-token docs contribute zero chunks") {
    import spark.implicits._
    // w = 4 over docs of 3, 5 and 0 tokens:
    //   fits: 3 and 0 (nt <= 4) → docs_fit 2, docs_split 1
    //   chunks: ceil(3/4)=1, ceil(5/4)=2, 0 → 3; tokens 8
    //   pad = 3·4 − 8 = 4; util = half-up(8000/12) = 667
    val d = Seq(
      (1L, "t t t", "en", "s0"), (2L, "t t t t t", "en", "s0"),
      (3L, "", "en", "s0")
    ).toDF("doc_id", "text", "lang", "source")
    val r = TextOps.contextFit(d, windows = Seq(4)).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("w") == 4L)
    assert(row.getAs[Long]("n_docs") == 3L)
    assert(row.getAs[Long]("docs_fit") == 2L)
    assert(row.getAs[Long]("docs_split") == 1L)
    assert(row.getAs[Long]("tokens_total") == 8L)
    assert(row.getAs[Long]("n_chunks") == 3L)
    assert(row.getAs[Long]("pad_tokens") == 4L)
    assert(row.getAs[Long]("util_milli") == 667L)
    // all-empty source: zero divisor → NULL utilization, never a raise
    val empty = Seq((9L, "", "en", "sX"), (10L, " ", "en", "sX"))
      .toDF("doc_id", "text", "lang", "source")
    val e = TextOps.contextFit(empty, windows = Seq(4)).collect().head
    assert(e.getAs[Long]("n_chunks") == 0L)
    assert(e.isNullAt(e.fieldIndex("util_milli")))
    intercept[IllegalArgumentException] {
      TextOps.contextFit(d, windows = Seq.empty)
    }
  }

  test("qualityCut: boundary sub-split matches the md5 rule exactly on " +
      "a single-group corpus; real corpus keeps whole bands above the " +
      "boundary") {
    import spark.implicits._
    def hex4(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:qcut".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(4)
    // every doc scores the identical q4 → ONE group per source: the
    // decision is pure boundary sub-split at tp = ceil(target·2^16/n)
    val planted = (0L until 50L).map(id =>
      (id, "x y z", "en", if (id < 30) "s0" else "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextOps.qualityCut(planted, keepMilli = 400L).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("kept")).toMap
    assert(got.size == 50)
    def expectKept(ids: Seq[Long]): Map[Long, Long] = {
      val n = ids.length.toLong
      val target = n * 400L / 1000L
      val tp = (target * 65536L + n - 1L) / n
      val bound = "%04x".format(tp)
      ids.map(id => id -> (if (hex4(id) < bound) 1L else 0L)).toMap
    }
    val want = expectKept(0L until 30L) ++ expectKept(30L until 50L)
    assert(got == want, s"diff=${got.toSet -- want.toSet}")
    // real corpus: per source at most ONE mixed quarter; every quarter
    // above it fully kept, below fully dropped (band monotonicity)
    val rows = TextOps.qualityCut(docs).collect()
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val byQ = rs.groupBy(_.getAs[Long]("q4")).toSeq.sortBy(-_._1)
      val states = byQ.map { case (q, g) =>
        val k = g.count(_.getAs[Long]("kept") == 1L)
        (q, if (k == g.length) "all" else if (k == 0) "none" else "mixed")
      }
      assert(states.count(_._2 == "mixed") <= 1, s"$src: $states")
      // once a band is not fully kept, no lower band keeps anything
      val afterBreak = states.dropWhile(_._2 == "all").drop(1)
      assert(afterBreak.forall(_._2 == "none"), s"$src: $states")
    }
  }

  test("boilerplate: planted template spans land in the dictionary " +
      "with exact df, the tag counts positions as a multiset, short " +
      "docs emit no row, audit conserves mass") {
    import spark.implicits._
    import graft.text.Boilerplate
    // 'the quick brown fox jumps' is the planted 5-token template,
    // shared by docs 1-3 (doc 3 repeats it — multiset positions);
    // docs 10-12 are unique noise; doc 20 is too short to have a gram
    val planted = Seq(
      (1L, "the quick brown fox jumps over x1", "en", "s0"),
      (2L, "y2 the quick brown fox jumps", "en", "s0"),
      (3L, "the quick brown fox jumps the quick brown fox jumps", "en", "s1"),
      (10L, "aa bb cc dd ee ff gg", "en", "s1"),
      (11L, "hh ii jj kk ll mm nn", "en", "s1"),
      (12L, "oo pp qq rr ss tt uu", "en", "s1"),
      (20L, "too short here", "en", "s0"),
      (21L, null.asInstanceOf[String], "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val dict = Boilerplate.boilerplateSpans(planted).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("df")).toMap
    // every dictionary entry contains the planted template's tokens
    // (windows overlapping the repeat in doc 3 only pair with doc 3
    // itself → df 1 → excluded); the core span has df 3
    assert(dict("the quick brown fox jumps") == 3L, dict.toString)
    assert(dict.keys.forall(_.split(' ').toSet.subsetOf(
      Set("the", "quick", "brown", "fox", "jumps"))), dict.toString)
    val tag = Boilerplate.boilerplateTag(planted).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("bp_grams"))).toMap
    assert(!tag.contains(20L) && !tag.contains(21L)) // no gram, no row
    assert(tag(1L) == (3L, 1L)) // 7 tokens → 3 windows, 1 template hit
    // doc 3: 10 tokens → 6 windows; positions 0 and 5 are the exact
    // template; 1-4 bridge the repeat — dictionary membership decides
    val (n3, b3) = tag(3L)
    assert(n3 == 6L && b3 >= 2L, s"doc3 $n3/$b3")
    assert(tag(10L)._2 == 0L) // noise docs carry no template mass
    // audit conservation: per-source sums equal the tag sums
    val audit = Boilerplate.boilerplateAudit(planted).collect()
    val totBp = audit.map(_.getAs[Long]("grams_bp")).sum
    assert(totBp == tag.values.map(_._2).sum)
    audit.foreach(r =>
      assert(r.getAs[Long]("dict_grams") == dict.size.toLong))
  }

  test("boilerplateTagIndexed: persisted-dictionary probe is " +
      "row-identical to the in-session tagger and scans the bucketed " +
      "dictionary") {
    import graft.text.Boilerplate
    graft.sources.Staged.drop(spark, "bp_idx_spec")
    val path = java.nio.file.Files
      .createTempDirectory("graft_bp_idx_spec").toString + "/d"
    Boilerplate.writeBoilerplateIndex(docs, "bp_idx_spec", path)
    val probe = Boilerplate.boilerplateTagIndexed(spark, "bp_idx_spec",
      docs)
    // the dictionary side must arrive pre-bucketed (gram is the key)
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"), p)
    val got = probe.collect().map(_.toSeq).toSet
    val want = Boilerplate.boilerplateTag(docs).collect().map(_.toSeq).toSet
    assert(got == want) // the freeze-once hop is transparent
    assert(got.nonEmpty)
  }

  test("lmScoreIndexed: persisted-model probe is row-identical to the " +
      "in-session scorer and scans the bucketed model") {
    graft.sources.Staged.drop(spark, "lm_idx_spec")
    val path = java.nio.file.Files
      .createTempDirectory("graft_lm_idx_spec").toString + "/m"
    TextOps.writeLmIndex(docs, "lm_idx_spec", path)
    val probe = TextOps.lmScoreIndexed(spark, "lm_idx_spec", docs)
    // the model side must arrive pre-bucketed (w1 leads the join key)
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"), p)
    val got = probe.collect().map(_.toSeq).toSet
    val want = TextOps.lmScoreBigram(docs).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"probe ${got.size} vs in-session ${want.size}")
  }

  test("featureDrift: identical eras flag nothing; a planted token " +
      "burst flags its bucket in the right direction") {
    import spark.implicits._
    import graft.text.Dsir
    val base = (0L until 40L).map(i =>
      (i, "alpha beta gamma delta", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    // identical distributions → every cross-multiplied diff is 0
    assert(Dsir.featureDrift(base, base).collect().isEmpty)
    // the new era gains a concentrated burst of one unseen token
    val burst = (100L until 120L).map(i =>
      (i, "driftword driftword driftword driftword", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val flagged = Dsir.featureDrift(base, base.union(burst)).collect()
    assert(flagged.nonEmpty)
    // every flagged bucket must move toward the era that gained mass
    // in it; the burst bucket itself is flagged with zero old share
    flagged.foreach { r =>
      val up = r.getAs[Long]("share_new_micro") !=
        r.getAs[Long]("share_old_micro")
      assert(up, r.toString)
    }
    val burstBucket = java.security.MessageDigest.getInstance("MD5")
      .digest("driftword".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(3)
    val hit = flagged.find(_.getAs[String]("b") == burstBucket)
    assert(hit.isDefined, flagged.map(_.getString(0)).mkString(","))
    assert(hit.get.getAs[Long]("n_old") == 0L &&
      hit.get.getAs[Long]("n_new") >= 80L)
  }

  test("dsir: target-like docs out-weight raw-like docs, grid is " +
      "positive-bounded, selection keeps monotone bands, zero-feature " +
      "docs emit no row") {
    import spark.implicits._
    import graft.text.Dsir
    // target source s0 speaks 'alpha'-family tokens; the raw pool
    // speaks 'noise'-family. Two probe docs in the raw pool: one
    // written in the target's dialect, one in the raw dialect — DSIR
    // must rank the dialect-matching probe strictly higher.
    val target = (0L until 20L).map(i =>
      (i, "alpha beta gamma alpha beta", "en", "s0"))
    val rawish = (20L until 60L).map(i =>
      (i, s"noise$i junk$i filler$i noise$i", "en", "s1"))
    val probes = Seq(
      (100L, "alpha beta gamma alpha", "en", "s1"),   // target-like
      (101L, "noise21 junk22 filler23 noise24", "en", "s1"), // raw-like
      (102L, "", "en", "s1"),                          // zero features
      (103L, null.asInstanceOf[String], "en", "s1"))   // hostile null
    val planted = (target ++ rawish ++ probes)
      .toDF("doc_id", "text", "lang", "source")
    val w = Dsir.dsirWeights(planted, refSource = "s0").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("w_milli"), r.getAs[Long]("n_feats"),
          r.getAs[Long]("g"))).toMap
    // membership: no evidence, no row
    assert(!w.contains(102L) && !w.contains(103L))
    // dialect ordering on the shifted-mean grid (length-fair compare)
    assert(w(100L)._3 > w(101L)._3,
      s"target-like g=${w(100L)._3} raw-like g=${w(101L)._3}")
    // the positive-shift bound that makes div == // across engines
    w.values.foreach { case (wm, nf, g) =>
      assert(g > 0L && g < 2L * Dsir.GridOffset)
      assert(wm + nf * Dsir.GridOffset > 0L)
    }
    // selection on the real corpus: at most one mixed g-band; above it
    // all kept, below none (the qualityCut band-monotonicity law,
    // global partition)
    val sel = Dsir.dsirSelect(docs).collect()
    val byG = sel.groupBy(_.getAs[Long]("g")).toSeq.sortBy(-_._1)
    val states = byG.map { case (g, rows) =>
      val k = rows.count(_.getAs[Long]("kept") == 1L)
      (g, if (k == rows.length) "all" else if (k == 0) "none" else "mixed")
    }
    assert(states.count(_._2 == "mixed") <= 1, states.toString)
    val afterBreak = states.dropWhile(_._2 == "all").drop(1)
    assert(afterBreak.forall(_._2 == "none"), states.toString)
    // realized kept count is within one boundary group of the target
    val n = sel.length.toLong
    val kept = sel.count(_.getAs[Long]("kept") == 1L).toLong
    val boundary = byG.collectFirst {
      case (g, rows) if states.find(_._1 == g).exists(_._2 == "mixed") =>
        rows.length.toLong
    }.getOrElse(0L)
    val tgt = n * 250L / 1000L
    assert(math.abs(kept - tgt) <= math.max(boundary, 1L),
      s"kept=$kept target=$tgt boundary=$boundary")
  }

  test("vocabCoverageIndexed: persisted-vocab probe is row-identical " +
      "to the in-plan derivation; oovTag masses sum to its totals") {
    graft.sources.Staged.drop(spark, "vocab_idx_spec")
    val path = java.nio.file.Files
      .createTempDirectory("graft_vocab_idx_spec").toString + "/v"
    TextOps.writeVocabIndex(docs, "vocab_idx_spec", path)
    val direct = TextOps.vocabCoverage(docs).collect()
      .map(_.toSeq).toSet
    val probed = TextOps.vocabCoverageIndexed(spark, "vocab_idx_spec",
      docs).collect().map(_.toSeq).toSet
    assert(direct.nonEmpty && probed == direct,
      s"probe ${probed.size} vs direct ${direct.size}")
    // the per-doc tagger's ADDITIVE masses: summing its test-split rows
    // per source reproduces the coverage audit's token columns exactly
    val tagged = TextOps.oovTag(spark, "vocab_idx_spec", docs)
    val split = TextOps.splitAssign(docs, 13)
      .select(col("doc_id"), col("split"))
    val summed = tagged.join(split, Seq("doc_id"))
      .filter(col("split") === "test")
      .groupBy(col("source"))
      .agg(sum(col("tokens_total")).as("tokens_total"),
        sum(col("tokens_oov")).as("tokens_oov"))
      .collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("tokens_total"), r.getAs[Long]("tokens_oov")))
      .toMap
    val cov = TextOps.vocabCoverage(docs).collect()
    assert(cov.nonEmpty)
    cov.foreach { r =>
      val (t, o) = summed(r.getAs[String]("source"))
      assert(r.getAs[Long]("tokens_total") == t, r.toString)
      assert(r.getAs[Long]("tokens_oov") == o, r.toString)
    }
  }

  test("vocabCoverage: df-banded train vocabulary, hand-checked OOV " +
      "mass on planted splits") {
    import spark.implicits._
    // reproduce the md5-nibble split driver-side to plant ids per split
    def split(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.charAt(0) < 'd') "train" else "test"
    }
    val trainIds = (1L to 200L).filter(split(_) == "train").take(3)
    val testIds = (1L to 200L).filter(split(_) == "test").take(2)
    // vocab (df >= 2 over train docs): "known" in 2 docs; "once" df 1
    // (OOV despite being seen in train); "zz" never seen
    val train = Seq(
      (trainIds(0), "known once", "en", "s0"),
      (trainIds(1), "known known", "en", "s0"), // within-doc dup: df 1
      (trainIds(2), "known", "en", "s0"))
    // probe: tokens known×2 once zz → oov mass 2/4 = 500 milli,
    // types {known, once, zz}: oov {once, zz} → 667 milli
    val test = Seq(
      (testIds(0), "known once zz", "en", "s0"),
      (testIds(1), "known", "en", "s0"))
    val d = (train ++ test).toDF("doc_id", "text", "lang", "source")
    val r = TextOps.vocabCoverage(d).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("tokens_total") == 4L)
    assert(row.getAs[Long]("tokens_oov") == 2L)
    assert(row.getAs[Long]("oov_mass_milli") == 500L)
    assert(row.getAs[Long]("types_total") == 3L)
    assert(row.getAs[Long]("types_oov") == 2L)
    assert(row.getAs[Long]("oov_types_milli") == 667L)
  }

  test("zipfAudit: hand-computed least squares on planted counts; " +
      "real corpus slopes are negative") {
    import spark.implicits._
    // counts a=4 b=2 c=1 → ranks 1,2,3; milli-snapped ln:
    // x = (0, 693, 1099), y = (1386, 693, 0)
    val d = Seq((1L, "a a a a b b c", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val r = graft.text.TextProfile.zipfAudit(d).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_top") == 3L)
    // n·Σxy − ΣxΣy = 3·480249 − 1792·2079; n·Σxx − Σx²
    assert(row.getAs[Long]("slope_num") == -2284821L)
    assert(row.getAs[Long]("slope_den") == 1852886L)
    assert(row.getAs[Double]("slope") == -2284821.0 / 1852886.0)
    val yden = 3L * 2401245L - 2079L * 2079L
    assert(row.getAs[Double]("r2") ==
      (-2284821.0 * -2284821.0) / (1852886.0 * yden.toDouble))
    // a single-distinct-token lang has no rank spread → no row
    val flat = Seq((1L, "x x x", "de", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    assert(graft.text.TextProfile.zipfAudit(flat).collect().isEmpty)
    // natural-ish corpus: every lang fits with a NEGATIVE slope
    val real = graft.text.TextProfile.zipfAudit(docs).collect()
    assert(real.nonEmpty)
    real.foreach { l =>
      assert(l.getAs[Double]("slope") < 0.0,
        s"${l.getString(0)} slope ${l.getAs[Double]("slope")}")
    }
  }

  test("qualityCalibration: planted dup members land in their quarter " +
      "and totals conserve the corpus") {
    import spark.implicits._
    val longText = (1 to 60).map(i => s"tok$i").mkString(" ") // q4 high
    val d = Seq(
      (1L, longText, "en", "s0"),           // dup pair, same quarter
      (2L, longText, "en", "s0"),
      (3L, longText + " unique", "en", "s0"), // unique, same-ish quarter
      (4L, "tiny", "en", "s0"),             // low quarter, unique
    ).toDF("doc_id", "text", "lang", "source")
    val got = graft.text.TextProfile.qualityCalibration(d).collect()
    assert(got.map(_.getAs[Long]("n_docs")).sum == 4L)
    assert(got.map(_.getAs[Long]("n_dup_docs")).sum == 2L)
    val byQ4 = got.map(r => r.getAs[Long]("q4") -> r).toMap
    // the dup pair and the unique long doc share the top quarter
    val top = byQ4(byQ4.keys.max)
    assert(top.getAs[Long]("n_dup_docs") == 2L)
    assert(top.getAs[Long]("n_docs") == 3L)
    assert(top.getAs[Long]("dup_milli") == 667L)
    // the low quarter has no dups
    val low = byQ4(byQ4.keys.min)
    assert(low.getAs[Long]("n_dup_docs") == 0L)
    assert(low.getAs[Long]("dup_milli") == 0L)
    // the real corpus conserves too (forces full projection)
    val real = graft.text.TextProfile.qualityCalibration(docs).collect()
    assert(real.map(_.getAs[Long]("n_docs")).sum == docs.count())
  }

  test("piiDensity: exact match counts incl. end-of-string matches and " +
      "null text; agrees with the redactor's affected set") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail a@b.com and b@c.org here", "en", "s0"), // 2 emails
      (2L, "num 1234567", "en", "s0"),                   // 1 long digit, at EOS
      (3L, "clean text only", "en", "s0"),
      (4L, null.asInstanceOf[String], "en", "s0"),       // null text
      (5L, "x@y.io 999999", "en", "s1"),                 // both kinds
    ).toDF("doc_id", "text", "lang", "source")
    val got = graft.text.TextProfile.piiDensity(d).collect()
      .map(r => r.getString(0) -> r).toMap
    val s0 = got("s0")
    assert(s0.getAs[Long]("n_docs") == 4L)
    assert(s0.getAs[Long]("n_email_hits") == 2L)
    assert(s0.getAs[Long]("n_num_hits") == 1L)
    assert(s0.getAs[Long]("docs_with_pii") == 2L)
    assert(s0.getAs[Long]("pii_docs_milli") == 500L)
    val s1 = got("s1")
    assert(s1.getAs[Long]("n_email_hits") == 1L)
    assert(s1.getAs[Long]("n_num_hits") == 1L)
    assert(s1.getAs[Long]("docs_with_pii") == 1L)
    // consistency with the redactor: a doc is PII-affected iff the
    // redaction pass changed at least one char (same patterns)
    val affected = TextOps.redact(d.filter(col("text").isNotNull))
      .filter(col("chars_redacted") > 0L).count()
    assert(affected == 3L) // docs 1, 2, 5
  }

  test("sourceDivergence: distribution-identical sources sit near zero " +
      "and a disjoint-vocabulary source diverges strictly more") {
    import spark.implicits._
    // two sources with IDENTICAL token distributions (same doc text) →
    // each is distributionally the corpus itself → λ ≈ 0 per bucket;
    // a third source with a disjoint vocabulary must rank strictly
    // above both (its mass sits in buckets the corpus profile charges)
    val base = "alpha beta gamma delta epsilon zeta"
    val d = Seq(
      (1L, base, "en", "sA"), (2L, base, "en", "sA"),
      (3L, base, "en", "sB"), (4L, base, "en", "sB"),
      (5L, "qq ww ee rr tt yy uu ii oo pp", "en", "sC"),
    ).toDF("doc_id", "text", "lang", "source")
    val got = graft.text.Dsir.sourceDivergence(d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.size == 3)
    // symmetry: sA and sB are interchangeable → identical rows
    assert(got("sA").getAs[Long]("kl_sum_milli") ==
      got("sB").getAs[Long]("kl_sum_milli"))
    assert(got("sA").getAs[Long]("kl_milli") ==
      got("sB").getAs[Long]("kl_milli"))
    // near-zero for the corpus-like sources (hand-computed: 4 milli),
    // strictly higher for sC (hand-computed: 280 milli — 70×)
    assert(math.abs(got("sA").getAs[Long]("kl_milli")) <= 100L,
      s"corpus-like source kl ${got("sA").getAs[Long]("kl_milli")}")
    assert(got("sC").getAs[Long]("kl_milli") >
      got("sA").getAs[Long]("kl_milli") + 200L,
      s"disjoint source must diverge: ${got("sC").getAs[Long]("kl_milli")}")
    // n_buckets is the ONE corpus vocabulary size, equal on every row
    assert(got.values.map(_.getAs[Long]("n_buckets")).toSet.size == 1)
    // kl_nats is the kl_sum/(D·1000) division exactly
    val r = got("sC")
    val dd = r.getAs[Long]("t_s") + r.getAs[Long]("n_buckets")
    assert(r.getAs[Double]("kl_nats") ==
      r.getAs[Long]("kl_sum_milli").toDouble / (dd.toDouble * 1000.0))
  }

  test("tokFertility: hand-computed millis on a planted cell; " +
      "empty-text cell yields NULL ratios") {
    import spark.implicits._
    // cell (en, s0): "ab cd." → ws 2, bpe 3 ([ab][cd][.]), nsp 5
    //                "x1"    → ws 1, bpe 2 ([x][1]),      nsp 2
    // totals ws 3, bpe 5, nsp 7 → fert = 5/3 → 1667, cpb = 7/5 → 1400
    val d = Seq(
      (1L, "ab cd.", "en", "s0"),
      (2L, "x1", "en", "s0"),
      (3L, "", "de", "s0"), // zero-token cell: CASE guards both ratios
    ).toDF("doc_id", "text", "lang", "source")
    val got = graft.text.TextProfile.tokFertility(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val en = got(("en", "s0"))
    assert(en.getAs[Long]("ws_tokens") == 3L)
    assert(en.getAs[Long]("bpe_tokens") == 5L)
    assert(en.getAs[Long]("nsp_chars") == 7L)
    assert(en.getAs[Long]("fert_milli") == 1667L)
    assert(en.getAs[Long]("chars_per_bpe_milli") == 1400L)
    val de = got(("de", "s0"))
    assert(de.isNullAt(de.fieldIndex("fert_milli")))
    assert(de.isNullAt(de.fieldIndex("chars_per_bpe_milli")))
  }

  test("charEntropy: single-class doc scores 0 and flags junk; " +
      "balanced classes score ln(k); counts conserve") {
    import spark.implicits._
    val d = Seq(
      (1L, "00000000", "en", "s0"),           // one class → H = 0 → junk
      (2L, "ab AB 01 cd EF 23", "en", "s0"),  // 4 classes
      (3L, "", "en", "s0"),                   // zero-length → no row
    ).toDF("doc_id", "text", "lang", "source")
    val got = graft.text.TextProfile.charEntropy(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!got.contains(3L), "zero-length doc must emit no row")
    val junk = got(1L)
    assert(junk.getAs[Double]("entropy") == 0.0)
    assert(junk.getAs[Long]("junk") == 1L)
    val mixed = got(2L)
    // 17 chars: 6 lower, 4 upper? — recount: "ab AB 01 cd EF 23":
    // lower a,b,c,d = 4; upper A,B,E,F = 4; digit 0,1,2,3 = 4; space 5
    assert(mixed.getAs[Long]("c_lower") == 4L)
    assert(mixed.getAs[Long]("c_upper") == 4L)
    assert(mixed.getAs[Long]("c_digit") == 4L)
    assert(mixed.getAs[Long]("c_space") == 5L)
    assert(mixed.getAs[Long]("c_other") == 0L)
    val n = mixed.getAs[Long]("n_chars")
    assert(n == 17L)
    // near-uniform 4-way mix: entropy close to ln(4) ≈ 1.386, not junk
    val h = mixed.getAs[Double]("entropy")
    assert(h > 1.3 && h < 1.45, s"entropy $h")
    assert(mixed.getAs[Long]("junk") == 0L)
    // class counts conserve on the real corpus (full-projection force)
    val real = graft.text.TextProfile.charEntropy(docs)
    val bad = real.filter(col("c_lower") + col("c_upper") +
      col("c_digit") + col("c_space") + col("c_other") =!= col("n_chars"))
    assert(bad.count() == 0L)
  }

  test("scaling ladder: rungs nest, masses are monotone, the full rung is the corpus") {
    val docs = TextOps.docs(spark, SF)
    val rows = TextOps.scalingLadder(docs).collect()
      .map(r => r.getAs[Long]("denom") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))))
      .toMap
    assert(rows.keySet == Set(1L, 2L, 4L, 8L, 16L))
    assert(rows(1L)._1 == docs.count(), "denom-1 rung must be the corpus")
    // growing the budget only ADDS documents and token mass
    Seq(16L, 8L, 4L, 2L, 1L).sliding(2).foreach { w =>
      assert(rows(w(0))._1 <= rows(w(1))._1 &&
        rows(w(0))._2 <= rows(w(1))._2, s"rung ${w(0)} vs ${w(1)}")
    }
    // true id-level subset nesting (not just monotone counts)
    def rung(thr: String) = docs.filter(
        substring(md5(concat_ws(":", col("doc_id").cast("string"),
          lit("ladder"))), 1, 1) < thr)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val (s16, s8) = (rung("1"), rung("2"))
    assert(s16.nonEmpty && s16.subsetOf(s8))
    assert(s8.size.toLong == rows(8L)._1)
  }
}
