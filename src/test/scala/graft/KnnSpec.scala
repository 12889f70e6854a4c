package graft

import org.apache.spark.sql.functions._
import graft.similarity.Knn

class KnnSpec extends SparkSpec {

  lazy val e = Knn.emb(spark, SF).cache()

  test("brute top-k is correctly ranked and sized") {
    val rows = Knn.brute(e, col("vec_id") < 3, k = 5).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 3)
    byQuery.values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq == (1L to g.length))
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.toSeq == scores.sortBy(-_).toSeq)
      assert(g.length == 5)
    }
  }

  test("brute excludes the query itself") {
    val rows = Knn.brute(e, col("vec_id") < 3, k = 5).collect()
    assert(rows.forall(r =>
      r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
  }

  test("quantized search: high recall vs float brute, codes in int8 range") {
    val k = 10
    val brute = Knn.brute(e, col("vec_id") < 10, k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val quant = Knn.bruteQuantized(e, col("vec_id") < 10, k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    // int8 cosine distorts ranks only near ties; recall@10 stays high
    val recall = (brute & quant).size.toDouble / brute.size
    assert(recall >= 0.8, s"quantized recall too low: $recall")
    // every code is a genuine int8 and each non-zero vector uses the
    // full scale (some |code| = 127)
    val q = Knn.quantize(e)
    val bad = q.filter(expr(
      "exists(qv, x -> x < -127 OR x > 127)")).count()
    assert(bad == 0)
    val unsaturated = q
      .filter(expr("array_max(transform(v, x -> abs(x))) > 0"))
      .filter(expr("array_max(transform(qv, x -> abs(cast(x as int)))) != 127"))
      .count()
    assert(unsaturated == 0)
    // zero vector → all-zero codes, no NaN/crash
    import spark.implicits._
    val z = Seq((999L, "z", Seq(0.0, 0.0, 0.0))).toDF("vec_id", "label", "v")
    val zq = Knn.quantize(z).selectExpr("array_max(qv)", "qnrm").collect().head
    assert(zq.getByte(0) == 0 && zq.getDouble(1) == 0.0)
  }

  test("contaminationSemantic: planted cross-split duplicate surfaces at 1.0") {
    import spark.implicits._
    def isTrain(id: Long): Boolean = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      h.charAt(0) < 'd'
    }
    val a = (0L to 50L).find(isTrain).get
    val b = (0L to 50L).find(id => !isTrain(id)).get
    val rnd = new scala.util.Random(7)
    val base = (0L to 50L).map(id =>
      (id, 0, Seq.fill(8)(rnd.nextDouble() - 0.5)))
    // plant: the test-split vector b IS the train-split vector a
    val planted = base.map { case (id, l, v) =>
      if (id == b) (id, l, base(a.toInt)._3) else (id, l, v)
    }.toDF("vec_id", "label", "v")
    val rows = Knn.contaminationSemantic(planted, 13, tau = 0.99).collect()
    assert(rows.exists(r => r.getAs[Long]("test_vec") == b &&
      r.getAs[Long]("train_vec") == a &&
      r.getAs[Double]("score") == 1.0), rows.mkString(", "))
    // split discipline on every returned pair
    rows.foreach { r =>
      assert(!isTrain(r.getAs[Long]("test_vec")), r.toString)
      assert(isTrain(r.getAs[Long]("train_vec")), r.toString)
    }
  }

  test("contaminationSemanticIvf: planted duplicate surfaces through the " +
      "probe; pairs are a subset of brute with bit-identical scores") {
    import spark.implicits._
    def isTrain(id: Long): Boolean = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      h.charAt(0) < 'd'
    }
    val a = (0L to 50L).find(isTrain).get
    val b = (0L to 50L).find(id => !isTrain(id)).get
    val rnd = new scala.util.Random(7)
    val base = (0L to 50L).map(id =>
      (id, 0, Seq.fill(8)(rnd.nextDouble() - 0.5)))
    val planted = base.map { case (id, l, v) =>
      if (id == b) (id, l, base(a.toInt)._3) else (id, l, v)
    }.toDF("vec_id", "label", "v")
      .withColumn("nrm",
        sqrt(graft.functions.DotProduct(col("v"), col("v"))))
    val dir =
      java.nio.file.Files.createTempDirectory("graft_contam_ivf").toString
    graft.sources.Staged.drop(spark, "contam_ivf_t")
    val rows = Knn.contaminationSemanticIvf(spark, planted, "contam_ivf_t",
      dir, 13, tau = 0.3, nlist = 4, buckets = 2, nprobe = 2).collect()
    // the planted cross-split duplicate is RECALLED at exactly 1.0: the
    // test copy's nearest centroid is by construction the train copy's
    // assigned list (identical vectors, identical (d, c_id) tie-break in
    // assignment and probe ranking), so nprobe ≥ 1 suffices for exact dups
    assert(rows.exists(r => r.getAs[Long]("test_vec") == b &&
      r.getAs[Long]("train_vec") == a &&
      r.getAs[Double]("score") == 1.0), rows.mkString(", "))
    // split discipline holds by construction — verify anyway
    rows.foreach { r =>
      assert(!isTrain(r.getAs[Long]("test_vec")), r.toString)
      assert(isTrain(r.getAs[Long]("train_vec")), r.toString)
    }
    // probe pairs ⊆ brute pairs with BIT-identical scores: the probe
    // only prunes candidates (skipped lists), never changes a score
    val brute = Knn.contaminationSemantic(planted, 13, tau = 0.3).collect()
      .map(r => (r.getAs[Long]("test_vec"), r.getAs[Long]("train_vec"),
        r.getAs[Double]("score"))).toSet
    val got = rows.map(r => (r.getAs[Long]("test_vec"),
      r.getAs[Long]("train_vec"), r.getAs[Double]("score"))).toSet
    assert(got.nonEmpty && got.subsetOf(brute),
      s"probe pairs not a subset of brute: ${(got -- brute).take(5)}")
    // the audit row accounts the probe exactly: every split member
    // counted, candidates bounded by the brute cross product, flagged
    // count equals the operator's row count at the same tau
    graft.sources.Staged.drop(spark, "contam_ivf_aud_t")
    val audDir =
      java.nio.file.Files.createTempDirectory("graft_contam_aud").toString
    val aud = Knn.contaminationSemanticIvfAudit(spark, planted,
      "contam_ivf_aud_t", audDir, 13, tau = 0.3, nlist = 4, buckets = 2,
      nprobe = 2).collect().head
    val nTrain = aud.getAs[Long]("n_train")
    val nTest = aud.getAs[Long]("n_test")
    assert(nTrain + nTest == 51L, aud.toString)
    assert(nTest == (0L to 50L).count(id => !isTrain(id)).toLong)
    val nCand = aud.getAs[Long]("n_candidates")
    assert(nCand > 0L && nCand <= nTrain * nTest, aud.toString)
    assert(aud.getAs[Long]("n_flagged") == rows.length.toLong,
      s"$aud vs ${rows.length} operator rows")
    // the quantized-IVF plan fences carry over: bucketed index scan, no
    // cartesian, exactly one (probe-side) c_id Exchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = Knn.contaminationSemanticIvf(spark, planted, "contam_ivf_t",
        dir, 13, tau = 0.3, nlist = 4, buckets = 2, nprobe = 2)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), p)
      val cIdExchanges =
        "Exchange hashpartitioning\\(c_id".r.findAllIn(p).length
      assert(cIdExchanges == 1, p)
      assert(p.contains("Bucketed: true"), p)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def isLabeledId(id: Long): Boolean = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$id:lbl".getBytes("UTF-8")).map("%02x".format(_)).mkString
    h.charAt(0) < 'c'
  }

  test("labelPropagation: planted neighborhoods vote majority; ties break " +
      "to the smallest label; abstainers emit nothing") {
    import spark.implicits._
    val ids = 0L to 60L
    val labIds = ids.filter(isLabeledId).take(5)
    val unlIds = ids.filter(id => !isLabeledId(id)).take(2)
    val Seq(l1, l2, l3, l4, l5) = labIds
    val Seq(u1, u2) = unlIds
    val rnd = new scala.util.Random(11)
    val w1 = Seq.fill(8)(rnd.nextDouble() - 0.5)
    val w2 = Seq.fill(8)(rnd.nextDouble() - 0.5)
    val rows = ids.map { id =>
      val v = if (Seq(l1, l2, l3, u1).contains(id)) w1
        else if (Seq(l4, l5, u2).contains(id)) w2
        else Seq.fill(8)(rnd.nextDouble() - 0.5)
      val label =
        if (id == l1 || id == l2) 2 else if (id == l3) 5
        else if (id == l4) 7 else if (id == l5) 4
        else 9
      (id, label, v)
    }.toDF("vec_id", "label", "v")
    // tau high enough that only the planted exact copies vote
    val out = Knn.labelPropagation(rows, labeledSixteenths = 12, tau = 0.99)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("pred_label"), r.getAs[Long]("n_votes"),
          r.getAs[Long]("n_neighbors"))).toMap
    // u1 sees labels {2, 2, 5} → majority 2 with 2 of 3 votes
    assert(out(u1) == ((2, 2L, 3L)), out.toString)
    // u2 sees {7, 4} — a 1-1 tie → the smaller label wins
    assert(out(u2) == ((4, 1L, 2L)), out.toString)
    // only unlabeled vectors are ever labeled; isolated ones abstain
    assert(out.keySet.forall(id => !isLabeledId(id)))
    assert(out.keySet == Set(u1, u2))
  }

  test("labelPropagationIvf: vote pairs are a subset of brute with " +
      "bit-identical scores; exact copies are recalled; rollup consistent") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val ids = 0L to 50L
    val lab = ids.find(isLabeledId).get
    val unl = ids.find(id => !isLabeledId(id)).get
    val base = ids.map(id => (id, (id % 10).toInt,
      Seq.fill(8)(rnd.nextDouble() - 0.5)))
    val planted = base.map { case (id, l, v) =>
      if (id == unl) (id, l, base(lab.toInt)._3) else (id, l, v)
    }.toDF("vec_id", "label", "v")
      .withColumn("nrm",
        sqrt(graft.functions.DotProduct(col("v"), col("v"))))
    val dir =
      java.nio.file.Files.createTempDirectory("graft_lblprop_ivf").toString
    graft.sources.Staged.drop(spark, "lblprop_ivf_t")
    val ivfPairs = Knn.labelPropPairsIvf(spark, planted, "lblprop_ivf_t",
      dir, 12, tau = 0.3, nlist = 4, buckets = 2, nprobe = 2).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("lab_vec"),
        r.getAs[Double]("score"))).toSet
    val brutePairs = Knn.labelPropPairs(planted, 12, tau = 0.3).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("lab_vec"),
        r.getAs[Double]("score"))).toSet
    assert(ivfPairs.nonEmpty && ivfPairs.subsetOf(brutePairs),
      s"ivf pairs not a subset: ${(ivfPairs -- brutePairs).take(5)}")
    // the planted exact copy votes through the probe (same-centroid
    // argument as contaminationSemanticIvf) with score exactly 1.0
    assert(ivfPairs.contains((unl, lab, 1.0)), ivfPairs.toString)
    graft.sources.Staged.drop(spark, "lblprop_ivf_t2")
    val dir2 =
      java.nio.file.Files.createTempDirectory("graft_lblprop_ivf2").toString
    val rolled = Knn.labelPropagationIvf(spark, planted, "lblprop_ivf_t2",
      dir2, 12, tau = 0.3, nlist = 4, buckets = 2, nprobe = 2).collect()
    rolled.foreach { r =>
      assert(!isLabeledId(r.getAs[Long]("vec_id")), r.toString)
      assert(r.getAs[Long]("n_votes") >= 1L &&
        r.getAs[Long]("n_votes") <= r.getAs[Long]("n_neighbors"), r.toString)
    }
  }

  test("labelPropagationEval equals a groupBy over the per-vector rows") {
    val pred = Knn.labelPropagation(e).cache()
    val direct = pred.groupBy("true_label", "pred_label").count().collect()
      .map(r => (r.getAs[Int]("true_label"), r.getAs[Int]("pred_label")) ->
        r.getAs[Long]("count")).toMap
    val eval = Knn.labelPropagationEval(e).collect()
      .map(r => (r.getAs[Int]("true_label"), r.getAs[Int]("pred_label")) ->
        r.getAs[Long]("n_vecs")).toMap
    assert(eval == direct)
  }

  test("embCentroidAffinity: aligned mass scores 1.0, an inverted vector " +
      "flags as an outlier, zero vectors are fenced") {
    import spark.implicits._
    val v = Seq(0.5, -0.25, 0.125, 1.0)
    val planted = Seq(
      (1L, 0, v), (2L, 0, v), (3L, 0, v),          // aligned label-0 mass
      (4L, 0, v.map(-_)),                           // inverted → outlier
      (5L, 1, Seq(0.3, 0.3, -0.6, 0.0)),            // singleton label
      (6L, 1, Seq(0.0, 0.0, 0.0, 0.0))              // zero vector → fenced
    ).toDF("vec_id", "label", "v")
    val aff = Knn.embCentroidAffinity(planted).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("dot"), r.getAs[Double]("score"))).toMap
    assert(aff.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // centroid of label 0 = 2·qv (3 copies + 1 inverted): copies score
    // exactly 1.0, the inverted copy exactly -1.0
    Seq(1L, 2L, 3L).foreach { id =>
      assert(aff(id)._1 > 0L && aff(id)._2 == 1.0, aff.toString) }
    assert(aff(4L)._1 < 0L && aff(4L)._2 == -1.0, aff.toString)
    // a singleton label is its own centroid
    assert(aff(5L)._2 == 1.0, aff.toString)
    // the outlier slice is exactly the dot < 0 filter
    val out = Knn.embOutliers(planted).collect().map(_.getAs[Long]("vec_id"))
    assert(out.toSet == Set(4L))
  }

  test("embClusterQuality: collapsed labels read separation 1.0 toward " +
      "each other, opposed labels read -1.0, cohesion is the mean affinity") {
    import spark.implicits._
    val v = Seq(0.5, -0.25, 0.125, 1.0)
    val planted = Seq(
      (1L, 0, v), (2L, 0, v),             // tight label-0 cluster
      (3L, 1, v), (4L, 1, v),             // label 1 COLLAPSED onto label 0
      (5L, 2, v.map(-_)), (6L, 2, v.map(-_)) // label 2 opposed
    ).toDF("vec_id", "label", "v")
    val q = Knn.embClusterQuality(planted).collect()
      .map(r => r.getAs[Long]("label") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Double]("cohesion"),
          r.getAs[Long]("nearest_label"), r.getAs[Double]("separation")))
      .toMap
    assert(q.keySet == Set(0L, 1L, 2L))
    // every cluster is internally perfect
    q.values.foreach { case (n, coh, _, _) => assert(n == 2L && coh == 1.0) }
    // collapse is visible: 0 and 1 are each other's nearest at cos 1.0
    assert(q(0L)._3 == 1L && q(0L)._4 == 1.0)
    assert(q(1L)._3 == 0L && q(1L)._4 == 1.0)
    // 2 points away from both; its nearest tie (both at -1.0) breaks
    // toward the smaller label id
    assert(q(2L)._3 == 0L && q(2L)._4 == -1.0)
  }

  test("centroidConfusion: a collapsed label's mass is absorbed by the " +
      "smaller id on the exact tie; opposed labels stay diagonal") {
    import spark.implicits._
    val v = Seq(0.5, -0.25, 0.125, 1.0)
    val planted = Seq(
      (1L, 0, v), (2L, 0, v),
      (3L, 1, v), (4L, 1, v),              // collapsed onto label 0
      (5L, 2, v.map(-_)), (6L, 2, v.map(-_))
    ).toDF("vec_id", "label", "v")
    val got = Knn.centroidConfusion(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // centroids 0 and 1 are identical → every 0/1 vector ties at
    // score 1.0 and the tie breaks toward label 0: label 1's mass is
    // absorbed (the off-diagonal relabel signal); label 2 stays put
    assert(got == Map((0L, 0L) -> 2L, (1L, 0L) -> 2L, (2L, 2L) -> 2L),
      got.toString)
  }

  test("embDimStats: a constant dimension flags dead (at any level), " +
      "varying dims do not") {
    import spark.implicits._
    // dim 0 varies, dim 1 is constant 1.0 (dead but nonzero), dim 2 is
    // constant 0 (dead); scaling leaves codes = round(127·v/max|v|)
    val planted = Seq(
      (1L, 0, Seq(1.0, 1.0, 0.0)),
      (2L, 0, Seq(-1.0, 1.0, 0.0)),
      (3L, 1, Seq(0.5, 1.0, 0.0))
    ).toDF("vec_id", "label", "v")
    val got = Knn.embDimStats(planted).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(4)))
      .toMap
    assert(got.keySet == Set(0L, 1L, 2L))
    // dim 0: codes 127, -127, 64 (0.5·127/1.0 rounds half-up) → varies
    assert(got(0L) == ((3L, 64L, 0L)), got.toString)
    // dim 1: every vector codes 127 → constant nonzero = dead
    assert(got(1L) == ((3L, 381L, 1L)), got.toString)
    // dim 2: all-zero codes = dead
    assert(got(2L) == ((3L, 0L, 1L)), got.toString)
  }

  test("embCentroidAffinity covers the corpus with bounded scores") {
    val aff = Knn.embCentroidAffinity(e).cache()
    assert(aff.count() == e.count()) // no zero vectors in the corpus
    assert(aff.filter(col("score") < -1.0 || col("score") > 1.0).count() == 0)
    // sign coherence: the integer membership key agrees with the score
    assert(aff.filter(col("dot") < 0L && col("score") > 0.0).count() == 0)
    assert(aff.filter(col("dot") > 0L && col("score") < 0.0).count() == 0)
  }

  test("embDriftQuantized: every label covered, cosine bounded, degenerate fenced") {
    import spark.implicits._
    val rows = Knn.embDriftQuantized(e).collect()
    val labels = e.select("label").distinct().count()
    assert(rows.length == labels, s"${rows.length} vs $labels labels")
    rows.foreach { r =>
      val c = r.getAs[Double]("centroid_cos")
      assert(c >= -1.0001 && c <= 1.0001, r.toString)
      assert(r.getAs[Long]("n_vecs") > 0L)
    }
    // a single-label corpus IS its own corpus centroid → cosine exactly 1
    val solo = Seq((1L, 0, Seq(0.5, 0.25, 0.0)), (2L, 0, Seq(0.4, 0.1, 0.2)))
      .toDF("vec_id", "label", "v")
    val soloRow = Knn.embDriftQuantized(solo).collect()
    assert(soloRow.length == 1 && soloRow.head.getAs[Double]("centroid_cos") == 1.0)
    // two labels with exactly opposite mass → corpus centroid all-zero →
    // the integer c2 > 0 fence drops every row instead of emitting NaN
    val opp = Seq((1L, 0, Seq(1.0, 0.0)), (2L, 1, Seq(-1.0, 0.0)))
      .toDF("vec_id", "label", "v")
    assert(Knn.embDriftQuantized(opp).collect().isEmpty)
  }

  test("quantize_int8 kernel is bit-identical to the SQL transform formulation") {
    // the kernel replaced this exact SQL (r12: alias inlining made it
    // O(dim²) inside pushed-down filters) — the oracle reproduces the SQL,
    // so kernel == SQL on the real corpus keeps the hash gate honest
    val sql = e
      .withColumn("mx", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("qv_sql",
        expr("""transform(v, x -> cast(floor(
                 CASE WHEN mx = 0.0D THEN 0.0D ELSE x * 127.0D / mx END
                 + 0.5D)
               as tinyint))"""))
    val mismatches = Knn.quantize(e).select(col("vec_id"), col("qv"))
      .join(sql.select(col("vec_id"), col("qv_sql")), "vec_id")
      .filter(not(col("qv") === col("qv_sql"))).count()
    assert(mismatches == 0)
  }

  test("lsh candidates score identically to brute for the same pairs") {
    val brute = Knn.brute(e, col("vec_id") < 10, k = 50).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("score")).toMap
    val lsh = Knn.lsh(e, col("vec_id") < 10, k = 5).collect()
    assert(lsh.forall { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      !brute.contains(key) || brute(key) == r.getAs[Double]("score")
    })
  }

  test("cluster stats cover every vector with bounded cluster count") {
    // exact cross-run equality is NOT asserted: centroid means are FP
    // sums whose merge order varies run to run, so a near-equidistant
    // vector may legitimately flip clusters — coverage and shape are the
    // stable contract
    val a = Knn.clusterStats(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a.values.sum == e.count())
    assert(a.size >= 2 && a.size <= 8)
    assert(a.values.forall(_ > 0))
  }

  test("persisted IVF index: bucketed layout serves search with no index-side shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    graft.sources.Staged.drop(spark, "ivf_idx")
    val centroids = graft.similarity.Knn.writeIvfIndex(e, "ivf_idx", dir,
      nlist = 10, buckets = 4)
    // search over the PERSISTED index (no retraining) recalls like ivf
    val brute = graft.similarity.Knn.brute(e, col("vec_id") < 5, k = 10)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val idx = graft.similarity.Knn.searchIvfIndex(spark, "ivf_idx",
      centroids, e.filter(col("vec_id") < 5), k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (brute & idx).size.toDouble / brute.size
    assert(recall > 0.1, s"index search recall too low: $recall")
    // the bucketed layout IS the partitioning: a c_id aggregation (and
    // hence the c_id probe join's index side) runs with zero Exchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val aggPlan = spark.table("ivf_idx").groupBy("c_id")
        .agg(count(lit(1))).queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"), aggPlan)
      val searchPlan = graft.similarity.Knn.searchIvfIndex(spark, "ivf_idx",
        centroids, e.filter(col("vec_id") < 5), k = 10)
        .queryExecution.executedPlan.toString
      // exactly ONE c_id Exchange: the probe side co-partitioning to the
      // bucket layout. A non-bucketed index would need a second.
      val cIdExchanges =
        "Exchange hashpartitioning\\(c_id".r.findAllIn(searchPlan).length
      assert(cIdExchanges == 1, searchPlan)
      assert(searchPlan.contains("Bucketed: true"), searchPlan)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("int8 IVF build fences degenerate vectors: planted zero, NaN and empty vectors leave the centroids and every clean list row unchanged") {
    import spark.implicits._
    val dims = e.select(size(col("v"))).head.getInt(0)
    val maxId = e.agg(max(col("vec_id"))).head.getLong(0)
    val planted = Knn.embOf(Seq(
        (maxId + 1L, Seq.fill(dims)(0.0)),
        (maxId + 2L, Seq.fill(dims)(Double.NaN)),
        (maxId + 3L, Seq.empty[Double]))
      .toDF("vec_id", "embedding")
      .withColumn("label", lit(null).cast(e.schema("label").dataType)))
    def build(tbl: String, df: org.apache.spark.sql.DataFrame) = {
      graft.sources.Staged.drop(spark, tbl)
      val dir = java.nio.file.Files.createTempDirectory(tbl).toString
      val cents = Knn.writeIvfIndexQuantized(df, tbl, dir, nlist = 8)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSet
      val lists = spark.table(tbl).select("vec_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (cents, lists)
    }
    val clean = build("ivfq_fence_clean", e)
    val dirty = build("ivfq_fence_dirty", e.unionByName(planted))
    assert(dirty._1 == clean._1, "planted vectors moved the centroids")
    // equal sets: every clean row kept its list, no planted row stored
    assert(dirty._2 == clean._2, "planted vectors changed the stored lists")
  }

  test("quantized persisted IVF: int8 lists recall like the float index, bucketed plan carries over") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfq_idx").toString
    graft.sources.Staged.drop(spark, "ivfq_idx")
    val centroids = graft.similarity.Knn.writeIvfIndexQuantized(
      e, "ivfq_idx", dir, nlist = 10, buckets = 4)
    // the stored lists carry CODES, not float vectors: tinyint array +
    // one double norm per row — the 8× memory story is the schema
    val idxSchema = spark.table("ivfq_idx").schema
    assert(idxSchema.fieldNames.toSet ==
      Set("vec_id", "qv", "qnrm", "c_id"), idxSchema.treeString)
    assert(idxSchema("qv").dataType.simpleString == "array<tinyint>")
    // same-session float IVF index over the same corpus: the quantized
    // probe must recall nearly the same neighbor set (quantization is
    // the only difference; both probe nprobe=2 of 10 lists)
    val fdir = java.nio.file.Files.createTempDirectory("graft_ivff_idx").toString
    graft.sources.Staged.drop(spark, "ivff_idx")
    val fcentroids = graft.similarity.Knn.writeIvfIndex(
      e, "ivff_idx", fdir, nlist = 10, buckets = 4)
    val q = e.filter(col("vec_id") < 5)
    val fl = graft.similarity.Knn.searchIvfIndex(spark, "ivff_idx",
      fcentroids, q, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val qt = graft.similarity.Knn.searchIvfIndexQuantized(spark, "ivfq_idx",
      centroids, q, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (fl & qt).size.toDouble / fl.size
    assert(recall > 0.6, s"quantized IVF recall vs float IVF too low: $recall")
    // determinism: integer accumulation makes repeat runs bit-identical
    val again = graft.similarity.Knn.searchIvfIndexQuantized(spark, "ivfq_idx",
      centroids, q, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("score"))).toSet
    val first = graft.similarity.Knn.searchIvfIndexQuantized(spark, "ivfq_idx",
      centroids, q, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("score"))).toSet
    assert(again == first)
    // the bucketed-layout plan assertions carry over from the float
    // index: zero Exchange on a c_id agg, exactly one (probe-side) c_id
    // Exchange in the search join, bucketed index scan
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val aggPlan = spark.table("ivfq_idx").groupBy("c_id")
        .agg(count(lit(1))).queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"), aggPlan)
      val searchPlan = graft.similarity.Knn.searchIvfIndexQuantized(spark,
        "ivfq_idx", centroids, q, k = 10)
        .queryExecution.executedPlan.toString
      val cIdExchanges =
        "Exchange hashpartitioning\\(c_id".r.findAllIn(searchPlan).length
      assert(cIdExchanges == 1, searchPlan)
      assert(searchPlan.contains("Bucketed: true"), searchPlan)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ivfBalanceAudit: conserves the index population, bounds follow " +
      "the list distribution, bucketed scan with no Exchange") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfb_idx").toString
    graft.sources.Staged.drop(spark, "ivfb_idx")
    graft.similarity.Knn.writeIvfIndexQuantized(
      e, "ivfb_idx", dir, nlist = 10, buckets = 4)
    val audit = graft.similarity.Knn.ivfBalanceAudit(spark, "ivfb_idx")
    // the agg key IS the bucketing key: the scan must need no Exchange
    // below the partial aggregate (one bucketed read, combine in place)
    val p = audit.queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"), p)
    val r = audit.collect().head
    val lists = spark.table("ivfb_idx").groupBy("c_id").count()
      .collect().map(_.getLong(1))
    assert(r.getAs[Long]("n_lists") == lists.length.toLong)
    assert(r.getAs[Long]("n_vectors") == lists.sum)
    assert(r.getAs[Long]("max_list") == lists.max)
    assert(r.getAs[Long]("min_list") == lists.min)
    // max-over-ideal is >= 1000 by construction, == 1000 only when
    // perfectly balanced
    val imb = r.getAs[Long]("imb_milli")
    assert(imb >= 1000L, imb.toString)
    assert(imb == (2L * lists.max * lists.length * 1000L + lists.sum) /
      (2L * lists.sum))
  }

  test("semantic dedup: planted duplicate groups collapse; coverage is total") {
    import spark.implicits._
    import graft.functions.DotProduct
    // three exact-duplicate groups + isolated vectors, well separated so
    // no cross-group cosine reaches τ regardless of cluster assignment
    val planted = Seq(
      (1L, Array(1.0, 0.0, 0.0)), (2L, Array(1.0, 0.0, 0.0)),
      (3L, Array(1.0, 0.0, 0.0)),
      (4L, Array(0.0, 1.0, 0.0)), (5L, Array(0.0, 1.0, 0.0)),
      (6L, Array(0.0, 0.0, 1.0)),
      (7L, Array(-1.0, 0.0, 0.0)),
    ).toDF("vec_id", "v")
      .withColumn("nrm", sqrt(DotProduct(col("v"), col("v"))))
    val r = Knn.semanticDedup(planted, tau = 0.9, targetClusterSize = 4L)
      .collect().map(x => x.getAs[Long]("vec_id") -> x.getAs[Long]("keeper"))
      .toMap
    assert(r.size == 7) // every vector exactly once
    assert(r(1L) == 1L && r(2L) == 1L && r(3L) == 1L)
    assert(r(4L) == 4L && r(5L) == 4L)
    assert(r(6L) == 6L && r(7L) == 7L) // opposite vector: cos = -1, kept
  }

  test("semantic cluster cap: a dense over-cap cluster is dropped, never exploded") {
    import spark.implicits._
    import graft.functions.DotProduct
    // 600 identical vectors: k-means concentrates them into ONE cluster
    // (distance ties break by c_id), the exact situation the SemDeDup
    // recipe exists for — without the cap that is a 600²/2 pair join in
    // one task. Identical vectors cannot be sub-split apart, so the mass
    // must be dropped from pair generation (exact embedding dedup's job).
    val dense = (1L to 600L).map(i => (i, Array(1.0, 0.5, 0.25, 0.125)))
    val spread = (601L to 640L).map { i =>
      val a = ((i * 37) % 101).toDouble / 50.0 - 1.0
      val b = ((i * 59) % 103).toDouble / 51.0 - 1.0
      val c = ((i * 83) % 107).toDouble / 53.0 - 1.0
      (i, Array(a, b, c, a * b - c))
    }
    val corpus = (dense ++ spread).toDF("vec_id", "v")
      .withColumn("nrm", sqrt(DotProduct(col("v"), col("v"))))
    val audit = Knn.semanticClusterAudit(corpus, targetClusterSize = 64L,
      maxOccupancy = 50L, subPlanes = 2).head()
    assert(audit.getAs[Long]("n_vectors") == 640L)
    assert(audit.getAs[Long]("n_kept") +
      audit.getAs[Long]("n_dropped") == 640L)
    assert(audit.getAs[Long]("n_dropped") >= 600L)
    // the HARD bound the pair join inherits by construction
    assert(audit.getAs[Long]("max_occupancy") <= 50L)
    // dropped members still appear in the dedup output, keeping themselves
    val r = Knn.semanticDedup(corpus, tau = 0.9, targetClusterSize = 64L,
      maxOccupancy = 50L, subPlanes = 2)
    assert(r.count() == 640L)
  }

  test("sample-trained centroids past the switch: coverage total, planted dups collapse, deterministic") {
    import spark.implicits._
    import graft.functions.DotProduct
    // 304 vectors with trainSwitch = 100 → the Lloyd rounds train on a
    // bounded xxhash64-drawn sample while the full-corpus assignment
    // pass stays exact; the planted exact-duplicate pairs sit far from
    // the spread mass so they must collapse under ANY centroid draw
    // (identical vectors always share a cluster: identical distances,
    // deterministic min_by tie-break)
    val spread = (1L to 300L).map { i =>
      val a = ((i * 37) % 101).toDouble / 50.0 - 1.0
      val b = ((i * 59) % 103).toDouble / 51.0 - 1.0
      val c = ((i * 83) % 107).toDouble / 53.0 - 1.0
      (i, Array(a, b, c, a * b - c))
    }
    val dups = Seq(
      (901L, Array(50.0, 0.0, 0.0, 0.0)),
      (902L, Array(50.0, 0.0, 0.0, 0.0)),
      (903L, Array(0.0, -50.0, 0.0, 0.0)),
      (904L, Array(0.0, -50.0, 0.0, 0.0)))
    val corpus = (spread ++ dups).toDF("vec_id", "v")
      .withColumn("nrm", sqrt(DotProduct(col("v"), col("v"))))
    def run() = Knn.semanticDedup(corpus, tau = 0.95,
        targetClusterSize = 64L, trainSwitch = 100L)
      .collect()
      .map(x => x.getAs[Long]("vec_id") -> x.getAs[Long]("keeper")).toMap
    val r = run()
    assert(r.size == 304) // every vector exactly once
    assert(r(901L) == r(902L), s"dup pair split: ${r(901L)} ${r(902L)}")
    assert(r(903L) == r(904L), s"dup pair split: ${r(903L)} ${r(904L)}")
    // keepers are component minima and fixpoints under the sampled path
    assert(r.forall { case (v, kp) => kp <= v && r(kp) == kp })
    // the sampled draw is deterministic: a re-run is row-identical
    assert(run() == r)
    // the audit keeps total coverage under the SAMPLED path...
    val a1 = Knn.semanticClusterAudit(corpus, targetClusterSize = 64L,
      trainSwitch = 100L).head()
    assert(a1.getAs[Long]("n_vectors") == 304L)
    assert(a1.getAs[Long]("n_kept") + a1.getAs[Long]("n_dropped") == 304L)
    // ...and BELOW the default switch (304 ≪ 65536 → the full-corpus
    // Lloyd branch) the corpus shape is identical — the sub-switch
    // path regression guard the sampled branch must never disturb
    val a0 = Knn.semanticClusterAudit(corpus,
      targetClusterSize = 64L).head()
    assert(a0.getAs[Long]("n_vectors") == 304L)
    assert(a0.getAs[Long]("n_kept") + a0.getAs[Long]("n_dropped") == 304L)
  }

  test("semantic cluster cap: an un-skewed corpus keeps every membership") {
    val audit = Knn.semanticClusterAudit(e).head()
    val n = e.count()
    assert(audit.getAs[Long]("n_vectors") == n)
    assert(audit.getAs[Long]("n_dropped") == 0L)
    assert(audit.getAs[Long]("max_occupancy") <= 1024L)
  }

  test("semantic dedup on real embeddings: keepers are fixpoints, coverage total") {
    val rows = Knn.semanticDedup(e, tau = 0.4).collect()
    assert(rows.length == e.count())
    val keeper = rows.map(x =>
      x.getAs[Long]("vec_id") -> x.getAs[Long]("keeper")).toMap
    // min-label components: keeper ≤ member, and a keeper keeps itself
    assert(rows.forall(x => x.getAs[Long]("keeper") <= x.getAs[Long]("vec_id")))
    assert(keeper.values.forall(kp => keeper(kp) == kp))
  }

  test("ivf probes recover a reasonable share of brute top-10") {
    val brute = Knn.brute(e, col("vec_id") < 5, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Knn.ivf(e, col("vec_id") < 5, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall > 0.1, s"ivf recall too low: $recall")
  }

  test("ivf recall audit: consistent accounting, exact 1000 when probing every list") {
    val r = Knn.ivfRecallAudit(e, col("vec_id") < 5, k = 10).collect()(0)
    val nProbes = r.getAs[Long]("n_probes")
    val nPairs = r.getAs[Long]("n_brute_pairs")
    val nHits = r.getAs[Long]("n_hits")
    assert(nProbes == 5L)
    assert(nPairs <= nProbes * 10L && nPairs > 0L)
    assert(nHits >= 0L && nHits <= nPairs)
    assert(r.getAs[Long]("recall_milli") ==
      math.floor(nHits.toDouble * 1000.0 / nPairs.toDouble + 0.5).toLong)
    // probing every list makes the candidate set the full corpus: the
    // IVF list equals brute (same score expression, same rank cut) and
    // recall is EXACTLY 1000
    val full = Knn.ivfRecallAudit(e, col("vec_id") < 5, k = 10,
      nprobe = 10, nlist = 10).collect()(0)
    assert(full.getAs[Long]("recall_milli") == 1000L,
      full.toString)
  }

  test("quantized recall audit: full probe width is exact over the persisted index") {
    graft.sources.Staged.drop(spark, "ivfq_audit_spec")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivfq_audit_spec").toString + "/v"
    // identical integer chain both sides + all lists probed ⇒ the
    // persisted probe IS quantized brute: recall exactly 1000
    val full = Knn.ivfQuantizedRecallAudit(spark, e, "ivfq_audit_spec",
      path, col("vec_id") < 5, k = 10, nprobe = 10, nlist = 10)
      .collect()(0)
    assert(full.getAs[Long]("recall_milli") == 1000L, full.toString)
    assert(full.getAs[Long]("n_probes") == 5L)
  }

  test("tripletMine: hand-planted hardest positive/negative, abstain " +
      "without a same-label pool vector, zero vectors fenced") {
    import spark.implicits._
    // anchor 0 (0 % 25 == 0), label 1, axis-aligned; pool:
    //   1 L1 near-parallel, 2 L1 orthogonal (hardest positive, e4 = 0),
    //   3 L2 impostor near the anchor (hardest negative), 4 L2 far,
    //   5 L1 zero vector (qnrm = 0 — fenced, never mined even though
    //     its NaN score would otherwise pollute the argmin)
    // anchor 25, label 3: NO label-3 pool vector → abstains (no row)
    val planted = Seq(
      (0L, 1, Seq(1.0, 0.0, 0.0, 0.0)),
      (25L, 3, Seq(0.0, 0.0, 0.0, 1.0)),
      (1L, 1, Seq(1.0, 0.1, 0.0, 0.0)),
      (2L, 1, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, 2, Seq(1.0, 0.05, 0.0, 0.0)),
      (4L, 2, Seq(0.0, 0.0, 1.0, 0.0)),
      (5L, 1, Seq(0.0, 0.0, 0.0, 0.0))
    ).toDF("vec_id", "label", "v")
      .withColumn("nrm",
        sqrt(graft.functions.DotProduct(col("v"), col("v"))))
    val rows = Knn.tripletMine(planted, anchorMod = 25L, marginE4 = 500L)
      .collect()
    assert(rows.length == 1, rows.mkString(", "))
    val r = rows(0)
    assert(r.getAs[Long]("anchor_id") == 0L)
    assert(r.getAs[Int]("anchor_label") == 1)
    assert(r.getAs[Long]("n_pos") == 2L) // ids 1, 2 (zero vec 5 fenced)
    assert(r.getAs[Long]("n_neg") == 2L) // ids 3, 4
    assert(r.getAs[Long]("pos_id") == 2L, r.toString)
    assert(r.getAs[Long]("pos_e4") == 0L, r.toString)
    assert(r.getAs[Long]("neg_id") == 3L, r.toString)
    assert(r.getAs[Long]("neg_e4") > 9900L, r.toString)
    assert(r.getAs[Long]("margin_e4") ==
      r.getAs[Long]("pos_e4") - r.getAs[Long]("neg_e4"))
    assert(r.getAs[Long]("is_hard") == 1L) // margin deeply negative
  }

  test("tripletMineIvf at nprobe = nlist is row-identical to brute; " +
      "stats rollup equals a groupBy over the per-anchor rows") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val planted = (0L to 60L).map(id => (id, (id % 5).toInt,
      Seq.fill(8)(rnd.nextDouble() - 0.5)))
      .toDF("vec_id", "label", "v")
      .withColumn("nrm",
        sqrt(graft.functions.DotProduct(col("v"), col("v"))))
    val brute = Knn.tripletMine(planted, anchorMod = 25L).collect()
      .map(_.toSeq).toSet
    assert(brute.nonEmpty)
    graft.sources.Staged.drop(spark, "triplet_ivf_spec")
    val dir =
      java.nio.file.Files.createTempDirectory("graft_triplet_ivf").toString
    // probing every list makes the candidate set the full pool: the
    // shared rollup then reproduces brute bit-for-bit
    val ivf = Knn.tripletMineIvf(spark, planted, "triplet_ivf_spec", dir,
      anchorMod = 25L, nlist = 4, buckets = 2, nprobe = 4).collect()
      .map(_.toSeq).toSet
    assert(ivf == brute,
      s"ivf≠brute: only-ivf=${(ivf -- brute).take(3)} " +
        s"only-brute=${(brute -- ivf).take(3)}")
    // stats = one integer groupBy over the mined rows
    val mined = Knn.tripletMine(planted, anchorMod = 25L).collect()
    val byLabel = mined.groupBy(_.getAs[Int]("anchor_label"))
    Knn.tripletStats(planted, anchorMod = 25L).collect().foreach { s =>
      val g = byLabel(s.getAs[Int]("anchor_label"))
      assert(s.getAs[Long]("n_anchors") == g.length.toLong)
      assert(s.getAs[Long]("n_hard") ==
        g.map(_.getAs[Long]("is_hard")).sum)
      val margins = g.map(_.getAs[Long]("margin_e4"))
      assert(s.getAs[Long]("margin_sum_e4") == margins.sum)
      assert(s.getAs[Long]("margin_min_e4") == margins.min)
      assert(s.getAs[Long]("margin_max_e4") == margins.max)
      val (h, n) = (s.getAs[Long]("n_hard"), s.getAs[Long]("n_anchors"))
      assert(s.getAs[Long]("hard_milli") == (2 * h * 1000 + n) / (2 * n))
    }
  }

  test("embGram: hand-computed integer Gram; zero vectors count but " +
      "contribute nothing") {
    import spark.implicits._
    // codes after quantize: (127, 0), (127, 127), (0, 0)
    val e = Seq(
      (1L, 0, Seq(1.0, 0.0)),
      (2L, 0, Seq(0.5, 0.5)),
      (3L, 0, Seq(0.0, 0.0)),
    ).toDF("vec_id", "label", "v")
    val got = Knn.embGram(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_vecs"), r.getAs[Long]("g"))).toMap
    assert(got.size == 3) // upper triangle of dim 2
    assert(got((0L, 0L)) == (3L, 127L * 127 + 127L * 127)) // 32258
    assert(got((0L, 1L)) == (3L, 127L * 127))              // 16129
    assert(got((1L, 1L)) == (3L, 127L * 127))
  }

  test("embAnisotropy: rank-1 corpus collapses to share ~1, isotropic " +
      "one-hot corpus sits at ~1/dim, trace matches the diagonal") {
    import spark.implicits._
    // rank-1: every vector on the same direction
    val rank1 = (1L to 8L).map(i => (i, 0, Seq(1.0, 1.0, 1.0, 1.0)))
      .toDF("vec_id", "label", "v")
    val r1 = Knn.embAnisotropy(rank1).collect().head
    assert(r1.getAs[Long]("dim") == 4L)
    assert(r1.getAs[Long]("n_vecs") == 8L)
    assert(r1.getAs[Double]("top_eig_share") > 0.99,
      s"rank-1 share ${r1.getAs[Double]("top_eig_share")}")
    // isotropic: one-hot mass on each axis in turn
    val iso = (1L to 8L).map(i =>
      (i, 0, Seq.tabulate(4)(d => if (d == (i % 4).toInt) 1.0 else 0.0)))
      .toDF("vec_id", "label", "v")
    val ri = Knn.embAnisotropy(iso).collect().head
    val share = ri.getAs[Double]("top_eig_share")
    assert(share > 0.2 && share < 0.3, s"isotropic share $share")
    // trace is the exact Gram diagonal sum
    val diag = Knn.embGram(iso).filter(col("di") === col("dj"))
      .collect().map(_.getAs[Long]("g")).sum
    assert(ri.getAs[Double]("trace") == diag.toDouble)
    // empty input emits no row (no evidence)
    val empty = Seq.empty[(Long, Int, Seq[Double])]
      .toDF("vec_id", "label", "v")
    assert(Knn.embAnisotropy(empty).collect().isEmpty)
  }

  test("embAnisotropyDistributed: engine power iteration matches the " +
      "driver eigenshare on rank-1, isotropic, and anti-correlated " +
      "corpora (the dim fence is a preference, not a ceiling)") {
    import spark.implicits._
    val corpora = Seq(
      (1L to 8L).map(i => (i, 0, Seq(1.0, 1.0, 1.0, 1.0))),    // rank-1
      (1L to 8L).map(i =>                                      // isotropic
        (i, 0, Seq.tabulate(4)(d => if (d == (i % 4).toInt) 1.0 else 0.0))),
      (1L to 8L).map(i =>                                      // anti-corr
        if (i % 2 == 0) (i, 0, Seq(1.0, -1.0)) else (i, 0, Seq(-1.0, 1.0))))
    corpora.foreach { rows =>
      val e = rows.toDF("vec_id", "label", "v")
      val drv = Knn.embAnisotropy(e).collect().head
      val eng = Knn.embAnisotropyDistributed(e).collect().head
      assert(eng.getAs[Long]("dim") == drv.getAs[Long]("dim"))
      assert(eng.getAs[Long]("n_vecs") == drv.getAs[Long]("n_vecs"))
      assert(eng.getAs[Double]("trace") == drv.getAs[Double]("trace"))
      val ds = drv.getAs[Double]("top_eig_share")
      val es = eng.getAs[Double]("top_eig_share")
      assert(math.abs(es - ds) < 1e-9,
        s"engine share $es vs driver $ds") // hash-agg order ⇒ FP tol
    }
    // empty input emits no row on the engine path too
    val empty = Seq.empty[(Long, Int, Seq[Double])]
      .toDF("vec_id", "label", "v")
    assert(Knn.embAnisotropyDistributed(empty).collect().isEmpty)
  }

  test("embAnisotropy: anti-correlated rank-1 corpus (dominant " +
      "eigenvector orthogonal to all-ones) still reports collapse") {
    import spark.implicits._
    // vectors alternate (1,-1) and (-1,1): the Gram is ~[[g,-g],[-g,g]]
    // whose dominant eigenvector is (1,-1)/√2 — exactly orthogonal to
    // the old all-ones power-iteration start, which reported this fully
    // collapsed space as share 0 (r14 advice). The non-symmetric
    // v(i)=1+i start has a non-zero component on (1,-1).
    val anti = (1L to 8L).map(i =>
      if (i % 2 == 0) (i, 0, Seq(1.0, -1.0)) else (i, 0, Seq(-1.0, 1.0)))
      .toDF("vec_id", "label", "v")
    val r = Knn.embAnisotropy(anti).collect().head
    assert(r.getAs[Long]("dim") == 2L)
    val share = r.getAs[Double]("top_eig_share")
    assert(share > 0.99, s"anti-correlated rank-1 share $share")
  }

  // ── centroid kernels ≡ the DataFrame reference (CentroidReference) ──

  /** Kernel vs reference on one corpus and one centroid table:
    * assignments and probe lists identical, one Lloyd round's means
    * within 1e-9 over the same cluster set. */
  private def assertCentroidKernelsMatch(base: org.apache.spark.sql.DataFrame,
      centroids: org.apache.spark.sql.DataFrame, tag: String): Unit = {
    import graft.functions.{CentroidModel, NearestCentroids}
    val model = CentroidModel.of(centroids)
    val k = model.ids.length
    def byVec(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = byVec(CentroidReference.assign(base, centroids))
    assert(want.nonEmpty, tag)
    assert(byVec(Knn.assignTo(base, model).select("vec_id", "c_id")) == want,
      s"$tag: kernel assignment differs from the min_by reference")
    (1 to k).foreach { n =>
      val wantLists = CentroidReference.probes(base, centroids, n).collect()
        .groupBy(_.getLong(0)).map { case (id, rs) =>
          id -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
      val gotLists = base.select(col("vec_id"),
          NearestCentroids(col("v"), col("nrm"), model, n)).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(gotLists == wantLists,
        s"$tag: nprobe=$n kernel probe lists differ from the window reference")
    }
    def means(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val wantMeans = means(CentroidReference.lloydRound(base, centroids))
    val gotMeans = means(Knn.lloydRound(base, model))
    assert(gotMeans.keySet == wantMeans.keySet, s"$tag: Lloyd cluster sets differ")
    wantMeans.foreach { case (c, w) =>
      val g = gotMeans(c)
      assert(g.length == w.length &&
        g.zip(w).forall { case (a, b) => math.abs(a - b) <= 1e-9 },
        s"$tag: Lloyd mean of $c: $g vs $w")
    }
  }

  test("centroid kernels ≡ the DataFrame reference on sf0.001: assignment, probe lists, Lloyd round") {
    val base = Knn.emb(spark, SF).localCheckpoint(true)
    // seeds + one kernel round: a trained (not seed-aligned) table
    assertCentroidKernelsMatch(base, Knn.kmeansCentroids(base, 10, iters = 1),
      "sf0.001")
  }

  test("centroid kernels ≡ the DataFrame reference on planted distance ties") {
    import spark.implicits._
    // unit centroids (‖c‖² = 1 exactly, so equal dots are equal
    // distances), one DUPLICATED under two ids, over an integer grid:
    // the origin ties with every centroid, axis points tie between the
    // twins — only the c_id tie-break decides
    val centroids = Seq((30L, Seq(1.0, 0.0)), (10L, Seq(-1.0, 0.0)),
        (20L, Seq(0.0, 1.0)), (40L, Seq(1.0, 0.0)), (5L, Seq(0.0, -1.0)))
      .toDF("c_id", "cv")
    val grid = for (x <- -2 to 2; y <- -2 to 2)
      yield ((x + 2) * 5L + (y + 2), 0, Seq(x.toDouble, y.toDouble))
    // the origin is a zero vector, which the reader (Knn.embOf) fences
    // out: the kernels take the (v, nrm) frame directly
    val base = grid.toDF("vec_id", "label", "v")
      .withColumn("nrm", sqrt(graft.functions.DotProduct(col("v"), col("v"))))
      .localCheckpoint(true)
    assertCentroidKernelsMatch(base, centroids, "planted ties")
    // the origin sits at distance 1 from all five: the smallest id wins
    val origin = Knn.assignTo(base.filter(col("vec_id") === 12L),
      graft.functions.CentroidModel.of(centroids)).select("c_id").head.getLong(0)
    assert(origin == 5L, s"origin assigned to $origin")
  }

  test("the reader fences degenerate vectors once: embOf keeps only finite, non-zero ones and no operator sees the rest") {
    import spark.implicits._
    val raw = spark.read.parquet(s"$SF/embeddings.parquet")
    val dims = raw.select(size(col("embedding"))).head.getInt(0)
    val top = raw.agg(max(col("vec_id"))).head.getLong(0)
    // null, empty, all-zero, all-NaN, ONE NaN element (its other
    // elements code to non-zero int8, so qnrm > 0 alone would keep it),
    // a +Inf spike — and all-Float.MaxValue, whose squared norm
    // (64·(3.4e38)² ≈ 7.4e78) is finite: it stays
    val degenerate = Seq(
      (top + 1L, null.asInstanceOf[Seq[Float]]),
      (top + 2L, Seq.empty[Float]),
      (top + 3L, Seq.fill(dims)(0.0f)),
      (top + 4L, Seq.fill(dims)(Float.NaN)),
      (top + 5L, Seq.tabulate(dims)(i => if (i == 0) Float.NaN else 1.0f)),
      (top + 6L, Seq.tabulate(dims)(i =>
        if (i == 0) Float.PositiveInfinity else 1.0f)))
    val maxValue = (top + 7L, Seq.fill(dims)(Float.MaxValue))
    val bad = degenerate.map(_._1).toSet
    val planted = Knn.embOf(raw.select(col("vec_id"), col("embedding"),
        col("label"))
      .unionByName((degenerate :+ maxValue).toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .withColumn("label", lit(0).cast(raw.schema("label").dataType))))
      .localCheckpoint(true)
    val clean = raw.select("vec_id").as[Long].collect().toSet
    val kept = planted.select("vec_id").as[Long].collect().toSet
    assert(kept -- clean == Set(maxValue._1) && (clean -- kept).isEmpty)
    // every planted id probes, so a leak shows as a query AND a neighbor
    val probes = col("vec_id") < 5L || col("vec_id") > top
    def ids(df: org.apache.spark.sql.DataFrame, cols: String*) =
      cols.flatMap(c => df.select(col(c)).as[Long].collect()).toSet
    def clear(what: String, got: Set[Long]) = {
      assert(got.nonEmpty, s"$what: no rows")
      assert((got & bad).isEmpty, s"$what served ${got & bad}")
    }
    clear("brute", ids(Knn.brute(planted, probes, k = 5),
      "query_id", "neighbor_id"))
    clear("bruteQuantized", ids(Knn.bruteQuantized(planted, probes, k = 5),
      "query_id", "neighbor_id"))
    graft.sources.Staged.drop(spark, "reader_fence_ivfq")
    Knn.writeIvfIndexQuantized(planted, "reader_fence_ivfq",
      java.nio.file.Files.createTempDirectory("reader_fence").toString,
      nlist = 4, buckets = 2)
    clear("writeIvfIndexQuantized lists",
      ids(spark.table("reader_fence_ivfq"), "vec_id"))
    clear("lsh", ids(Knn.lsh(planted, probes, k = 5), "query_id",
      "neighbor_id"))
    clear("semMemberFor", ids(graft.similarity.Hybrid.semMemberFor(
      planted.filter(probes), planted, 0.1), "doc_id", "cand_id"))
    clear("embeddingPairs", ids(graft.dedup.Dedup.embeddingPairs(planted,
      tau = 0.3), "vec_id1", "vec_id2"))
  }
}
