package graft

import org.apache.spark.sql.functions._
import graft.similarity.Knn

/** Product-quantization (IVF-PQ) family: planted-prototype exactness,
  * code determinism, the uniform-codebook layout invariant the flat ADC
  * LUT addressing depends on, kernel fences, balance-audit conservation,
  * and the bucketed zero-index-Exchange plan. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  // 24-dim corpus of 3 MUTUALLY ORTHOGONAL prototypes (unit vector at
  // offset p within each 3-dim subspace), 20 replicas each: same-proto
  // cosine 1.0, cross-proto 0.0 — and every PQ centroid converges to an
  // exact prototype subvector, so ADC scores are exact too
  private def proto(p: Int): Seq[Double] =
    (0 until 24).map(i => if (i % 3 == p) 1.0 else 0.0)

  private lazy val planted = Knn.embOf(
    (0L until 60L).map(i => (i, (i % 3).toString, proto((i % 3).toInt)))
      .toDF("vec_id", "label", "embedding")).cache()

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("planted prototypes: PQ search returns same-prototype neighbors at exactly 1.0") {
    graft.sources.Staged.drop(spark, "pq_planted")
    val (coarse, codebook) = Knn.writeIvfPqIndex(planted, "pq_planted",
      freshDir("graft_pq_planted"), nlist = 4, m = 8, ksub = 16)
    val rows = Knn.searchIvfPq(spark, "pq_planted", coarse, codebook,
      planted.filter(col("vec_id") < 3), k = 10, nprobe = 4)
      .collect()
    assert(rows.length == 30, s"expected 3×10 rows, got ${rows.length}")
    rows.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val n = r.getAs[Long]("neighbor_id")
      assert(n % 3 == q % 3, s"cross-prototype neighbor: $r")
      assert(r.getAs[Double]("score") == 1.0, s"inexact ADC score: $r")
    }
  }

  test("planted prototypes: recall vs float brute is exactly 1000 at nprobe = nlist") {
    graft.sources.Staged.drop(spark, "pq_recall_t")
    val aud = Knn.pqRecallAudit(spark, planted, "pq_recall_t",
      freshDir("graft_pq_recall"), col("vec_id") < 3, k = 10,
      nprobe = 4, nlist = 4).collect().head
    assert(aud.getAs[Long]("n_probes") == 3L, aud.toString)
    assert(aud.getAs[Long]("recall_milli") == 1000L, aud.toString)
  }

  test("codes are deterministic across independent builds") {
    val cb1 = Knn.pqCodebook(planted.localCheckpoint(true))
    val cb2 = Knn.pqCodebook(planted.localCheckpoint(true))
    def codesOf(cb: org.apache.spark.sql.DataFrame): Map[Long, Seq[Int]] =
      Knn.pqEncode(planted.localCheckpoint(true), cb).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap
    val (c1, c2) = (codesOf(cb1), codesOf(cb2))
    assert(c1.size == 60 && c1 == c2)
    // identical input vectors get identical code arrays
    val byProto = c1.groupBy { case (id, _) => id % 3 }
    byProto.values.foreach { g =>
      assert(g.values.toSet.size == 1,
        s"replicas of one prototype got distinct codes: $g")
    }
  }

  test("codebook layout invariant: uniform per-subspace size, dense code_idx, LUT length m·ksub") {
    val e = Knn.emb(spark, SF)
    val cb = Knn.pqCodebook(e.localCheckpoint(true)).collect()
    val bySub = cb.groupBy(_.getAs[Int]("sub_id"))
    assert(bySub.keySet == (0 until 8).toSet)
    val sizes = bySub.values.map(_.length).toSet
    assert(sizes == Set(16), s"non-uniform per-subspace codebook: $sizes")
    bySub.values.foreach { g =>
      assert(g.map(_.getAs[Int]("code_idx")).sorted.toSeq == (0 until 16))
    }
    val lut = Knn.pqLut(e.filter(col("vec_id") < 3),
      Knn.pqCodebook(e.localCheckpoint(true))).collect()
    assert(lut.length == 3)
    lut.foreach(r => assert(r.getSeq[Double](1).length == 8 * 16, r.toString))
  }

  test("PqAdcScore kernel fences: out-of-range code and non-divisible layout raise") {
    import graft.functions.PqAdcScore
    val one = spark.range(1).toDF("i")
    // valid lookup: codes [1, 0] over a 2×2 LUT → lut[0·2+1] + lut[1·2+0]
    val ok = one.select(PqAdcScore(
      expr("array(1, 0)"), expr("array(10.0d, 20.0d, 30.0d, 40.0d)"))
      .as("s")).collect().head.getDouble(0)
    assert(ok == 50.0)
    val oob = intercept[Exception] {
      one.select(PqAdcScore(expr("array(2, 0)"),
        expr("array(10.0d, 20.0d, 30.0d, 40.0d)")).as("s")).collect()
    }
    assert(oob.getMessage != null)
    val layout = intercept[Exception] {
      one.select(PqAdcScore(expr("array(0, 0, 0)"),
        expr("array(10.0d, 20.0d, 30.0d, 40.0d)")).as("s")).collect()
    }
    assert(layout.getMessage != null)
  }

  test("dimensionality fence: dim not divisible by m raises in-plan") {
    val bad = Knn.embOf(Seq((1L, "x", Seq.fill(10)(1.0)))
      .toDF("vec_id", "label", "embedding"))
    val err = intercept[Exception] {
      Knn.pqCodebook(bad.localCheckpoint(true)).collect()
    }
    assert(err.getMessage.contains("not divisible"), err.getMessage)
  }

  test("code-balance audit: conservation, dead-code accounting, planted collapse visible") {
    graft.sources.Staged.drop(spark, "pq_balance_t")
    val (_, codebook) = Knn.writeIvfPqIndex(planted, "pq_balance_t",
      freshDir("graft_pq_bal"), nlist = 4, m = 8, ksub = 16)
    val rows = Knn.pqCodeBalance(spark, "pq_balance_t", codebook).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      // every vector contributes exactly one code per subspace
      assert(r.getAs[Long]("n_vectors") == 60L, r.toString)
      assert(r.getAs[Long]("n_codes_used") + r.getAs[Long]("n_codes_dead") ==
        r.getAs[Long]("n_codes_trained"), r.toString)
      // 3 distinct subvector values per subspace → ≤ 3 live codes out of
      // 16 trained: the planted collapse the audit exists to surface
      assert(r.getAs[Long]("n_codes_used") <= 3L, r.toString)
      assert(r.getAs[Long]("n_codes_dead") >= 13L, r.toString)
      assert(r.getAs[Long]("max_occ") >= r.getAs[Long]("min_occ"))
    }
  }

  test("search plan: bucketed index scan, no cartesian, one probe-side c_id Exchange") {
    val e = Knn.emb(spark, SF)
    graft.sources.Staged.drop(spark, "pq_plan_t")
    val (coarse, codebook) = Knn.writeIvfPqIndex(e, "pq_plan_t",
      freshDir("graft_pq_plan"), nlist = 10, buckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = Knn.searchIvfPq(spark, "pq_plan_t", coarse, codebook,
        e.filter(col("vec_id") < 5), k = 10)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), p)
      val cIdExchanges =
        "Exchange hashpartitioning\\(c_id".r.findAllIn(p).length
      assert(cIdExchanges == 1, p)
      assert(p.contains("Bucketed: true"), p)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("PQ kernels ≡ the join-based reference: codes, LUTs and a codebook round (sf0.001 and planted ties)") {
    import graft.functions.CentroidModel
    // planted: 20 byte-identical replicas per prototype, so seeds repeat
    // prototype subvectors under distinct ids — exact distance ties
    Seq("sf0.001" -> Knn.emb(spark, SF).localCheckpoint(true),
        "planted" -> planted).foreach { case (tag, e) =>
      val cb = Knn.pqCodebook(e, iters = 1).localCheckpoint(true)
      val sub = Knn.pqSubvectors(e, 8).localCheckpoint(true)
      def codes(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val want = codes(CentroidReference.pqEncode(sub, cb))
      assert(want.nonEmpty, tag)
      assert(codes(Knn.pqEncode(e, cb)) == want,
        s"$tag: kernel codes differ from the join reference")
      def luts(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val q = col("vec_id") < 5
      assert(luts(Knn.pqLut(e.filter(q), cb)) ==
        luts(CentroidReference.pqLut(sub.filter(q), cb)),
        s"$tag: kernel LUTs differ from the join reference")
      def means(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
      val wantMeans = means(CentroidReference.pqRound(sub, cb))
      val gotMeans = means(Knn.pqRound(sub, CentroidModel.codebook(cb)))
      assert(gotMeans.keySet == wantMeans.keySet, s"$tag: round cluster sets differ")
      wantMeans.foreach { case (c, w) =>
        assert(gotMeans(c).zip(w).forall { case (a, b) => math.abs(a - b) <= 1e-9 },
          s"$tag: codebook mean of $c: ${gotMeans(c)} vs $w")
      }
    }
  }
}
