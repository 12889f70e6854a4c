package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.similarity.{Hybrid, Knn}
import graft.streaming.Streaming
import graft.text.TextOps

/** Hybrid RRF retrieval: exact integer fusion arithmetic, full-outer
  * member semantics, deterministic tie-breaks, and the stream-static
  * probe's exact convergence to the registered batch row. */
class HybridSpec extends SparkSpec {
  import spark.implicits._

  test("RRF fusion is exact integer micro-units with full-outer member semantics") {
    val lex = Seq((1L, 10L, 0.95), (1L, 11L, 0.93), (1L, 12L, 0.91))
      .toDF("doc_id", "cand_id", "score")
    val sem = Seq((1L, 11L, 0.80), (1L, 13L, 0.70))
      .toDF("doc_id", "cand_id", "score")
    val got = Hybrid.topK(Hybrid.fuse(lex, sem), 10)
      .orderBy("rnk")
      .select("cand_id", "lex_rank", "sem_rank", "rrf_micro", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // 1e9 div 61 = 16393442, div 62 = 16129032, div 63 = 15873015
    assert(got.toSeq == Seq(
      (11L, 2L, 1L, 16129032L + 16393442L, 1L), // in BOTH members → tops
      (10L, 1L, 0L, 16393442L, 2L),             // lex only, rank 1
      (13L, 0L, 2L, 16129032L, 3L),             // sem only, rank 2
      (12L, 3L, 0L, 15873015L, 4L)), got.toSeq.toString)
  }

  test("equal fused mass breaks ties on cand_id; k bounds the cut") {
    // cand 20 tops lex, cand 7 tops sem → identical reciprocal mass
    val lex = Seq((1L, 20L, 0.9), (1L, 21L, 0.8)).toDF(
      "doc_id", "cand_id", "score")
    val sem = Seq((1L, 7L, 0.9), (1L, 22L, 0.8)).toDF(
      "doc_id", "cand_id", "score")
    val got = Hybrid.topK(Hybrid.fuse(lex, sem), 3)
      .orderBy("rnk").select("cand_id").as[Long].collect()
    assert(got.toSeq == Seq(7L, 20L, 21L), got.toSeq.toString)
  }

  test("member rank ties break on cand_id (grid score equal)") {
    val lex = Seq((1L, 30L, 0.9), (1L, 29L, 0.9)).toDF(
      "doc_id", "cand_id", "score")
    val sem = spark.emptyDataFrame
      .select(lit(0L).as("doc_id"), lit(0L).as("cand_id"),
        lit(0.0).as("score")).filter(lit(false))
    val got = Hybrid.topK(Hybrid.fuse(lex, sem), 10)
      .orderBy("rnk").select("cand_id", "lex_rank")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((29L, 1L), (30L, 2L)), got.toSeq.toString)
  }

  test("hybrid_search_rrf over the corpus: dense ranks, recomputable fusion") {
    val out = Hybrid.hybridSearch(TextOps.docs(spark, SF),
      Knn.emb(spark, SF)).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (lr, sr, rrf) = (r.getAs[Long]("lex_rank"),
        r.getAs[Long]("sem_rank"), r.getAs[Long]("rrf_micro"))
      val want = (if (lr > 0) 1000000000L / (60L + lr) else 0L) +
        (if (sr > 0) 1000000000L / (60L + sr) else 0L)
      assert(rrf == want && rrf > 0L, s"row $r")
      assert(lr > 0 || sr > 0, s"memberless candidate: $r")
    }
    // per-query rank lists are dense 1..n with n <= k
    val byQ = out.groupBy(_.getAs[Long]("doc_id"))
    byQ.foreach { case (q, rows) =>
      val rnks = rows.map(_.getAs[Long]("rnk")).sorted.toSeq
      assert(rnks == (1L to rnks.size).toSeq && rnks.size <= 10,
        s"query $q ranks $rnks")
    }
    // both modalities must contribute somewhere on the real corpus
    assert(out.exists(_.getAs[Long]("lex_rank") > 0))
    assert(out.exists(_.getAs[Long]("sem_rank") > 0))
  }

  test("RRF fusion respects Pareto dominance over member ranks") {
    // deterministic member lists wide enough to exercise absent-member
    // candidates and assorted rank combinations; at ranks <= 60 the
    // integer reciprocal 1e9 div (60+r) is strictly monotone, so a
    // candidate at least as good in both members and strictly better
    // in one must fuse strictly higher
    val lex = (1 to 40).map(i => (1L, 100L + i, 1.0 - i * 0.01))
      .toDF("doc_id", "cand_id", "score")
    val sem = (1 to 25).map(i => (1L, 100L + ((i * 7) % 50), 1.0 - i * 0.02))
      .toDF("doc_id", "cand_id", "score")
    val rows = Hybrid.fuse(lex, sem)
      .select("cand_id", "lex_rank", "sem_rank", "rrf_micro")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // rank 0 = absent = strictly worse than any real rank
    def better(a: Long, b: Long) = a > 0 && (b == 0 || a < b)
    def atLeast(a: Long, b: Long) = (a > 0 && (b == 0 || a <= b)) ||
      (a == 0 && b == 0)
    for ((ca, la, sa, ra) <- rows; (cb, lb, sb, rb) <- rows if ca != cb) {
      if (atLeast(la, lb) && atLeast(sa, sb) &&
          (better(la, lb) || better(sa, sb)))
        assert(ra > rb, s"dominance violated: $ca($la,$sa,$ra) " +
          s"vs $cb($lb,$sb,$rb)")
    }
  }

  test("lexical pair-source swap (docSimilarPrefix) leaves the fused output row-identical") {
    val d = TextOps.docs(spark, SF)
    val e = Knn.emb(spark, SF)
    val blocked = Hybrid.hybridSearch(d, e).collect().map(_.toSeq).toSet
    val prefix = Hybrid.hybridSearch(d, e,
      lexPairs = Some(TextOps.docSimilarPrefix(d, 0.9)))
      .collect().map(_.toSeq).toSet
    assert(blocked.nonEmpty && blocked == prefix,
      s"blocked ${blocked.size} vs prefix ${prefix.size}")
  }

  test("hybrid_search_ivf at nprobe = nlist equals hybrid_search_rrf row-for-row") {
    val d = TextOps.docs(spark, SF)
    val e = Knn.emb(spark, SF)
    graft.sources.Staged.drop(spark, "hyb_ivf_spec")
    val path = Files.createTempDirectory("graft_hyb_ivf").toString + "/v"
    // probe every list and rank past every τ-reachable candidate: the
    // IVF member then reaches exactly the brute member's list
    val got = Hybrid.hybridSearchIvf(spark, d, e, "hyb_ivf_spec", path,
        kSem = 500, nlist = 4, nprobe = 4)
      .collect().map(_.toSeq).toSet
    val want = Hybrid.hybridSearch(d, e).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"ivf ${got.size} vs brute ${want.size}")
  }

  test("hybrid_search_pq on planted prototypes at nprobe = nlist equals the brute row (exact ADC scores)") {
    // the PqSpec planting: 3 mutually orthogonal prototypes, every PQ
    // centroid converges to an exact prototype subvector — ADC scores
    // are exactly 1.0 (same proto) / 0.0 (cross, < τ), so the PQ
    // member equals the brute member and the fused rows must match
    def proto(p: Int): Seq[Double] =
      (0 until 24).map(i => if (i % 3 == p) 1.0 else 0.0)
    val planted = Knn.embOf(
      (0L until 60L).map(i => (i, (i % 3).toString, proto((i % 3).toInt)))
        .toDF("vec_id", "label", "embedding")).cache()
    val d = TextOps.docs(spark, SF)
    val path = Files.createTempDirectory("graft_hyb_pq").toString + "/v"
    val got = Hybrid.hybridSearchPq(spark, d, planted, "hyb_pq_spec",
        path, kSem = 500, nlist = 4, nprobe = 4)
      .collect().map(_.toSeq).toSet
    val want = Hybrid.hybridSearch(d, planted).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"pq ${got.size} vs brute ${want.size}")
  }

  test("stream-static hybrid probe (foreachBatch) converges to batch hybrid_search_rrf") {
    val docs = TextOps.docs(spark, SF)
    val embRaw = spark.read.parquet(s"$SF/embeddings.parquet")
    graft.sources.Staged.drop(spark, "hyb_vec")
    graft.sources.Staged.drop(spark, "hyb_vec_vocab")
    val idx = Files.createTempDirectory("graft_hyb_idx").toString + "/v"
    TextOps.writeDocVectorIndex(docs, "hyb_vec", idx)
    // arrivals: the batch query slice, text + embedding in one row
    val queries = docs.filter(Hybrid.slicePred(col("doc_id")))
      .join(embRaw.select(col("vec_id").as("doc_id"), col("embedding")),
        "doc_id")
    val dir = Files.createTempDirectory("graft_hyb_stream").toString
    queries.repartition(3).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = Streaming.runHybridSearchProbe(spark, stream,
        "hyb_vec", "hyb_vec_vocab", Knn.emb(spark, SF)) { b =>
      val rows = b.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    q.processAllAvailable(); q.stop()
    val got = buf.toSet
    val want = Hybrid.hybridSearch(docs, Knn.emb(spark, SF))
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"probe ${got.size} vs batch ${want.size}")
  }

  test("capAudit boundary: over-cap strictly past kSem — an exactly-kSem list loses nothing") {
    val e = Knn.emb(spark, SF)
    val a1 = Hybrid.capAudit(e, kSem = 1).collect().head
    val nq = a1.getAs[Long]("n_queries")
    val m = a1.getAs[Long]("max_cands")
    assert(nq > 0 && m >= 2, a1.toString)
    // depth 1: exactly the queries holding >= 2 candidates are over
    // cap — never more than all queries, and at least the deepest
    assert(a1.getAs[Long]("n_over_cap") >= 1L &&
      a1.getAs[Long]("n_over_cap") <= nq, a1.toString)
    // depth AT the deepest list: a top-m cut drops nothing anywhere —
    // the boundary the audit must not overstate (>= would count the
    // deepest list's owner as capped while all its candidates survive)
    val a2 = Hybrid.capAudit(e, kSem = m.toInt).collect().head
    assert(a2.getAs[Long]("n_over_cap") == 0L, a2.toString)
    assert(a2.getAs[Long]("n_queries") == nq &&
      a2.getAs[Long]("max_cands") == m)
    // one below the deepest: its owner genuinely loses its tail
    val a3 = Hybrid.capAudit(e, kSem = (m - 1).toInt).collect().head
    assert(a3.getAs[Long]("n_over_cap") >= 1L, a3.toString)
  }

  test("centroid/index generation fence: mismatched artifacts raise the named error, aligned pass") {
    import spark.implicits._
    val e = Knn.emb(spark, SF)
    graft.sources.Staged.drop(spark, "fence_ivf")
    graft.sources.Staged.drop(spark, "fence_ivf_centroids")
    val path = Files.createTempDirectory("graft_fence_ivf").toString + "/v"
    Knn.writeIvfIndex(e, "fence_ivf", path, nlist = 4,
      persistCentroids = true)
    // the committed pair verifies (and memoizes)
    Knn.requireCentroidAlignment(spark, "fence_ivf",
      graft.functions.CentroidModel.of(
        graft.sources.Staged.table(spark, "fence_ivf_centroids")))
    // a centroid set from a DIFFERENT build (disjoint c_id space —
    // exactly what a probe sees mid-swap) must raise the NAMED error,
    // never serve a silently empty semantic member
    val alien = Seq((999999901L, Array(1.0, 0.0)),
      (999999902L, Array(0.0, 1.0))).toDF("c_id", "cv")
    val err = intercept[IllegalArgumentException] {
      Knn.requireCentroidAlignment(spark, "fence_ivf",
        graft.functions.CentroidModel.of(alien))
    }
    assert(err.getMessage.contains("generation mismatch"), err.getMessage)
  }

  test("index-backed stream hybrid probe at nprobe = nlist equals batch hybrid_search_rrf") {
    // the r16-verdict #1 shape: the semantic member probes the
    // PERSISTED bucketed IVF index (centroids from their own committed
    // table) instead of brute-scanning the frozen embedding table —
    // the per-batch cost is now nprobe lists, not the corpus. At
    // nprobe = nlist with kSem past every τ-reachable candidate the
    // probe reaches the brute member exactly, so the live fused rows
    // must equal the registered batch row row-for-row (the
    // hybridSearchIvf equivalence lifted to the stream).
    val docs = TextOps.docs(spark, SF)
    val e = Knn.emb(spark, SF)
    val embRaw = spark.read.parquet(s"$SF/embeddings.parquet")
    Seq("hyb_vec2", "hyb_vec2_vocab", "hyb_ivf_live",
      "hyb_ivf_live_centroids").foreach(t =>
      graft.sources.Staged.drop(spark, t))
    val idx = Files.createTempDirectory("graft_hyb_idx2").toString + "/v"
    TextOps.writeDocVectorIndex(docs, "hyb_vec2", idx)
    val ivfPath = Files.createTempDirectory("graft_hyb_ivf2").toString + "/i"
    Knn.writeIvfIndex(e, "hyb_ivf_live", ivfPath, nlist = 4,
      persistCentroids = true)
    val queries = docs.filter(Hybrid.slicePred(col("doc_id")))
      .join(embRaw.select(col("vec_id").as("doc_id"), col("embedding")),
        "doc_id")
    val dir = Files.createTempDirectory("graft_hyb_stream2").toString
    queries.repartition(3).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    var batches = 0
    // each micro-batch reads the centroid table ONCE: the alignment
    // fence checks the model the probe's kernels read
    val scans = TableScans.during(spark, "hyb_ivf_live_centroids") {
      val q = Streaming.runHybridSearchProbeIvf(spark, stream,
          "hyb_vec2", "hyb_vec2_vocab", "hyb_ivf_live",
          kSem = 500, nprobe = 4) { b =>
        val rows = b.collect().map(_.toSeq)
        buf.synchronized { buf ++= rows; batches += 1 }
      }
      q.processAllAvailable(); q.stop()
    }
    assert(batches > 0 && scans == Seq(batches),
      s"$batches micro-batches read the centroid table ${scans.head} times")
    val got = buf.toSet
    val want = Hybrid.hybridSearch(docs, e).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"ivf probe ${got.size} vs batch ${want.size}")
  }
}
