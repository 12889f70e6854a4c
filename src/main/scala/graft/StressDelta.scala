package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delta-family scale-stress runner (r24, r18 verdict #5): the
  * append → merge → serve cycle against an inflated corpus
  * (tools/stress/inflate.py — the mirror-crawl pathology), so the
  * delta-maintenance claims carry a scale artifact like every other
  * capped family. For each delta family (text postings, doc-vector,
  * float IVF, IVF-PQ):
  *
  *   build base (~3/4 split) → append B delta batches one at a time,
  *   PROBING AFTER EVERY APPEND → one merge → probe again.
  *
  * The JSON line records per-step wall seconds, probe cardinalities +
  * exact integer probe digests (sum of grid scores — FP-order-free),
  * and the audit rows after every step (delta share climbing, OOV
  * accounting, zeros after the merge). What a reader checks:
  *  - CONVERGENCE: the post-merge probe digest equals the last
  *    pre-merge digest (the transparent-merge contract at scale), and
  *    the text probe digest equals the AD-HOC full-corpus bm25 digest
  *    (probe ≡ rebuild, measured organically at N×);
  *  - FLAT APPENDS: append k writes ONE segment holding only batch k
  *    (it never reads or rewrites an earlier segment's payload), so
  *    per-append time is flat in k and batch-sized, NEVER corpus-sized
  *    (base build time is the corpus-sized yardstick printed next to
  *    them); probe time grows with the live segments until the merge;
  *  - the audits account every mass (drop-accounting posture).
  *
  * Probe scopes are serving-sized by design (a query's cost must not
  * scale with corpus size beyond the index scan): the bm25 probe is
  * the 4-term standing query, the vector probe is a ~1/65536 md5 query
  * slice, the IVF probe is 5 fixed queries — the brute all-pairs
  * formulations stay absent (the Stress header's contract). */
object StressDelta {

  private val Terms = Seq("vector", "stream", "window", "hash")

  private def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val sfDir =
      if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val batches = if (args.length > 1) args(1).toInt else 4
    require(batches >= 1 && batches <= 16, s"bad batches=$batches")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = LocalSession(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()

    def fmt(v: Double): String = f"$v%.3f"
    val secs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val audits = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    def step(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      try { f; secs(name) = (System.nanoTime() - t0) / 1e9 }
      catch {
        case e: Throwable =>
          secs(name) = (System.nanoTime() - t0) / 1e9
          failed += name
          System.err.println(s"[stress-delta] FAIL $name: ${e.getMessage}")
      }
      release(spark)
    }
    // exact integer digest of a probe result: count + Σ(grid score ·
    // 1e4) — both order-free, so equal digests mean equal result mass
    // without collecting a corpus-sized row set
    def digest(name: String, df: DataFrame, scoreCol: String): Unit = {
      val r = df.agg(count(lit(1)).as("n"),
        coalesce(sum((col(scoreCol) * lit(10000.0)).cast("long")),
          lit(0L)).as("s")).collect().head
      rows(name) = r.getLong(0)
      digests(name) = r.getLong(1)
    }
    def audit(name: String, df: DataFrame): Unit =
      audits(name) = df.toJSON.collect().mkString("[", ",", "]")

    val wh = java.nio.file.Files
      .createTempDirectory("graft_stress_delta").toString
    val docs = graft.text.TextOps.docs(spark, sfDir)
    val isDelta = substring(md5(concat_ws(":",
      col("doc_id").cast("string"), lit("dsd"))), 1, 1) >= "c"
    val bNib = substring(md5(concat_ws(":",
      col("doc_id").cast("string"), lit("dsb"))), 1, 1)
    // single-hex-char bounds only (a 2-char "10" bound would string-
    // compare wrong against 1-char nibbles); the last batch is openly
    // bounded instead
    val bounds = (0 until batches).map(i => f"${i * 16 / batches}%x")
    def docBatch(i: Int): DataFrame =
      docs.filter(isDelta && bNib >= bounds(i) &&
        (if (i == batches - 1) lit(true) else bNib < bounds(i + 1)))
    // delta docs appended through batch i inclusive (the audit's view)
    def docsUpTo(i: Int): DataFrame =
      if (i == batches - 1) docs.filter(isDelta)
      else docs.filter(isDelta && bNib < bounds(i + 1))

    // ── text postings family ──
    val tTbl = "stress_dlt_text"
    graft.sources.Staged.drop(spark, tTbl)
    step("text_build_base") {
      graft.text.TextOps.writeTextIndex(docs.filter(!isDelta), tTbl,
        s"$wh/text")
    }
    (0 until batches).foreach { i =>
      step(s"text_append_$i") {
        graft.text.TextOps.appendTextIndexDelta(docBatch(i), tTbl,
          s"$wh/text")
      }
      step(s"text_probe_$i") {
        digest(s"text_probe_$i",
          graft.text.TextOps.searchIndexDelta(spark, tTbl, Terms),
          "score")
      }
      audit(s"text_audit_$i",
        graft.text.TextOps.textIndexDeltaAudit(spark, tTbl))
    }
    step("text_merge") {
      graft.text.TextOps.mergeTextIndex(spark, tTbl, s"$wh/text")
    }
    step("text_probe_merged") {
      digest("text_probe_merged",
        graft.text.TextOps.searchIndex(spark, tTbl, Terms), "score")
    }
    audit("text_audit_merged",
      graft.text.TextOps.textIndexDeltaAudit(spark, tTbl))
    // the organic probe ≡ rebuild reference: ad-hoc bm25 over the
    // union corpus (ONE corpus-sized tokenize, the yardstick)
    step("text_probe_adhoc") {
      digest("text_probe_adhoc",
        graft.text.TextOps.bm25Search(docs, Terms), "score")
    }

    // ── doc-vector family ──
    val vTbl = "stress_dlt_vec"
    graft.sources.Staged.drop(spark, vTbl)
    // serving-sized query slice: ~4/4096 of docs probe together (the
    // brute serving join is |slice|·|corpus|/|langs| kernel calls —
    // a few queries at 1×, a few hundred at the 50× tier)
    val qPred = substring(md5(concat_ws(":",
      col("doc_id").cast("string"), lit("sdq"))), 1, 3) < "004"
    step("vec_build_base") {
      graft.text.TextOps.writeDocVectorIndex(docs.filter(!isDelta), vTbl,
        s"$wh/vec")
    }
    (0 until batches).foreach { i =>
      step(s"vec_append_$i") {
        graft.text.TextOps.appendDocVectorIndexDelta(docBatch(i), vTbl,
          s"$wh/vec")
      }
      step(s"vec_probe_$i") {
        // tau 0.5: the un-replicated 1× corpus has almost no 0.9-pairs
        // (the default serving tau), while the inflated tiers surface
        // replica pairs at any tau — 0.5 keeps BOTH tiers non-vacuous
        digest(s"vec_probe_$i",
          graft.text.TextOps.docSimilarPersistedDelta(spark, docs, vTbl,
            s"${vTbl}_vocab", qPred, tau = 0.5), "score")
      }
      audit(s"vec_audit_$i",
        graft.text.TextOps.docVectorDeltaAudit(spark, vTbl, docsUpTo(i)))
    }
    step("vec_merge") {
      graft.text.TextOps.mergeDocVectorIndex(spark, vTbl, s"$wh/vec")
    }
    step("vec_probe_merged") {
      digest("vec_probe_merged",
        graft.text.TextOps.docSimilarPersistedDelta(spark, docs, vTbl,
          s"${vTbl}_vocab", qPred, tau = 0.5), "score")
    }
    audit("vec_audit_merged",
      graft.text.TextOps.docVectorDeltaAudit(spark, vTbl,
        docs.filter(isDelta)))

    // ── float IVF family ──
    val kTbl = "stress_dlt_ivf"
    graft.sources.Staged.drop(spark, kTbl)
    val emb = graft.similarity.Knn.emb(spark, sfDir)
    val isDeltaV = substring(md5(concat_ws(":",
      col("vec_id").cast("string"), lit("ivfd"))), 1, 1) >= "c"
    val vNib = substring(md5(concat_ws(":",
      col("vec_id").cast("string"), lit("ivfb"))), 1, 1)
    def vecBatch(i: Int): DataFrame =
      emb.filter(isDeltaV && vNib >= bounds(i) &&
        (if (i == batches - 1) lit(true) else vNib < bounds(i + 1)))
    var centroids: DataFrame = null
    step("ivf_build_base") {
      val c = graft.similarity.Knn.writeIvfIndex(
        emb.filter(!isDeltaV), kTbl, s"$wh/ivf")
      // collect + recreate (nlist rows): release() unpersists every
      // checkpoint between steps, so a cross-step frame must not carry
      // lineage or checkpoint blocks
      centroids = spark.createDataFrame(
        java.util.Arrays.asList(c.collect(): _*), c.schema)
    }
    (0 until batches).foreach { i =>
      step(s"ivf_append_$i") {
        graft.similarity.Knn.appendIvfIndexDelta(vecBatch(i), kTbl,
          s"$wh/ivf", centroids)
      }
      step(s"ivf_probe_$i") {
        digest(s"ivf_probe_$i",
          graft.similarity.Knn.searchIvfIndexDelta(spark, kTbl,
            centroids, emb.filter(col("vec_id") < 5), k = 10), "score")
      }
      audit(s"ivf_audit_$i",
        graft.similarity.Knn.ivfBalanceAudit(spark, kTbl))
    }
    step("ivf_merge") {
      graft.similarity.Knn.mergeIvfIndex(spark, kTbl, s"$wh/ivf")
    }
    step("ivf_probe_merged") {
      digest("ivf_probe_merged",
        graft.similarity.Knn.searchIvfIndex(spark, kTbl, centroids,
          emb.filter(col("vec_id") < 5), k = 10), "score")
    }
    audit("ivf_audit_merged",
      graft.similarity.Knn.ivfBalanceAudit(spark, kTbl))

    // ── IVF-PQ family (frozen coarse + frozen codebook) ──
    val pTbl = "stress_dlt_pq"
    graft.sources.Staged.drop(spark, pTbl)
    step("pq_build_base") {
      graft.similarity.Knn.writeIvfPqIndex(emb.filter(!isDeltaV), pTbl,
        s"$wh/pq")
    }
    (0 until batches).foreach { i =>
      step(s"pq_append_$i") {
        graft.similarity.Knn.appendIvfPqIndexDelta(vecBatch(i), pTbl,
          s"$wh/pq")
      }
      step(s"pq_probe_$i") {
        digest(s"pq_probe_$i",
          graft.similarity.Knn.searchIvfPqDelta(spark, pTbl,
            emb.filter(col("vec_id") < 5), k = 10), "score")
      }
      audit(s"pq_audit_$i",
        graft.similarity.Knn.ivfDeltaAudit(spark, pTbl))
    }
    step("pq_merge") {
      graft.similarity.Knn.mergeIvfIndex(spark, pTbl, s"$wh/pq")
    }
    step("pq_probe_merged") {
      digest("pq_probe_merged",
        graft.similarity.Knn.searchIvfPqDelta(spark, pTbl,
          emb.filter(col("vec_id") < 5), k = 10), "score")
    }
    audit("pq_audit_merged",
      graft.similarity.Knn.ivfDeltaAudit(spark, pTbl))

    val line = "{" +
      s""""stress_delta":true,"sf":"$sfDir","cpus":$cpus,""" +
      s""""batches":$batches,""" +
      s""""total_sec":${fmt(secs.values.sum)},""" +
      s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""steps":${secs.map { case (k, v) => s""""$k":${fmt(v)}""" }
        .mkString("{", ",", "}")},""" +
      s""""rows":${rows.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")},""" +
      s""""digests":${digests.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")},""" +
      s""""audits":${audits.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")}}"""
    sys.env.get("SPARK_GRAFT_STRESS_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.sparkContext.setLogLevel("ERROR")
    println(line)
    spark.stop()
  }
}
