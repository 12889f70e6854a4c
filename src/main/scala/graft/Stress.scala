package graft
import org.apache.spark.sql.SparkSession

/** Scale-stress runner (r15, r14 verdict #2): executes the CAPPED
  * candidate-pruning families — every operator whose 100 TB argument is
  * "occupancy caps bound the task; drops are accounted in audit rows" —
  * against an inflated corpus (tools/stress/inflate.py: sf0.1 replicated
  * N× with salted keys and VERBATIM payloads, i.e. the mirror-crawl
  * pathology at a scale where the caps engage ORGANICALLY rather than in
  * planted unit specs). Emits one JSON line with per-query wall seconds,
  * result cardinalities, and the FULL audit-row payloads, so a 1× vs N×
  * pair of runs shows directly that (a) the caps engaged (dropped mass >
  * 0 in the audits), (b) every dropped candidate is accounted, and (c)
  * no task went superlinear (time and candidate ratios ≪ N²).
  *
  * The quadratic oracle-baseline formulations (doc_similar's pair join,
  * dedup_recall_audit's exact all-pairs) are deliberately ABSENT: they
  * are small-scope baselines by contract (`atScaleVerify` gates them in
  * code); this runner exercises exactly the operators that claim to
  * survive the pathology. */
object Stress {

  /** The capped families, with their drop-accounting audits. */
  private val Queries = Seq(
    "dedup_exact",
    "dedup_minhash", "minhash_band_audit",
    "dedup_char_ngram", "char_ngram_gram_audit",
    "dedup_clusters_lsh", "lsh_bucket_audit",
    "dedup_embedding_lsh",
    "dedup_semantic", "semantic_cluster_audit",
    "knn_lsh", "knn_ivf", "ivf_balance_audit",
    "dedup_incremental",
    "chunk_dedup", "chunk_dedup_incremental",
    "contamination_substring",
    "contamination_semantic_ivf", "contamination_semantic_ivf_audit",
    // pq_recall_audit's brute baseline is 5 FIXED probes × corpus —
    // linear in n, not the quadratic class the header excludes; its
    // recall number at 50× is the (m, ksub, nprobe) headroom reading
    // the r15 verdict asked for
    "knn_pq", "pq_recall_audit", "pq_code_balance",
    "mm_dedup_near", "mm_dedup_near_audit")

  /** Audit rows are grid/occupancy-bounded by construction; the bound is
    * enforced before collect (the boundedCollect posture). */
  private val AuditRows = Set(
    "minhash_band_audit", "char_ngram_gram_audit", "lsh_bucket_audit",
    "semantic_cluster_audit",
    "ivf_balance_audit", "contamination_semantic_ivf_audit",
    "pq_code_balance", "pq_recall_audit",
    "mm_dedup_near_audit")

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
    // optional second arg: comma-separated query subset (the Verify
    // filter posture) — re-read one family's tier without a full run
    val selected = if (args.length > 1) {
      val want = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = want -- Queries.toSet
      require(unknown.isEmpty, s"unknown stress queries: $unknown")
      Queries.filter(want)
    } else Queries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = LocalSession(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()

    def fmt(v: Double): String = f"$v%.3f"
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val secs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val audits = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    selected.foreach { name =>
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val n = df.count()
        secs(name) = (System.nanoTime() - t0) / 1e9
        rows(name) = n
        if (AuditRows(name)) {
          require(n <= 10000L, s"$name: audit emitted $n rows — " +
            "audits are grid-bounded by contract")
          audits(name) = SparkEntry.queries(name)(spark, sfDir)
            .toJSON.collect().mkString("[", ",", "]")
        }
      } catch {
        case e: Throwable =>
          secs(name) = (System.nanoTime() - t0) / 1e9
          failed += name
          System.err.println(s"[stress] FAIL $name: ${e.getMessage}")
      }
      release(spark)
    }
    val line = "{" +
      s""""stress":true,"sf":"$sfDir","cpus":$cpus,""" +
      s""""total_sec":${fmt(secs.values.sum)},""" +
      s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""queries":${secs.map { case (k, v) => s""""$k":${fmt(v)}""" }
        .mkString("{", ",", "}")},""" +
      s""""rows":${rows.map { case (k, v) => s""""$k":$v""" }
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
