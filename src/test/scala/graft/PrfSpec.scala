package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.{Prf, TextOps}

/** Pseudo-relevance-feedback expansion: planted mining behavior, the
  * bounded global-top-k cut's equivalence to the window formulation,
  * and the end-to-end expanded ranking. */
class PrfSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))

  test("expansion mines the co-occurring term, excludes seed terms and df-1 singletons") {
    // 'vector' docs all carry 'quantized' (df 3); 'zzzrare' appears in
    // ONE top doc only (df 1 → floor-excluded despite max idf); filler
    // docs keep the collection stats honest
    val d = corpus(
      (1L, "vector quantized index zzzrare"),
      (2L, "vector quantized search"),
      (3L, "vector quantized store"),
      (4L, "filler words only here"),
      (5L, "more filler body text"),
      (6L, "other content entirely"))
    val terms = Prf.prfTerms(d, q0 = Seq("vector"), k0 = 3, m = 3)
      .collect().map(_.getAs[String]("term")).toSet
    assert(terms.contains("quantized"), terms.toString)
    assert(!terms.contains("vector"), "seed term leaked into expansion")
    assert(!terms.contains("zzzrare"), "df-1 singleton hijacked expansion")
  }

  test("global top-k cut (MinKByKey) equals the window formulation on a tie-heavy table") {
    // ties on the 1e-4 grid score must break on doc_id, identically
    val scored = Seq(
      (10L, 0.5), (11L, 0.5), (12L, 0.5), (13L, 0.75),
      (14L, 0.25), (15L, 0.75)).toDF("doc_id", "score")
    val got = Prf.topDocs(scored, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = scored.withColumn("rnk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .filter(col("rnk") <= 4)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rnk")))
      .toSet
    assert(got == want, s"$got vs $want")
    // the cut itself plans the bounded aggregate, never a sort/window
    val plan = Prf.topDocs(scored, 4).queryExecution.executedPlan.toString
    assert(plan.contains("min_k_by_key"), plan)
    assert(!plan.contains("Window") && !plan.contains("Sort "), plan)
  }

  test("expansionEval set arithmetic is consistent with the two cuts it compares") {
    val d = TextOps.docs(spark, SF)
    val r = Prf.expansionEval(d).collect().head
    val (common, nw, dropped) = (r.getAs[Long]("n_common"),
      r.getAs[Long]("n_new"), r.getAs[Long]("n_dropped"))
    val seedTop = Prf.topDocs(TextOps.bm25Search(d, Prf.SeedQuery), 20)
      .count()
    val expTop = Prf.searchPrf(d).count()
    assert(common + dropped == seedTop, s"$common+$dropped != $seedTop")
    assert(common + nw == expTop, s"$common+$nw != $expTop")
    assert(r.getAs[Long]("n_seed_matched") >= seedTop)
  }

  test("standing-query score of a novel doc is frozen-stats stable and the stream probe is exact") {
    import java.nio.file.Files
    val docs = TextOps.docs(spark, SF)
    graft.sources.Staged.drop(spark, "route_idx")
    graft.sources.Staged.drop(spark, "route_idx_stats")
    val idx = Files.createTempDirectory("graft_route_idx").toString + "/v"
    TextOps.writeTextIndex(docs, "route_idx", idx)
    val q = Prf.SeedQuery
    // a doc NOT in the index: its score must not depend on which other
    // novel docs share its batch (frozen collection statistics)
    val novelA = corpus((900001L, "vector stream vector hash extra"))
    val novelB = corpus((900001L, "vector stream vector hash extra"),
      (900002L, "window window stream filler body"),
      (900003L, "no query words at all"))
    val alone = TextOps.standingQueryScore(spark, "route_idx", novelA, q)
      .collect().map(_.toSeq).toSet
    val inBatch = TextOps.standingQueryScore(spark, "route_idx", novelB, q)
      .filter(col("doc_id") === 900001L).collect().map(_.toSeq).toSet
    assert(alone.size == 1 && alone == inBatch, s"$alone vs $inBatch")
    // corpus members score exactly as the ad-hoc bm25 (shared oracle's
    // engine-side witness)
    val viaRoute = TextOps.standingQueryScore(spark, "route_idx", docs, q)
      .collect().map(_.toSeq).toSet
    val adhoc = TextOps.bm25Search(docs, q).collect().map(_.toSeq).toSet
    assert(adhoc.nonEmpty && viaRoute == adhoc)
    // the stream probe runs the same scorer per micro-batch, exactly
    val arrivals = docs.select("doc_id", "text").limit(40)
      .unionByName(
        corpus((900007L, "vector hash novel arrival"))
          .select("doc_id", "text"))
    val dir = Files.createTempDirectory("graft_route_stream").toString
    arrivals.repartition(3).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(arrivals.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val sq = graft.streaming.Streaming.runStandingQueryProbe(spark,
        stream, "route_idx", q) { b =>
      val rows = b.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    sq.processAllAvailable(); sq.stop()
    val want = TextOps.standingQueryScore(spark, "route_idx",
      spark.read.parquet(dir), q).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && buf.toSet == want)
  }

  test("searchPrf equals BM25 over seed union mined terms with the window cut") {
    val d = TextOps.docs(spark, SF)
    val got = Prf.searchPrf(d).collect().map(_.toSeq).toSet
    val qterms = spark.createDataset(Prf.SeedQuery).toDF("term")
      .unionByName(Prf.prfTerms(d).select("term"))
    val want = TextOps.bm25SearchTerms(d, qterms)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .filter(col("rnk") <= 20)
      .select("doc_id", "n_terms_matched", "score", "rnk")
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"prf ${got.size} vs window ${want.size}")
    // expansion genuinely widened the query: some served doc matches
    // more terms than the seed query has
    assert(got.exists(_(1).asInstanceOf[Long] > 4L) ||
      Prf.prfTerms(d).count() == 0L)
  }

  test("searchPrfIndexed is row-identical to the ad-hoc face (transparent index hop)") {
    import java.nio.file.Files
    val d = TextOps.docs(spark, SF)
    graft.sources.Staged.drop(spark, "prf_idx_spec")
    graft.sources.Staged.drop(spark, "prf_idx_spec_stats")
    val path = Files.createTempDirectory("graft_prf_idx").toString
    TextOps.writeTextIndex(d, "prf_idx_spec", s"$path/t")
    val gotTerms = Prf.prfTermsIndexed(spark, "prf_idx_spec")
      .collect().map(_.toSeq).toSet
    val wantTerms = Prf.prfTerms(d).collect().map(_.toSeq).toSet
    assert(wantTerms.nonEmpty && gotTerms == wantTerms,
      s"indexed dict $gotTerms vs ad-hoc $wantTerms")
    val got = Prf.searchPrfIndexed(spark, "prf_idx_spec")
      .collect().map(_.toSeq).toSet
    val want = Prf.searchPrf(d).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"indexed ${got.size} vs ad-hoc ${want.size}")
  }

  test("PRF delta face: ad-hoc, persisted-full, and base+delta are row-identical at every stage") {
    import java.nio.file.Files
    val d = TextOps.docs(spark, SF)
    Seq("prf_dlt_spec", "prf_dlt_spec_stats", "prf_dlt_spec_delta",
      "prf_dlt_spec_delta_stats")
      .foreach(t => graft.sources.Staged.drop(spark, t))
    val path = Files.createTempDirectory("graft_prf_dlt").toString
    val isDelta = substring(md5(concat_ws(":",
      col("doc_id").cast("string"), lit("dsd"))), 1, 1) >= "c"
    TextOps.writeTextIndex(d.filter(!isDelta), "prf_dlt_spec", s"$path/t")
    TextOps.appendTextIndexDelta(d.filter(isDelta), "prf_dlt_spec",
      s"$path/t")
    // the dictionary stage
    val gotTerms = Prf.prfTermsDelta(spark, "prf_dlt_spec")
      .collect().map(_.toSeq).toSet
    val wantTerms = Prf.prfTerms(d).collect().map(_.toSeq).toSet
    assert(wantTerms.nonEmpty && gotTerms == wantTerms,
      s"delta dict $gotTerms vs ad-hoc $wantTerms")
    // the whole expanded-search chain
    val got = Prf.searchPrfDelta(spark, "prf_dlt_spec")
      .collect().map(_.toSeq).toSet
    val want = Prf.searchPrf(d).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"delta ${got.size} vs ad-hoc ${want.size}")
  }

  test("indexed face handles empty/whitespace docs identically (n_docs vs n_docs_tok)") {
    import java.nio.file.Files
    // empty and whitespace-only docs widen the BM25 n_docs but NOT the
    // expansion-mass idf denominator (tokenized docs only) — the one
    // place the frozen n_docs_tok stat earns its keep
    val d = corpus(
      (1L, "vector quantized index store"),
      (2L, "vector quantized search body"),
      (3L, "vector quantized store words"),
      (4L, "filler words only here body"),
      (5L, "more filler body text words"),
      (6L, ""),
      (7L, "   "))
    graft.sources.Staged.drop(spark, "prf_idx_empty_spec")
    graft.sources.Staged.drop(spark, "prf_idx_empty_spec_stats")
    val path = Files.createTempDirectory("graft_prf_idx_e").toString
    TextOps.writeTextIndex(d, "prf_idx_empty_spec", s"$path/t")
    val q0 = Seq("vector")
    val got = Prf.searchPrfIndexed(spark, "prf_idx_empty_spec",
      q0, k0 = 3, m = 3, n = 10).collect().map(_.toSeq).toSet
    val want = Prf.searchPrf(d, q0, k0 = 3, m = 3, n = 10)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want, s"$got vs $want")
  }
}
