package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The planted-hostile-rows companion of [[EmptyInputSpec]]: every
  * registry query runs against a testdata mirror whose `documents` /
  * `embeddings` tables carry the payload pathologies a real crawl
  * delivers — NULL and empty text, NULL lang/source, astral (4-byte
  * UTF-8) and unpaired-surrogate text, 1-char docs, NULL / empty /
  * all-zero / NaN / one-NaN-element / ±Infinity embeddings. Keys stay
  * valid (ids are the ingest layer's contract); payloads are the
  * operators' problem.
  *
  * Contract (the EmptyInputSpec discipline): a result — hostile rows
  * may legitimately be dropped, grouped under NULL, or scored as
  * degenerate — or a NAMED require; never an NPE, a
  * NoSuchElementException, or an unhandled ANSI error. An operator that
  * crashes on one null text here would take down a 100 TB curation run
  * on its first malformed shard. */
class HostileCorpusSpec extends SparkSpec {

  lazy val hostileDir: String = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = Files.createTempDirectory("graft_hostile_sf").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach { t =>
      spark.read.parquet(s"$SF/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // hostile EVENT payloads (r17 — the docs/embeddings pathologies
    // extended to the log): null/NaN/±Inf values, null/empty/astral
    // spaces, a null segment, malformed/null props JSON, and a null
    // timestamp — keyed with fresh unique event_ids so sequence
    // derivation stays well-defined
    val ev = spark.read.parquet(s"$SF/events.parquet")
    val maxEid = ev.agg(max(col("event_id"))).head.getLong(0)
    import spark.implicits._
    val someTs = java.time.LocalDateTime.of(2025, 1, 1, 0, 0, 0)
    val hostileEvents = Seq(
      (maxEid + 1L, someTs, 1L, "click", Double.NaN, """{"k": 1}"""),
      (maxEid + 2L, someTs, 1L, "click", Double.PositiveInfinity, "{"),
      (maxEid + 3L, someTs, 2L, null.asInstanceOf[String], 1.0, null
        .asInstanceOf[String]),
      (maxEid + 4L, someTs, 3L, "", -1e308, """{"k": null}"""),
      (maxEid + 5L, someTs, 4L, "𝕊pace", 0.0, """not json"""),
      (maxEid + 6L, null.asInstanceOf[java.time.LocalDateTime], 5L,
        "click", 2.0, """{"k": 2}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast(ev.schema("ts").dataType))
      .withColumn("user_id",
        when(col("event_id") === maxEid + 5L,
          lit(null).cast("long")).otherwise(col("user_id")))
    val extraEvCols = ev.columns.toSet --
      Set("event_id", "ts", "user_id", "event_type", "value", "props")
    var extraE = hostileEvents
    extraEvCols.foreach { c =>
      extraE = extraE.withColumn(c, lit(null).cast(ev.schema(c).dataType))
    }
    ev.unionByName(extraE.select(ev.columns.map(col): _*))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    val hostileDocs = Seq(
      (maxId + 1L, null.asInstanceOf[String], "en", "src0"),
      (maxId + 2L, "", "en", "src0"),
      (maxId + 3L, "ok text", null.asInstanceOf[String], "src0"),
      (maxId + 4L, "ok text", "en", null.asInstanceOf[String]),
      (maxId + 5L, "𝕊" * 80, "en", "src1"), // astral run
      (maxId + 6L, "x\uD800y\uDC00z", "en", "src1"),   // lone surrogates
      (maxId + 7L, "a", "en", "src1"),                 // 1-char doc
      (maxId + 8L, " \t\n ", "en", "src1"))            // whitespace-only
    import spark.implicits._
    val extraCols = docs.columns.toSet --
      Set("doc_id", "text", "lang", "source")
    var extra = hostileDocs.toDF("doc_id", "text", "lang", "source")
    // null-fill whatever other columns the generator shipped
    extraCols.foreach { c =>
      extra = extra.withColumn(c, lit(null).cast(docs.schema(c).dataType))
    }
    docs.unionByName(extra.select(docs.columns.map(col): _*))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$SF/embeddings.parquet")
    val maxVid = emb.agg(max(col("vec_id"))).head.getLong(0)
    val dims = emb.select(size(col("embedding"))).head.getInt(0)
    val hostileVecs = Seq(
      (maxVid + 1L, null.asInstanceOf[Seq[Float]], 0),
      (maxVid + 2L, Seq.empty[Float], 0),
      (maxVid + 3L, Seq.fill(dims)(0.0f), 1),              // zero vector
      (maxVid + 4L, Seq.fill(dims)(Float.NaN), 1),         // NaN vector
      (maxVid + 5L, Seq.tabulate(dims)(i =>
        if (i == 0) Float.PositiveInfinity else 1.0f), 2), // Inf spike
      (maxVid + 6L, Seq.fill(dims)(Float.MaxValue), 2),   // magnitude max
      (maxVid + 7L, Seq.tabulate(dims)(i =>
        if (i == 0) Float.NaN else 1.0f), 0))              // one NaN element
    val extraVecCols = emb.columns.toSet --
      Set("vec_id", "embedding", "label")
    var extraV = hostileVecs.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    extraVecCols.foreach { c =>
      extraV = extraV.withColumn(c, lit(null).cast(emb.schema(c).dataType))
    }
    emb.unionByName(extraV.select(emb.columns.map(col): _*))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def causes(t: Throwable): List[Throwable] =
    if (t == null) Nil else t :: causes(t.getCause)

  /** A NAMED abstention: either a driver-side `require`
    * (IllegalArgumentException) or an in-plan `assert_true` fence
    * (SparkRuntimeException USER_RAISED_EXCEPTION — the momentGuard /
    * valueCents mechanism). Both carry a message naming the planted
    * pathology; anything else (NPE, ANSI, NoSuchElement) is a crash. */
  private def isNamedAbstain(e: Throwable): Boolean =
    causes(e).exists {
      case _: IllegalArgumentException => true
      case s: org.apache.spark.SparkThrowable =>
        s.getCondition == "USER_RAISED_EXCEPTION"
      case _ => false
    }

  test("every registry query survives a corpus with hostile payload rows") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var ok = 0
    var abstained = 0
    var i = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        // toRdd, not count() — count() lets column pruning skip the
        // very expressions under test (the EmptyInputSpec note)
        fn(spark, hostileDir).queryExecution.toRdd.count()
        ok += 1
      } catch {
        case e: Throwable =>
          if (isNamedAbstain(e))
            abstained += 1
          else
            failures += s"$name: ${causes(e).map(c =>
              c.getClass.getSimpleName + ": " +
                Option(c.getMessage).getOrElse("").linesIterator
                  .take(1).mkString.take(160)).mkString(" <- ")}"
      }
      i += 1
      if (i % 20 == 0) {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.valuesIterator
          .foreach(_.unpersist(blocking = false))
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} hostile-payload crashes:\n" +
        failures.mkString("\n"))
    assert(ok + abstained == SparkEntry.queries.size)
    assert(ok >= SparkEntry.queries.size * 9 / 10,
      s"only $ok/${SparkEntry.queries.size} ran on the hostile corpus " +
        s"($abstained abstained via require)")
  }

  test("k-means consumers train on the fenced base: the semantic rows answer on the hostile mirror") {
    // an empty or NaN embedding never reaches k-means (an empty one
    // would raise the dot_product dimensionality require)
    def run(name: String) = SparkEntry.queries(name)(spark, hostileDir)
      .collect()
    run("dedup_semantic")
    Seq("emb_clusters", "semantic_cluster_audit").foreach { name =>
      assert(run(name).nonEmpty, s"$name: no rows on the hostile mirror")
    }
  }

  test("money fence: a non-centile event value raises the NAMED " +
      "centile error, never a silent NaN balance") {
    // the hostile log plants NaN/+Inf/-1e308 values in 'click' — any
    // money sum over that space must abstain by name (the r21
    // exact-integer-units conversion: a corrupt ledger halts, it never
    // under-reports or propagates NaN)
    val e = intercept[Exception] {
      graft.operators.Windows.tumbling(
        graft.sources.EventLog.named(spark, hostileDir), 3600000000L)
        .queryExecution.toRdd.count()
    }
    assert(isNamedAbstain(e), s"not a named abstain: $e")
    assert(causes(e).flatMap(c => Option(c.getMessage))
      .exists(_.contains("not an exact centile")))
    // a space UNTOUCHED by the planted values still answers: the fence
    // rides the value expression, so filters prune before it fires
    val okRows = graft.operators.EventSourcing.replayState(
      graft.sources.EventLog.entries(spark, hostileDir, Some("purchase")),
      "purchase").collect()
    assert(okRows.nonEmpty)
  }

  test("health audits account EXACTLY for the planted hostile mass") {
    // drops are never silent: corpus_health / emb_health must report
    // precisely the pathology deltas this spec planted
    def row(df: org.apache.spark.sql.DataFrame) = df.collect().head
    def d(a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row,
        c: String) = b.getAs[Long](c) - a.getAs[Long](c)
    val bd = row(graft.text.TextOps.corpusHealth(
      spark.read.parquet(s"$SF/documents.parquet")))
    val hd = row(graft.text.TextOps.corpusHealth(
      spark.read.parquet(s"$hostileDir/documents.parquet")))
    assert(d(bd, hd, "n_docs") == 8L && d(bd, hd, "n_distinct_ids") == 8L)
    assert(d(bd, hd, "n_null_text") == 1L)
    assert(d(bd, hd, "n_empty_text") == 1L)
    // tokenless = the empty doc only: the whitespace-only doc still
    // splits into one "\t\n" token under the space-only toksExpr, and
    // the null-text doc is excluded by the text-not-null condition
    assert(d(bd, hd, "n_tokenless") == 1L)
    assert(d(bd, hd, "n_null_lang") == 1L)
    assert(d(bd, hd, "n_null_source") == 1L)
    val be = row(graft.similarity.Knn.embHealth(
      graft.similarity.Knn.embStoredRows(spark, SF)))
    val he = row(graft.similarity.Knn.embHealth(
      graft.similarity.Knn.embStoredRows(spark, hostileDir)))
    assert(d(be, he, "n_vecs") == 7L && d(be, he, "n_distinct_ids") == 7L)
    assert(d(be, he, "n_null_vec") == 1L)
    assert(d(be, he, "n_empty_vec") == 1L)
    assert(d(be, he, "n_zero_norm") == 1L)
    // NaN vector, the one-NaN-element vector and the Inf spike; the
    // Float.MaxValue vector is finite (64·(3.4e38)² ≈ 7.4e78 fits a
    // double) and counts nowhere
    assert(d(be, he, "n_nonfinite") == 3L)
    assert(he.getAs[Long]("dims_min") == 0L) // the empty vector
    assert(he.getAs[Long]("dims_max") == be.getAs[Long]("dims_max"))
    // sk_log_health (r21): the event-log pre-flight must account the
    // six planted log rows precisely — incl. the THREE money values
    // the exact-centile conversion rejects (NaN, +Inf, -1e308; the
    // planted 0.0/1.0/2.0 are valid centiles and count nowhere)
    val bl = row(graft.operators.StreamOps.logHealth(
      graft.sources.EventLog.raw(spark, SF)))
    val hl = row(graft.operators.StreamOps.logHealth(
      graft.sources.EventLog.raw(spark, hostileDir)))
    assert(d(bl, hl, "n_events") == 6L && d(bl, hl, "n_distinct_ids") == 6L)
    assert(d(bl, hl, "n_null_ts") == 1L)
    assert(d(bl, hl, "n_null_segment") == 1L)
    assert(d(bl, hl, "n_null_space") == 1L)
    assert(d(bl, hl, "n_empty_space") == 1L)
    assert(d(bl, hl, "n_null_value") == 0L)
    assert(d(bl, hl, "n_bad_value") == 3L)
    assert(d(bl, hl, "n_null_props") == 1L)
    assert(d(bl, hl, "n_bad_props") == 2L) // "{" and "not json"
    // the clean gate corpus itself is pathology-free: the fence can
    // never fire on driver data
    Seq("n_null_ts", "n_null_segment", "n_null_space", "n_empty_space",
      "n_null_value", "n_bad_value", "n_null_props", "n_bad_props")
      .foreach(c => assert(bl.getAs[Long](c) == 0L, c))
  }
}
