package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.EventLog
import graft.operators.{EventSourcing, StreamOps, Windows}
import graft.streaming.Streaming

/** §2-I: each streaming dual must converge to its batch counterpart when
  * the whole log has been processed. The log is re-written as several
  * small files + maxFilesPerTrigger=2 so the queries genuinely run over
  * multiple micro-batches (incremental state, not a single-batch pass). */
class StreamingSpec extends SparkSpec {

  /** events.parquet split into 8 files for micro-batching. */
  lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft_stream").toString
    EventLog.raw(spark, SF).repartition(8)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def runToCompletion(df: org.apache.spark.sql.DataFrame,
      name: String, mode: String): Unit = {
    val q = df.writeStream.outputMode(mode)
      .format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
  }

  test("segment status stream converges to batch segmentStatus") {
    val stream = Streaming.readEntryStream(spark, streamDir,
      maxFilesPerTrigger = 2)
    runToCompletion(Streaming.segmentStatusStream(stream),
      "seg_status", "complete")
    val got = spark.table("seg_status")
      .select("space", "segment", "n_entries", "first_ts_us", "last_ts_us")
      .collect().map(_.toSeq).toSet
    val want = StreamOps.segmentStatus(EventLog.named(spark, SF))
      .select(col("space"), col("segment"),
        col("last_sequence").as("n_entries"),
        col("first_ts_us"), col("last_ts_us"))
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("watermarked windowed counts match batch tumbling") {
    val stream = Streaming.readEntryStream(spark, streamDir,
      maxFilesPerTrigger = 2)
    // files arrive in arbitrary order, so the watermark must exceed the
    // log's full time span for the convergence check to be exact
    runToCompletion(Streaming.windowedCounts(stream, watermark = "40 days"),
      "win_counts", "complete")
    val got = spark.table("win_counts")
      .select("space", "window_start_us", "n", "sum_value")
      .collect().map(_.toSeq).toSet
    val want = Windows.tumbling(EventLog.named(spark, SF), 3600000000L)
      .select(col("space"), col("window_start_us"), col("n"),
        col("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("streaming session windows match batch sessionize") {
    val stream = Streaming.readEntryStream(spark, streamDir,
      maxFilesPerTrigger = 2)
    runToCompletion(Streaming.sessionCounts(stream), "sess_counts",
      "complete")
    val got = spark.table("sess_counts")
      .select("space", "segment", "start_us", "n_events", "sum_value")
      .collect().map(_.toSeq).toSet
    val want = Windows.sessionize(EventLog.entries(spark, SF), 1800000000L)
      .select(col("space"), col("segment"), col("start_us"),
        col("n_events"), col("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("streaming dedup keeps one doc per digest across micro-batches") {
    val docsDir = Files.createTempDirectory("graft_docs_stream").toString
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    // plant exact duplicates in a separate file so they span batches
    docs.limit(50).write.mode("overwrite").parquet(docsDir)
    docs.limit(20).write.mode("append").parquet(docsDir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(docsDir)
    val q = Streaming.streamingDedup(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup_stream").count()
    assert(got == 50) // the 20 replayed docs are all dropped as dups
  }

  test("streaming char-entropy gate emits the batch rows exactly, " +
      "including the junk flag, across micro-batches") {
    val docsDir = Files.createTempDirectory("graft_entropy_stream").toString
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    docs.repartition(3).write.mode("overwrite").parquet(docsDir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(docsDir)
    val q = Streaming.charEntropyStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("entropy_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("entropy_stream").collect().map(_.toSeq).toSet
    val want = graft.text.TextProfile.charEntropy(docs)
      .collect().map(_.toSeq).toSet
    assert(got == want) // per-row op: stream == batch byte for byte
    assert(got.nonEmpty)
    // exactly-once per doc
    assert(spark.table("entropy_stream").count() ==
      spark.table("entropy_stream").select("doc_id").distinct().count())
  }

  test("streaming curate converges to the batch gate + dedup across micro-batches") {
    val docsDir = Files.createTempDirectory("graft_curate_stream").toString
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    // replay a slice in a second file so duplicates span micro-batches
    docs.limit(60).write.mode("overwrite").parquet(docsDir)
    docs.limit(25).write.mode("append").parquet(docsDir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(docsDir)
    val q = Streaming.streamingCurate(stream, minQuality = 0.5)
      .writeStream.outputMode("append")
      .format("memory").queryName("curate_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("curate_stream").collect()
      .map(r => r.getAs[String]("digest")).toSeq
    // batch truth on the same 60-doc slice: quality-gated, one survivor
    // per digest (the stream keeps first ARRIVAL; the digest set and
    // count must match the batch exactly — the 25 replays all drop)
    val slice = docs.limit(60)
    val want = graft.text.TextOps.qualityScored(slice)
      .filter(col("quality_score") >= 0.5)
      .select(md5(lower(trim(col("text")))).as("digest"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(got.size == want.size) // no digest emitted twice
    assert(got.toSet == want)
  }

  test("streaming more-like-this converges to the batch doc_similar rows") {
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    // freeze the serving artifacts over the full corpus
    graft.sources.Staged.drop(spark, "mlt_vec")
    graft.sources.Staged.drop(spark, "mlt_vec_vocab")
    val idx = Files.createTempDirectory("graft_mlt_idx").toString + "/v"
    graft.text.TextOps.writeDocVectorIndex(docs, "mlt_vec", idx)
    // replay the same corpus as a multi-micro-batch stream
    val dir = Files.createTempDirectory("graft_mlt_stream").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.docSimilarStream(spark, stream,
      "mlt_vec", "mlt_vec_vocab"), "mlt_stream", "append")
    val emits = spark.table("mlt_stream").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("similar_id"), r.getAs[Double]("score")))
    // normalized undirected pairs + BIT-identical scores equal batch
    val got = emits.map { case (l, a, b, s) =>
      (l, math.min(a, b), math.max(a, b), s) }.toSet
    val want = graft.text.TextOps.docSimilar(docs).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc1"),
        r.getAs[Long]("doc2"), r.getAs[Double]("score"))).toSet
    assert(want.nonEmpty && got == want,
      s"stream ${got.size} vs batch ${want.size}")
    // every undirected pair is served to BOTH endpoints, exactly once
    assert(emits.length == 2 * want.size)
  }

  test("streaming decontamination converges to the batch substring check") {
    val docs = graft.text.TextOps.docs(spark, SF)
    val split = graft.text.TextOps.splitAssign(docs, 13)
    // freeze the serving artifact: the df-capped TEST-side anchor index
    graft.sources.Staged.drop(spark, "contam_stream_idx")
    val idxPath = Files.createTempDirectory("graft_contam_sidx")
      .toString + "/v"
    graft.dedup.Dedup.writeAnchorIndex(
      docs.join(split.filter(col("split") === "test").select("doc_id"),
        "doc_id"),
      "contam_stream_idx", idxPath)
    // replay the train split as a multi-micro-batch stream
    val train = docs.join(
      split.filter(col("split") === "train").select("doc_id"), "doc_id")
    val dir = Files.createTempDirectory("graft_contam_stream").toString
    train.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(train.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.contaminationStream(spark, stream,
      "contam_stream_idx"), "contam_stream", "append")
    val got = spark.table("contam_stream").collect().map(_.toSeq).toSet
    val want = graft.dedup.Dedup.contaminationSubstring(docs, split)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty, "no cross-split contamination in the corpus")
    assert(got == want, s"stream ${got.size} vs batch ${want.size}")
  }

  test("streaming quality-filter scoring converges to the batch classifier") {
    val docs = graft.text.TextOps.docs(spark, SF)
    graft.sources.Staged.drop(spark, "dom_model_stream")
    val path = Files.createTempDirectory("graft_dom_stream_idx")
      .toString + "/m"
    graft.text.TextOps.writeDomainModel(docs, "dom_model_stream", path)
    val dir = Files.createTempDirectory("graft_dom_stream").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.domainScoreStream(spark, stream,
      "dom_model_stream"), "dom_stream", "append")
    val got = spark.table("dom_stream").collect().map(_.toSeq).toSet
    val want = graft.text.TextOps.domainClassifier(docs)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"stream ${got.size} vs batch ${want.size}")
  }

  test("streaming mixture application converges to batch mix_apply") {
    val docs = graft.text.TextOps.docs(spark, SF)
    graft.text.TextOps.mixPlan(docs)
      .createOrReplaceTempView("mix_plan_stream")
    val dir = Files.createTempDirectory("graft_mixa_stream").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.mixApplyStream(spark, stream,
      "mix_plan_stream"), "mixa_stream", "append")
    val got = spark.table("mixa_stream").collect().map(_.toSeq).toSet
    val want = graft.text.TextOps.mixApply(docs)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"stream ${got.size} vs batch ${want.size}")
  }

  test("streaming heavy hitters: bounded summaries, superset of batch exact hitters") {
    val docs = graft.text.TextOps.docs(spark, SF)
    val dir = Files.createTempDirectory("graft_hh_stream").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.heavyHittersStream(spark, stream, k = 100,
      shards = 8).toDF(), "hh_stream", "update")
    // final summary per shard = its last emit (max n_seen)
    val rows = spark.table("hh_stream").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(3)))
    val lastSeen = rows.groupBy(_._1).view.mapValues(_.map(_._3).max).toMap
    val finalWords = rows.collect {
      case (s, w, n) if n == lastSeen(s) => w
    }.toSet
    // superset guarantee: every exact > n/k hitter survives the stream
    val want = graft.text.TextOps.heavyHitters(docs, k = 100)
      .collect().map(_.getString(0)).toSet
    assert(want.nonEmpty, "no heavy hitters in the corpus at k=100")
    assert(want.subsetOf(finalWords),
      s"missing hitters: ${want -- finalWords}")
    // the state bound is the serving claim: never more than k counters
    // in any shard's emit
    val perEmit = rows.groupBy(r => (r._1, r._3)).values.map(_.size).max
    assert(perEmit <= 100, s"summary exceeded k: $perEmit")
  }

  test("streaming curriculum assignment converges to the batch phases") {
    val docs = graft.text.TextOps.docs(spark, SF)
    // freeze the distribution artifact (grid-sized)
    val b = graft.text.TextOps.curriculumBoundaries(docs, 4)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(b.collect().toSeq.asJava, b.schema)
      .createOrReplaceTempView("curr_bounds")
    val dir = Files.createTempDirectory("graft_curr_stream").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.curriculumStream(spark, stream,
      "curr_bounds"), "curr_stream", "append")
    val got = spark.table("curr_stream").collect().map(_.toSeq).toSet
    val want = graft.text.TextOps.curriculumAssign(docs)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"stream ${got.size} vs batch ${want.size}")
  }

  test("streaming budget gate equals the batch cut exactly") {
    val docs = graft.text.TextOps.docs(spark, SF)
    // freeze the decision artifact (grid-sized)
    val dec = graft.text.TextOps.budgetDecisions(docs, 800L)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(dec.collect().toSeq.asJava, dec.schema)
      .createOrReplaceTempView("budget_dec")
    val dir = Files.createTempDirectory("graft_budget_stream").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.budgetGateStream(spark, stream,
      "budget_dec"), "budget_stream", "append")
    val got = spark.table("budget_stream").collect().map(_.toSeq).toSet
    val want = graft.text.TextOps.budgetCut(docs, 800L)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"stream ${got.size} vs batch ${want.size}")
    // the gate actually declines something at this budget
    assert(want.exists(_.last == 0L) && want.exists(_.last == 1L))
  }

  test("streaming quality gate equals the batch cut exactly") {
    val docs = graft.text.TextOps.docs(spark, SF)
    // freeze the per-source decision grid (corpus-independent size)
    val dec = graft.text.TextOps.qualityDecisions(docs, 400L)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(dec.collect().toSeq.asJava, dec.schema)
      .createOrReplaceTempView("qcut_dec")
    val dir = Files.createTempDirectory("graft_qcut_stream").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.qualityGateStream(spark, stream,
      "qcut_dec"), "qcut_stream", "append")
    val got = spark.table("qcut_stream").collect().map(_.toSeq).toSet
    val want = graft.text.TextOps.qualityCut(docs, 400L)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"stream ${got.size} vs batch ${want.size}")
    // the gate actually splits at this keep fraction
    assert(want.exists(_.last == 0L) && want.exists(_.last == 1L))
  }

  test("live perplexity probe (foreachBatch) converges to batch " +
      "lmScoreIndexed over the frozen model") {
    val docs = graft.text.TextOps.docs(spark, SF)
    graft.sources.Staged.drop(spark, "lm_stream_idx")
    val idxPath = Files.createTempDirectory("graft_lm_stream_idx")
      .toString + "/m"
    graft.text.TextOps.writeLmIndex(docs, "lm_stream_idx", idxPath)
    val batch = graft.text.TextOps.lmScoreIndexed(
      spark, "lm_stream_idx", docs)
    val dir = Files.createTempDirectory("graft_lm_stream").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = Streaming.runLmScoreProbe(spark, stream, "lm_stream_idx") {
      b =>
        val rows = b.collect().map(_.toSeq)
        buf.synchronized { buf ++= rows }
    }
    q.processAllAvailable(); q.stop()
    // a doc's transitions all live in its own row — any replay
    // partition emits the batch score row-for-row
    val got = buf.toSet
    val want = batch.collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"probe ${got.size} vs batch ${want.size}")
    assert(buf.size == want.size) // each doc scored exactly once
  }

  test("live feature-drift monitor converges to batch featureDrift " +
      "over the replayed new era") {
    import graft.text.Dsir
    val docs = graft.text.TextOps.docs(spark, SF)
    val isOld = substring(md5(concat_ws(":",
      col("doc_id").cast("string"), lit("era"))), 1, 1) < "c"
    val oldD = docs.filter(isOld)
    val newD = docs.filter(!isOld)
    // freeze the old-era bucket profile (the serving artifact)
    import scala.jdk.CollectionConverters._
    val prof = Dsir.bucketMass(oldD, "n_old")
    spark.createDataFrame(prof.collect().toSeq.asJava, prof.schema)
      .createOrReplaceTempView("fd_old_profile")
    val dir = Files.createTempDirectory("graft_fd_stream").toString
    newD.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(newD.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    // complete-mode agg: keep only the LAST trigger's flag table
    @volatile var last: Array[Seq[Any]] = Array.empty
    val q = Streaming.runFeatureDriftMonitor(spark, stream,
      "fd_old_profile") { b => last = b.collect().map(_.toSeq) }
    q.processAllAvailable(); q.stop()
    val want = Dsir.featureDrift(oldD, newD).collect().map(_.toSeq).toSet
    assert(want.nonEmpty, "monitor must flag something at gate scale")
    assert(last.toSet == want,
      s"stream ${last.length} vs batch ${want.size}")
  }

  test("live boilerplate tagger (foreachBatch) converges to batch tag") {
    val docs = graft.text.TextOps.docs(spark, SF)
    // freeze the template dictionary (the serving artifact)
    import scala.jdk.CollectionConverters._
    val dict = graft.text.Boilerplate.boilerplateSpans(docs)
    spark.createDataFrame(dict.collect().toSeq.asJava, dict.schema)
      .createOrReplaceTempView("bp_dict")
    val dir = Files.createTempDirectory("graft_bp_stream").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = Streaming.runBoilerplateTag(spark, stream, "bp_dict") { b =>
      val rows = b.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    q.processAllAvailable(); q.stop()
    // a doc's gram positions all live in its own row — any replay
    // partition emits the batch tag row-for-row
    val got = buf.toSet
    val want = graft.text.Boilerplate.boilerplateTag(docs)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"stream ${got.size} vs batch ${want.size}")
    assert(buf.size == want.size) // each doc tagged exactly once
    // the dictionary actually tags something on this corpus
    assert(want.exists(_(2).asInstanceOf[Long] > 0L))
  }

  test("live DSIR gate (foreachBatch) converges to batch dsirSelect") {
    val docs = graft.text.TextOps.docs(spark, SF)
    // freeze the two serving artifacts: the ≤ 4096-row bucket model
    // and the bounded decision grid
    import scala.jdk.CollectionConverters._
    val model = graft.text.Dsir.dsirModel(docs)
    spark.createDataFrame(model.collect().toSeq.asJava, model.schema)
      .createOrReplaceTempView("dsir_model")
    val dec = graft.text.Dsir.dsirDecisions(docs)
    spark.createDataFrame(dec.collect().toSeq.asJava, dec.schema)
      .createOrReplaceTempView("dsir_dec")
    val dir = Files.createTempDirectory("graft_dsir_stream").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = Streaming.runDsirGate(spark, stream, "dsir_model",
        "dsir_dec") { b =>
      val rows = b.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    q.processAllAvailable(); q.stop()
    // a doc's features all live in its own row, so any replay
    // partition emits the batch selection row-for-row
    val got = buf.toSet
    val want = graft.text.Dsir.dsirSelect(docs)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"stream ${got.size} vs batch ${want.size}")
    assert(buf.size == want.size) // each doc decided exactly once
    // the gate actually splits at this keep fraction
    assert(want.exists(_.last == 0L) && want.exists(_.last == 1L))
  }

  test("streaming phrase density equals the batch tagger exactly") {
    val docs = graft.text.TextOps.docs(spark, SF)
    // freeze the collocation dictionary (the serving artifact)
    val dict = graft.text.TextOps.wordAssoc(docs)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(dict.collect().toSeq.asJava, dict.schema)
      .createOrReplaceTempView("colloc_dict")
    val dir = Files.createTempDirectory("graft_phrase_stream").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.phraseDensityStream(spark, stream,
      "colloc_dict"), "phrase_stream", "append")
    val got = spark.table("phrase_stream").collect().map(_.toSeq).toSet
    val want = graft.text.TextOps.phraseDensity(docs)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"stream ${got.size} vs batch ${want.size}")
    // the tagger separates docs (not all densities equal)
    assert(want.map(_.last).size > 1)
  }

  test("streaming recrawl priority equals the batch queue exactly") {
    import graft.text.{CrawlDiff, TextOps}
    val docs = TextOps.docs(spark, SF)
    val old = CrawlDiff.syntheticOld(docs)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(old.collect().toSeq.asJava, old.schema)
      .createOrReplaceTempView("old_snapshot_rp")
    // the current crawl arrives as a stream (the ':new' slice keeps its
    // original text, so digests and q4 match the batch derivation)
    val cur = docs.filter(substring(md5(concat_ws(":",
      col("doc_id").cast("string"), lit("new"))), 1, 1) < "e")
    val dir = Files.createTempDirectory("graft_rp_stream").toString
    cur.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(cur.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.recrawlPriorityStream(spark, stream,
      "old_snapshot_rp"), "rp_stream", "append")
    val got = spark.table("rp_stream").collect().map(_.toSeq).toSet
    val want = CrawlDiff.recrawlPriority(old,
        CrawlDiff.syntheticCurrent(docs), docs)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"stream ${got.size} vs batch ${want.size}")
    // the live queue is already ranked: both statuses present
    assert(got.map(_(2)).size == 2)
  }

  test("streaming crawl diff equals the batch diff minus its removed rows") {
    import graft.text.{CrawlDiff, TextOps}
    val docs = TextOps.docs(spark, SF)
    // freeze the previous snapshot (the serving artifact)
    val old = CrawlDiff.syntheticOld(docs)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(old.collect().toSeq.asJava, old.schema)
      .createOrReplaceTempView("old_snapshot")
    // the current crawl arrives as a stream: the ':new'-present docs
    val cur = docs.filter(substring(md5(concat_ws(":",
      col("doc_id").cast("string"), lit("new"))), 1, 1) < "e")
    val dir = Files.createTempDirectory("graft_crawl_stream").toString
    cur.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(cur.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.crawlDiffStream(spark, stream,
      "old_snapshot"), "crawl_diff_stream", "append")
    val got = spark.table("crawl_diff_stream").collect().map(_.toSeq).toSet
    // removed = the absence of an arrival — only the batch diff sees it
    val want = CrawlDiff.diff(old, CrawlDiff.syntheticCurrent(docs))
      .filter(col("status") =!= "removed").collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"stream ${got.size} vs batch ${want.size}")
    assert(Set("added", "changed", "unchanged").subsetOf(
      got.map(_(1).asInstanceOf[String])))
  }

  test("streaming label propagation emits the batch rows exactly") {
    import graft.similarity.Knn
    val e = Knn.emb(spark, SF)
    val codes = Knn.labeledCodes(e)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(codes.collect().toSeq.asJava, codes.schema)
      .createOrReplaceTempView("labeled_codes")
    // the raw embedding table arrives as a stream (labeled rows are
    // skipped in-closure by the same md5 rule)
    val raw = spark.read.parquet(s"$SF/embeddings.parquet")
    val dir = Files.createTempDirectory("graft_lblprop_stream").toString
    raw.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.labelPropStream(spark, stream,
      "labeled_codes"), "lblprop_stream", "append")
    val got = spark.table("lblprop_stream").collect().map(_.toSeq).toSet
    val want = Knn.labelPropagation(e).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"stream ${got.size} vs batch ${want.size}")
  }

  test("streaming embedding-outlier gate emits the batch outlier rows exactly") {
    import graft.similarity.Knn
    val e = Knn.emb(spark, SF)
    val sums = Knn.centroidSums(e)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(sums.collect().toSeq.asJava, sums.schema)
      .createOrReplaceTempView("centroid_sums")
    val raw = spark.read.parquet(s"$SF/embeddings.parquet")
    val dir = Files.createTempDirectory("graft_emb_out_stream").toString
    raw.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.embOutlierStream(spark, stream,
      "centroid_sums"), "emb_out_stream", "append")
    val got = spark.table("emb_out_stream").collect().map(_.toSeq).toSet
    val want = Knn.embOutliers(e).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"stream ${got.size} vs batch ${want.size}")
  }

  test("streaming consumer lag converges to the batch lag monitor") {
    val named = EventLog.named(spark, SF)
    val cursors = StreamOps.consumerCursors(named)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(cursors.collect().toSeq.asJava, cursors.schema)
      .createOrReplaceTempView("lag_cursors")
    val stream = Streaming.readEntryStream(spark, streamDir,
      maxFilesPerTrigger = 2)
    runToCompletion(Streaming.consumerLagStream(spark, stream,
      "lag_cursors"), "lag_stream", "complete")
    val got = spark.table("lag_stream").collect().map(_.toSeq).toSet
    val want = StreamOps.consumerLag(named).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"stream ${got.size} vs batch ${want.size}")
  }

  test("streaming media decode rollup converges to batch featureStats") {
    import graft.multimodal.Multimodal
    val media = Multimodal.synthesize(graft.text.TextOps.docs(spark, SF))
    val dir = Files.createTempDirectory("graft_media_stream").toString
    media.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(media.schema)
      .option("maxFilesPerTrigger", 2).parquet(dir)
    runToCompletion(Streaming.mediaFeaturesStream(stream), "media_feats",
      "complete")
    val got = spark.table("media_feats").collect().map(_.toSeq).toSet
    val want = Multimodal.featureStats(media).collect().map(_.toSeq).toSet
    assert(want.size >= 7, "expected all seven container formats")
    assert(got == want)
  }

  test("streaming media near-dup check converges to the batch candidate pairs") {
    import graft.multimodal.Multimodal
    val media = Multimodal.synthesize(graft.text.TextOps.docs(spark, SF))
      .localCheckpoint(true)
    graft.sources.Staged.drop(spark, "mm_bucket_idx")
    val idxPath = Files.createTempDirectory("graft_mm_bidx").toString + "/v"
    Multimodal.writeMediaBucketIndex(media, "mm_bucket_idx", idxPath)
    val dir = Files.createTempDirectory("graft_mm_nd_stream").toString
    media.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(media.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.mediaNearDupStream(spark, stream,
      "mm_bucket_idx"), "mm_nd_stream", "append")
    // replaying the index's own corpus: each undirected pair is served
    // to both endpoints with the same multiplicity; normalized, the set
    // equals the batch candidate pairs exactly
    val got = spark.table("mm_nd_stream").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getLong(2))).toSet
    val want = Multimodal.nearDedupCandidates(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty && got == want,
      s"stream ${got.size} vs batch ${want.size}")
  }

  test("streaming anomaly monitor converges to the batch monitor exactly") {
    val width = 3600000000L
    val named = EventLog.named(spark, SF)
    val stats = graft.operators.Windows.activityStats(named, width)
    val stream = Streaming.readEntryStream(spark, streamDir,
      maxFilesPerTrigger = 2)
    runToCompletion(Streaming.anomalyStream(stream, stats, width,
      tau = 0.5, watermark = "40 days"), "anom", "complete")
    val got = spark.table("anom").collect().map(_.toSeq).toSet
    val want = graft.operators.Windows.anomaly(named, width, tau = 0.5)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty, "tau too high for the test corpus")
    assert(got == want)
  }

  test("append-mode watermark drops data later than the threshold") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_late").toString
    def write(rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100) // distinct mtimes → deterministic file order
    }
    val h = 3600L * 1000000000L // 1h in ns
    // the initial listing takes everything as one batch, so the files are
    // written between processAllAvailable calls — one micro-batch each
    write(Seq((1L, 10 * h, 1L, "click", 1.0, "{}")))   // event time 10h
    val stream = Streaming.readEntryStream(spark, dir, maxFilesPerTrigger = 1)
    val q = Streaming.windowedCounts(stream, watermark = "30 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("late_drop").start()
    q.processAllAvailable()
    write(Seq((2L, 20 * h, 1L, "click", 1.0, "{}")))   // advances watermark
    q.processAllAvailable()
    write(Seq((3L, 10 * h + 1000L, 1L, "click", 1.0, "{}"))) // late vs 19h30
    q.processAllAvailable()
    q.stop()
    // in append mode only windows sealed by the watermark emit; the late
    // 10h event must not create or grow a window after sealing
    val emitted = spark.table("late_drop")
      .select("window_start_us", "n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val win10h = 10L * 3600L * 1000000L
    assert(emitted.getOrElse(win10h, 0L) == 1L,
      s"late event was wrongly counted: $emitted")
  }

  test("offset-resume stream equals batch consumeSpaceFromOffset") {
    // the produced layout carries materialized sequences — the form a
    // live consumer would actually subscribe to
    val dir = Files.createTempDirectory("graft_offset_stream").toString
    val entries = EventLog.entries(spark, SF)
    graft.sources.EventLogWriter.write(entries, dir)
    // cursor = the (ts_us, segment, sequence) offset of a mid-log entry
    val anchor = entries
      .filter(col("space") === "view" && col("segment") === "7" &&
        col("sequence") === 5L)
      .select("ts_us").head.getLong(0)
    val stream = Streaming.readProducedStream(spark, dir,
      maxFilesPerTrigger = 2)
    runToCompletion(Streaming.consumeSpaceFromOffsetStream(
      stream, "view", anchor, "7", 5L), "offset_resume", "append")
    val got = spark.table("offset_resume")
      .select("space", "segment", "sequence", "ts_us", "value", "payload")
      .collect().map(_.toSeq).toSet
    val want = StreamOps.consumeSpaceFromOffset(entries, "view",
        anchorSegment = "7", anchorSequence = 5L)
      .collect().map(_.toSeq).toSet
    assert(got == want)
    assert(got.nonEmpty)
    // strictly-after: the anchor itself is excluded
    assert(!got.exists(r => r(1) == "7" && r(2) == 5L))
  }

  test("consumer restart (r18 verdict #8): a killed offset-consumer resumed from its checkpoint replays no duplicate and leaves no gap") {
    // the reference CHANGELOG hardened exactly this client path
    // ("ConsumeSpace now increments timestamp… to avoid duplicate
    // entries"): the live cursor must survive a consumer crash. Here
    // the crash is real at the QUERY level — the first StreamingQuery
    // is stopped after draining the early log, the log keeps growing
    // while the consumer is down, and a BRAND-NEW query (fresh
    // instance, same checkpoint + durable file sink) picks up. The
    // file-source checkpoint is the offset cursor; exactly-once =
    // multiset equality against the batch dual over the final log.
    val dir = Files.createTempDirectory("graft_restart_log").toString
    val cp = Files.createTempDirectory("graft_restart_cp").toString
    val out = Files.createTempDirectory("graft_restart_out").toString + "/sink"
    val entries = EventLog.entries(spark, SF).localCheckpoint(true)
    // per-segment split: early sequences produced before the crash,
    // the rest while the consumer is down
    val early = entries.filter(col("sequence") <= 6L)
    val late = entries.filter(col("sequence") > 6L)
    assert(early.filter(col("space") === "view").count() > 0 &&
      late.filter(col("space") === "view").count() > 0,
      "degenerate split: both halves must hold view-space rows")
    graft.sources.EventLogWriter.write(early, dir)
    val anchor = entries
      .filter(col("space") === "view" && col("segment") === "7" &&
        col("sequence") === 5L)
      .select("ts_us").head.getLong(0)
    def consumer() = Streaming.consumeSpaceFromOffsetStream(
      Streaming.readProducedStream(spark, dir, maxFilesPerTrigger = 1),
      "view", anchor, "7", 5L)
    def start() = consumer().writeStream.outputMode("append")
      .option("checkpointLocation", cp)
      .format("parquet").option("path", out).start()
    val q1 = start()
    q1.processAllAvailable()
    q1.stop() // the crash: the consumer dies with the log mid-produce
    val afterRun1 = spark.read.parquet(out).count()
    // the log keeps growing while no consumer is alive
    graft.sources.EventLogWriter.write(late, dir,
      org.apache.spark.sql.SaveMode.Append)
    val q2 = start() // fresh query instance, same checkpoint + sink
    q2.processAllAvailable()
    q2.stop()
    val gotRows = spark.read.parquet(out)
      .select("space", "segment", "sequence", "ts_us", "value", "payload")
      .collect().map(_.toSeq).toSeq
    val wantRows = StreamOps.consumeSpaceFromOffset(entries, "view",
        anchorSegment = "7", anchorSequence = 5L)
      .collect().map(_.toSeq).toSeq
    // MULTISET equality: a replayed duplicate or a gap both break it
    // (set equality would mask duplicates)
    def multiset(rs: Seq[Seq[Any]]) = rs.groupBy(identity).view
      .mapValues(_.size).toMap
    assert(wantRows.nonEmpty && multiset(gotRows) == multiset(wantRows),
      s"restart broke exactly-once: got ${gotRows.size} rows, " +
        s"want ${wantRows.size}")
    // the resumed query consumed only the NEW files: rows grew across
    // the restart and the pre-crash prefix was not re-emitted
    assert(afterRun1 > 0 && afterRun1 < gotRows.size,
      s"restart did not resume mid-stream: $afterRun1 vs ${gotRows.size}")
  }

  test("multi-space consume stream equals batch consumeMulti (incl. missing-anchor fallback)") {
    val dir = Files.createTempDirectory("graft_multi_stream").toString
    val entries = EventLog.entries(spark, SF)
    graft.sources.EventLogWriter.write(entries, dir)
    // a live client holds RESOLVED space-offset tuples; resolve the same
    // (segment, sequence) anchors the batch query uses — and include one
    // space with NO cursor (the read-from-start fallback)
    def resolve(space: String, seg: String, seq: Long): (Long, String, Long) = {
      val ts = entries.filter(col("space") === space &&
        col("segment") === seg && col("sequence") === seq)
        .select("ts_us").head.getLong(0)
      (ts, seg, seq)
    }
    val cursors = Map(
      "click" -> Some(resolve("click", "7", 5L)),
      "view" -> Some(resolve("view", "12", 3L)),
      "signup" -> None)
    val stream = Streaming.readProducedStream(spark, dir,
      maxFilesPerTrigger = 2)
    runToCompletion(Streaming.consumeMultiStream(stream, cursors),
      "multi_consume", "append")
    val got = spark.table("multi_consume")
      .select("space", "segment", "sequence", "ts_us", "value", "payload")
      .collect().map(_.toSeq).toSet
    // batch dual: signup's anchor (sequence 0) never resolves → full read
    val want = StreamOps.consumeMulti(entries,
        offsets = Map("click" -> ("7", 5L), "view" -> ("12", 3L),
          "signup" -> ("0", 0L)))
      .collect().map(_.toSeq).toSet
    assert(got == want)
    assert(got.nonEmpty)
    // routing: only subscribed spaces are consumed
    assert(!got.exists(r => r.head == "purchase" || r.head == "error"))
    // the un-cursored space arrives in full
    val nSignup = got.count(_.head == "signup")
    assert(nSignup == entries.filter(col("space") === "signup").count())
  }

  test("peek stream converges to batch peek") {
    val dir = Files.createTempDirectory("graft_peek_stream").toString
    val entries = EventLog.entries(spark, SF)
    graft.sources.EventLogWriter.write(entries, dir)
    val stream = Streaming.readProducedStream(spark, dir,
      maxFilesPerTrigger = 2)
    runToCompletion(Streaming.peekStream(stream, "signup"), "peek_stream",
      "complete")
    val got = spark.table("peek_stream")
      .select("space", "segment", "sequence", "ts_us", "value", "payload")
      .collect().map(_.toSeq).toSet
    val want = StreamOps.peek(entries, "signup")
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("streaming trx audit converges to the batch recovery audit") {
    val dir = Files.createTempDirectory("graft_trx_stream").toString
    val entries = EventLog.entries(spark, SF)
    graft.sources.EventLogWriter.write(entries, dir)
    val stream = Streaming.readProducedStream(spark, dir,
      maxFilesPerTrigger = 2)
    runToCompletion(Streaming.trxAuditStream(stream, 10), "trx_stream",
      "complete")
    val got = spark.table("trx_stream")
      .select("space", "segment", "trx_id", "n_entries", "first_sequence",
        "last_sequence", "contiguous", "sealed")
      .collect().map(_.toSeq).toSet
    val want = graft.sources.EventLogWriter.trxAudit(
        graft.sources.EventLogWriter.assignTrx(entries, 10), 10)
      .select("space", "segment", "trx_id", "n_entries", "first_sequence",
        "last_sequence", "contiguous", "sealed")
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("stream-static enrichment join matches batch enrichment") {
    val stream = Streaming.readEntryStream(spark, streamDir,
      maxFilesPerTrigger = 2)
    val cust = spark.read.parquet(s"$SF/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = stream
      .join(cust, col("segment").cast("long") === col("c_custkey"))
      .groupBy(col("space"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        graft.sources.EventLog.sumValueExact.as("sum_value"))
    runToCompletion(joined, "enriched", "complete")
    val got = spark.table("enriched").collect().map(_.toSeq).toSet
    val want = graft.analytics.Relational.enrichEvents(
        EventLog.named(spark, SF), spark, SF)
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("embedding drift stream converges bit-exactly to batch embDriftQuantized") {
    import graft.similarity.Knn
    val e = Knn.emb(spark, SF)
    // offline baseline: the batch job's per-dim corpus code sums
    val corpusSums = Knn.quantize(e)
      .select(posexplode(col("qv")).as(Seq("pos", "code")))
      .groupBy("pos").agg(sum(col("code").cast("long")).as("c"))
      .orderBy("pos").collect().map(_.getAs[Long]("c"))
    val dir = Files.createTempDirectory("graft_emb_stream").toString
    spark.read.parquet(s"$SF/embeddings.parquet").repartition(8)
      .write.mode("overwrite").parquet(dir)
    val stream = Streaming.readEmbeddingStream(spark, dir,
      maxFilesPerTrigger = 2)
    runToCompletion(Streaming.embDriftStream(spark, stream, corpusSums)
      .toDF(), "emb_drift", "update")
    // update mode: keep the last emit (max n_vecs) per label
    val got = spark.table("emb_drift")
      .groupBy("label")
      .agg(max(struct(col("n_vecs"), col("centroid_cos"))).as("s"))
      .select(col("label"), col("s.n_vecs"), col("s.centroid_cos"))
      .collect().map(_.toSeq).toSet
    val want = Knn.embDriftQuantized(e).collect().map(_.toSeq).toSet
    assert(got == want)
  }

  /** Write `named` as four ts-ordered chunks with strictly increasing
    * mtimes (FileStreamSource drains oldest first), so a replay's
    * cross-batch arrival order is log produce order — the harness for
    * order-sensitive stateful duals. */
  private def orderedReplayDir(named: org.apache.spark.sql.DataFrame,
      prefix: String): String = {
    val ordered = named.orderBy("ts_us", "event_id").collect()
    val dir = Files.createTempDirectory(prefix).toString
    import scala.jdk.CollectionConverters._
    val chunk = (ordered.length + 3) / 4
    ordered.grouped(chunk).zipWithIndex.foreach { case (rows, i) =>
      spark.createDataFrame(rows.toSeq.asJava, named.schema)
        .coalesce(1).write.mode("append").parquet(dir)
      // one mtime tick per chunk; coarse granularity paranoia
      if (i < 3) Thread.sleep(1100)
    }
    dir
  }

  test("streaming funnel reaches converge to the batch funnel counts") {
    import graft.operators.Windows
    val named = EventLog.named(spark, SF)
    val steps = Seq("view", "click", "purchase")
    val dir = orderedReplayDir(named, "graft_funnel_stream")
    val stream = spark.readStream.schema(named.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.funnelStream(spark, stream, steps).toDF(),
      "funnel_stream", "append")
    val got = spark.table("funnel_stream")
      .groupBy("step").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Windows.funnel(named, steps)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(want.nonEmpty && got == want,
      s"stream $got vs batch $want")
    // a segment advances at most once per step
    val perSegStep = spark.table("funnel_stream")
      .groupBy("segment", "step").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1L).count()
    assert(perSegStep == 0L)
  }

  test("streaming funnel gaps roll up to the batch conversion latency") {
    import graft.operators.Windows
    val named = EventLog.named(spark, SF)
    val steps = Seq("view", "click", "purchase")
    val dir = orderedReplayDir(named, "graft_funnel_lat_stream")
    val stream = spark.readStream.schema(named.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(
      Streaming.funnelLatencyStream(spark, stream, steps).toDF(),
      "funnel_lat_stream", "append")
    val got = spark.table("funnel_lat_stream")
      .groupBy("step", "space")
      .agg(count(lit(1)).as("n_converted"), sum("gap_us").as("sum_gap_us"),
        max("gap_us").as("max_gap_us"))
      .withColumn("mean_gap_us",
        expr("(2 * sum_gap_us + n_converted) div (2 * n_converted)"))
      .select("step", "space", "n_converted", "sum_gap_us", "max_gap_us",
        "mean_gap_us")
      .collect().map(_.toSeq).toSet
    val want = Windows.conversionLatency(named, steps)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want, s"stream $got vs batch $want")
    // step-1 achievements emit nothing; gaps are strictly positive
    val bad = spark.table("funnel_lat_stream")
      .filter(col("step") < 2L || col("gap_us") <= 0L).count()
    assert(bad == 0L)
  }

  test("streaming inter-arrival gaps roll up to the batch cadence stats") {
    import graft.operators.Windows
    val named = EventLog.named(spark, SF)
    val dir = orderedReplayDir(named, "graft_gap_stream")
    val stream = spark.readStream.schema(named.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.interarrivalStream(spark, stream).toDF(),
      "gap_stream", "append")
    val got = spark.table("gap_stream")
      .groupBy("space")
      .agg(count(lit(1)).as("n_gaps"), sum("gap_us").as("sum_gap_us"),
        max("gap_us").as("max_gap_us"))
      .withColumn("mean_gap_us",
        expr("(2 * sum_gap_us + n_gaps) div (2 * n_gaps)"))
      .collect().map(_.toSeq).toSet
    val want = Windows.interarrivalStats(named).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want, s"stream $got vs batch $want")
  }

  test("streaming journey edges roll up to the batch transition matrix") {
    import graft.operators.Windows
    val named = EventLog.named(spark, SF)
    val dir = orderedReplayDir(named, "graft_trans_stream")
    val stream = spark.readStream.schema(named.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.eventTransitionsStream(spark, stream).toDF(),
      "trans_stream", "append")
    val got = spark.table("trans_stream")
      .groupBy("from_space", "to_space").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val want = Windows.eventTransitions(named)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(want.nonEmpty && got == want,
      s"stream ${got.size} edges vs batch ${want.size}")
  }

  test("incremental es fold converges to batch replay state") {
    import spark.implicits._
    val stream = Streaming.readEntryStream(spark, streamDir,
      maxFilesPerTrigger = 2)
    runToCompletion(Streaming.esFold(spark, stream).toDF(), "es_fold",
      "update")
    // update mode emits one snapshot per key per touched micro-batch:
    // keep the last (max n_events) per key
    val got = spark.table("es_fold")
      .groupBy("space", "segment")
      .agg(max(struct(col("n_events"), col("balance"))).as("s"))
      .select(col("space"), col("segment"), col("s.n_events"),
        col("s.balance"))
      .filter(col("space") === "purchase")
      .collect().map(_.toSeq).toSet
    val want = EventSourcing.replayState(EventLog.entries(spark, SF),
        "purchase")
      .select(col("space"), col("segment"), col("n_events"),
        col("balance"))
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("streaming exact-k sample converges to the batch pick set") {
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    val docsDir = Files.createTempDirectory("graft_sample_stream").toString
    // two files → two micro-batches: picks must converge across
    // re-batching because min-k over (key, id) is order-insensitive
    docs.limit(80).write.mode("overwrite").parquet(docsDir)
    docs.limit(30).write.mode("append").parquet(docsDir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(docsDir)
    runToCompletion(Streaming.sampleExactKStream(spark, stream, k = 3)
      .toDF(), "sample_stream", "update")
    // update mode: the stratum's LAST emit (max n_seen) is its final
    // pick list
    val got = spark.table("sample_stream")
      .groupBy("lang", "source", "sample_rank")
      .agg(max(struct(col("n_seen"), col("doc_id"))).as("s"))
      .select(col("lang"), col("source"), col("s.doc_id"),
        col("sample_rank"))
      .collect().map(_.toSeq).toSet
    val replayed = spark.read.parquet(docsDir) // what the stream saw
    val want = graft.text.TextOps.sampleExactK(replayed, k = 3)
      .select(col("lang"), col("source"), col("doc_id"),
        col("sample_rank"))
      .collect().map(_.toSeq).toSet
    assert(got == want)
    // the state bound is the serving claim: never more than k picks
    // emitted per stratum in any single emit
    val perEmit = spark.table("sample_stream")
      .groupBy("lang", "source", "n_seen")
      .agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("mx")).head.getLong(0)
    assert(perEmit <= 3L, s"emit exceeded k: $perEmit")
  }

  test("stream-static more-like-this probe (foreachBatch) converges to batch doc_similar") {
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    graft.sources.Staged.drop(spark, "mlt2_vec")
    graft.sources.Staged.drop(spark, "mlt2_vec_vocab")
    val idx = Files.createTempDirectory("graft_mlt2_idx").toString + "/v"
    graft.text.TextOps.writeDocVectorIndex(docs, "mlt2_vec", idx)
    val dir = Files.createTempDirectory("graft_mlt2_stream").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val buf =
      scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Double)]
    val q = Streaming.runDocSimilarProbe(spark, stream,
        "mlt2_vec", "mlt2_vec_vocab") { b =>
      val rows = b.collect().map(r => (r.getAs[String]("lang"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("similar_id"),
        r.getAs[Double]("score")))
      buf.synchronized { buf ++= rows }
    }
    q.processAllAvailable(); q.stop()
    val got = buf.map { case (l, a, b2, s) =>
      (l, math.min(a, b2), math.max(a, b2), s) }.toSet
    val want = graft.text.TextOps.docSimilar(docs).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc1"),
        r.getAs[Long]("doc2"), r.getAs[Double]("score"))).toSet
    assert(want.nonEmpty && got == want,
      s"probe ${got.size} vs batch ${want.size}")
    // every undirected pair served to BOTH endpoints, exactly once
    assert(buf.size == 2 * want.size)
  }

  test("stream-static decontamination probe (foreachBatch) converges and scans the bucketed index") {
    val docs = graft.text.TextOps.docs(spark, SF)
    val split = graft.text.TextOps.splitAssign(docs, 13)
    graft.sources.Staged.drop(spark, "contam_probe_idx")
    val idxPath = Files.createTempDirectory("graft_contam_pidx")
      .toString + "/v"
    graft.dedup.Dedup.writeAnchorIndex(
      docs.join(split.filter(col("split") === "test").select("doc_id"),
        "doc_id"),
      "contam_probe_idx", idxPath)
    val train = docs.join(
      split.filter(col("split") === "train").select("doc_id"), "doc_id")
    // the static side of the probe is the BUCKETED index scan — the
    // plan fence the r13 verdict asked for next to the convergence
    val batchProbe = graft.dedup.Dedup.anchorProbe(spark,
      "contam_probe_idx", train)
    val p = batchProbe.queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"), p)
    val dir = Files.createTempDirectory("graft_contam_probe_s").toString
    train.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(train.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = Streaming.runContaminationProbe(spark, stream,
        "contam_probe_idx") { b =>
      val rows = b.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    q.processAllAvailable(); q.stop()
    val got = buf.toSet
    val want = graft.dedup.Dedup.contaminationSubstring(docs, split)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty, "no cross-split contamination in the corpus")
    assert(got == want, s"probe ${got.size} vs batch ${want.size}")
  }

  test("live triplet probe (foreachBatch) equals the batch miner over " +
      "the frozen index") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val planted = (0L to 60L).map(id => (id, (id % 5).toInt,
      Seq.fill(8)(rnd.nextDouble() - 0.5)))
      .toDF("vec_id", "label", "v")
      .withColumn("nrm",
        sqrt(graft.functions.DotProduct(col("v"), col("v"))))
    val isAnchor = col("vec_id") % 25L === 0L
    graft.sources.Staged.drop(spark, "triplet_probe_idx")
    val idxPath = Files.createTempDirectory("graft_triplet_pidx")
      .toString + "/v"
    val centroids = graft.similarity.Knn.writeIvfIndexQuantized(
      planted.filter(!isAnchor), "triplet_probe_idx", idxPath,
      nlist = 4, buckets = 2)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(centroids.collect().toSeq.asJava,
      centroids.schema).createOrReplaceTempView("triplet_cents")
    planted.select("vec_id", "label")
      .createOrReplaceTempView("triplet_labels")
    val anchors = planted.filter(isAnchor)
    val dir = Files.createTempDirectory("graft_triplet_stream").toString
    anchors.repartition(3).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(anchors.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = Streaming.runTripletProbe(spark, stream, "triplet_probe_idx",
        "triplet_cents", "triplet_labels", nprobe = 4) { b =>
      val rows = b.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    q.processAllAvailable(); q.stop()
    val got = buf.toSet
    val want = graft.similarity.Knn.tripletProbe(spark,
        "triplet_probe_idx", spark.table("triplet_cents"),
        spark.table("triplet_labels"), anchors, nprobe = 4)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"probe ${got.size} vs batch ${want.size}")
    assert(buf.size == want.size) // each anchor mined exactly once
  }

  test("live OOV probe (foreachBatch) converges to batch oovTag and " +
      "scans the bucketed vocab") {
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    graft.sources.Staged.drop(spark, "oov_vocab_idx")
    val idxPath = Files.createTempDirectory("graft_oov_idx")
      .toString + "/v"
    graft.text.TextOps.writeVocabIndex(docs, "oov_vocab_idx", idxPath)
    // the static side of the probe is the BUCKETED vocab scan (the
    // contamination-probe plan-fence discipline)
    val batch = graft.text.TextOps.oovTag(spark, "oov_vocab_idx", docs)
    val p = batch.queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"), p)
    val dir = Files.createTempDirectory("graft_oov_stream").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = Streaming.runOovProbe(spark, stream, "oov_vocab_idx") { b =>
      val rows = b.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    q.processAllAvailable(); q.stop()
    // per-doc decisions are a pure function of one row against the
    // frozen vocab, so ANY replay partition emits the batch row set
    val got = buf.toSet
    val want = batch.collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"probe ${got.size} vs batch ${want.size}")
    assert(buf.size == want.size) // each doc emitted exactly once
  }

  test("stream-static domain-score probe (foreachBatch) converges to " +
      "the batch classifier with no driver-resident model") {
    val docs = graft.text.TextOps.docs(spark, SF)
    graft.sources.Staged.drop(spark, "dom_probe_model")
    val path = Files.createTempDirectory("graft_dom_probe_idx")
      .toString + "/m"
    graft.text.TextOps.writeDomainModel(docs, "dom_probe_model", path)
    val dir = Files.createTempDirectory("graft_dom_probe_s").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = Streaming.runDomainScoreProbe(spark, stream,
        "dom_probe_model") { b =>
      val rows = b.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    q.processAllAvailable(); q.stop()
    val got = buf.toSet
    val want = graft.text.TextOps.domainClassifier(docs)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"probe ${got.size} vs batch ${want.size}")
    assert(buf.size == want.size) // each doc scored exactly once
  }

  test("stream-static mixture probe (foreachBatch) converges to batch " +
      "mix_apply against the frozen plan table") {
    val docs = graft.text.TextOps.docs(spark, SF)
    graft.text.TextOps.mixPlan(docs)
      .createOrReplaceTempView("mix_probe_plan")
    val dir = Files.createTempDirectory("graft_mixa_probe_s").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = Streaming.runMixApplyProbe(spark, stream,
        "mix_probe_plan") { b =>
      val rows = b.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    q.processAllAvailable(); q.stop()
    val got = buf.toSet
    val want = graft.text.TextOps.mixApply(docs)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"probe ${got.size} vs batch ${want.size}")
  }

  test("stream-static media near-dup probe (foreachBatch) converges to " +
      "the batch candidate pairs over the persisted index") {
    import graft.multimodal.Multimodal
    val media = Multimodal.synthesize(graft.text.TextOps.docs(spark, SF))
      .localCheckpoint(true)
    graft.sources.Staged.drop(spark, "mm_probe_idx")
    val idxPath = Files.createTempDirectory("graft_mm_pidx")
      .toString + "/v"
    Multimodal.writeMediaBucketIndex(media, "mm_probe_idx", idxPath)
    val dir = Files.createTempDirectory("graft_mm_probe_s").toString
    media.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(media.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = Streaming.runMediaNearDupProbe(spark, stream,
        "mm_probe_idx") { b =>
      val rows = b.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    q.processAllAvailable(); q.stop()
    // replaying the index's own corpus: normalized undirected pairs
    // equal the batch candidates exactly (the closure-variant contract)
    val got = buf.map(r => (
      math.min(r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]),
      math.max(r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]),
      r(2).asInstanceOf[Long])).toSet
    val want = Multimodal.nearDedupCandidates(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty && got == want,
      s"probe ${got.size} vs batch ${want.size}")
  }

  test("stream-static embedding-outlier probe (foreachBatch) converges " +
      "to the batch outlier rows over the persisted centroid table") {
    import graft.similarity.Knn
    val e = Knn.emb(spark, SF)
    val sums = Knn.centroidSums(e)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(sums.collect().toSeq.asJava, sums.schema)
      .createOrReplaceTempView("centroid_probe_sums")
    val raw = spark.read.parquet(s"$SF/embeddings.parquet")
    val dir = Files.createTempDirectory("graft_emb_out_probe_s").toString
    raw.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = Streaming.runEmbOutlierProbe(spark, stream,
        "centroid_probe_sums") { b =>
      val rows = b.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    q.processAllAvailable(); q.stop()
    val got = buf.toSet
    val want = Knn.embOutliers(e).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"probe ${got.size} vs batch ${want.size}")
    assert(buf.size == want.size) // each outlier flagged exactly once
  }

  test("stream-static label-prop probe (foreachBatch) with an " +
      "exhaustive probe equals brute label propagation") {
    import graft.similarity.Knn
    val e = Knn.emb(spark, SF).localCheckpoint(true)
    // the labeled slice by the operator's own md5 rule (a pure
    // expression, reproduced here to build the index the probe serves)
    val labeledSlice = e.filter(
      substring(md5(concat_ws(":", col("vec_id").cast("string"),
        lit("lbl"))), 1, 1) < lit(12.toHexString))
    graft.sources.Staged.drop(spark, "lblprop_probe_idx")
    val idxPath = Files.createTempDirectory("graft_lblprop_pidx")
      .toString + "/v"
    val centroids = Knn.writeIvfIndexQuantized(labeledSlice,
      "lblprop_probe_idx", idxPath, nlist = 4, buckets = 2)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(centroids.collect().toSeq.asJava,
      centroids.schema).createOrReplaceTempView("lblprop_cents")
    e.select("vec_id", "label")
      .createOrReplaceTempView("lblprop_labels")
    val raw = spark.read.parquet(s"$SF/embeddings.parquet")
    val dir = Files.createTempDirectory("graft_lblprop_probe_s").toString
    raw.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    // nprobe == nlist: the probe is exhaustive, so every labeled voter
    // is scored and the vote rollup equals the brute operator exactly
    // (the tripletMineIvf equivalence argument)
    val q = Streaming.runLabelPropProbe(spark, stream,
        "lblprop_probe_idx", "lblprop_cents", "lblprop_labels",
        nprobe = 4) { b =>
      val rows = b.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    q.processAllAvailable(); q.stop()
    val got = buf.toSet
    val want = Knn.labelPropagation(e).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"probe ${got.size} vs batch ${want.size}")
    assert(buf.size == want.size) // each vector voted on exactly once
  }

  test("stream-static IVF-PQ probe (foreachBatch) converges to the " +
      "batch PQ search over the persisted index") {
    import graft.similarity.Knn
    val e = Knn.emb(spark, SF).localCheckpoint(true)
    graft.sources.Staged.drop(spark, "pq_probe_idx")
    val idxPath = Files.createTempDirectory("graft_pq_probe_idx")
      .toString + "/v"
    val (coarse, codebook) = Knn.writeIvfPqIndex(e, "pq_probe_idx",
      idxPath, nlist = 4, buckets = 2)
    // the production writer persists coarse + codebook as crash-safe
    // catalog tables (r15 advice) — the probe resolves those NAMES,
    // no hand-materialized views
    val raw = spark.read.parquet(s"$SF/embeddings.parquet")
      .filter(col("vec_id") < 40)
    val dir = Files.createTempDirectory("graft_pq_probe_s").toString
    raw.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = Streaming.runKnnPqProbe(spark, stream, "pq_probe_idx",
        "pq_probe_idx_coarse", "pq_probe_idx_codebook", k = 5,
        nprobe = 2) { b =>
      val rows = b.collect().map(_.toSeq)
      buf.synchronized { buf ++= rows }
    }
    q.processAllAvailable(); q.stop()
    val got = buf.toSet
    // a query's top-k is a pure function of its own row against the
    // frozen index, so the replayed emission equals the batch search
    // over the same query set — EXACT, not approximate
    val want = Knn.searchIvfPq(spark, "pq_probe_idx", coarse, codebook,
      e.filter(col("vec_id") < 40), k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"probe ${got.size} vs batch ${want.size}")
    assert(buf.size == want.size) // each query answered exactly once
  }

  test("stream-static exact-k sample probe persists its state table " +
      "and converges to the batch pick set") {
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    val dir = Files.createTempDirectory("graft_sample_probe_s").toString
    docs.limit(80).write.mode("overwrite").parquet(dir)
    docs.limit(30).write.mode("append").parquet(dir)
    graft.sources.Staged.drop(spark, "sample_probe_state")
    val statePath = Files.createTempDirectory("graft_sample_probe_st")
      .toString + "/s"
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    var emitted = 0L
    val q = Streaming.runSampleExactKProbe(spark, stream,
        "sample_probe_state", statePath, k = 3) { b =>
      val n = b.count()
      emitted += n
      // the state bound is the serving claim: never more than k picks
      // per stratum in any emit
      val mx = b.groupBy("lang", "source")
        .agg(count(lit(1)).as("c")).agg(max(col("c")).as("m"))
        .head.getLong(0)
      assert(mx <= 3L, s"emit exceeded k: $mx")
    }
    q.processAllAvailable(); q.stop()
    assert(emitted > 0L)
    // the persisted state table IS the sample: picks equal the batch
    // operator over the replayed corpus, n_seen is the exact stratum
    // count (associative bottom-k merge across micro-batches)
    val replayed = spark.read.parquet(dir)
    val got = spark.table("sample_probe_state")
      .select("lang", "source", "doc_id", "sample_rank")
      .collect().map(_.toSeq).toSet
    val want = graft.text.TextOps.sampleExactK(replayed, k = 3)
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want,
      s"probe ${got.size} vs batch ${want.size}")
    val seenGot = spark.table("sample_probe_state")
      .groupBy("lang", "source").agg(max(col("n_seen")).as("n"))
      .collect().map(_.toSeq).toSet
    val seenWant = replayed.groupBy("lang", "source")
      .agg(count(lit(1)).as("n")).collect().map(_.toSeq).toSet
    assert(seenGot == seenWant)
  }

  test("closure-based stream duals survive hostile payloads and still converge to batch") {
    import spark.implicits._
    // a corpus with the HostileCorpusSpec pathologies planted next to
    // real docs: the duals whose closures walk per-row token/code
    // arrays (docSimilar, phraseDensity, embDrift) must neither crash
    // nor drift from their batch definitions on these rows
    val base = spark.read.parquet(s"$SF/documents.parquet").limit(60)
    val maxId = base.agg(max(col("doc_id"))).head.getLong(0)
    val extraCols = base.columns.toSet -- Set("doc_id", "text", "lang", "source")
    var hostile = Seq(
      (maxId + 1L, null.asInstanceOf[String], "en", "src0"),
      (maxId + 2L, "", "en", "src0"),
      (maxId + 3L, "ok text", null.asInstanceOf[String], "src0"),
      (maxId + 4L, "𝕊" * 50, "en", "src1"),
      (maxId + 5L, "a", "en", "src1"))
      .toDF("doc_id", "text", "lang", "source")
    extraCols.foreach { c =>
      hostile = hostile.withColumn(c, lit(null).cast(base.schema(c).dataType))
    }
    val docs = base.unionByName(hostile.select(base.columns.map(col): _*))
      .localCheckpoint(true)
    // MORE-LIKE-THIS: the closure's toks walk sees null for null text
    graft.sources.Staged.drop(spark, "mlt_h_vec")
    graft.sources.Staged.drop(spark, "mlt_h_vec_vocab")
    val idx = Files.createTempDirectory("graft_mlt_h_idx").toString + "/v"
    graft.text.TextOps.writeDocVectorIndex(docs, "mlt_h_vec", idx)
    val dir = Files.createTempDirectory("graft_mlt_h_stream").toString
    docs.repartition(3).write.mode("overwrite").parquet(dir)
    def stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    runToCompletion(Streaming.docSimilarStream(spark, stream,
      "mlt_h_vec", "mlt_h_vec_vocab"), "mlt_h_stream", "append")
    val gotSim = spark.table("mlt_h_stream").collect()
      .map(r => (r.getAs[String]("lang"),
        math.min(r.getAs[Long]("doc_id"), r.getAs[Long]("similar_id")),
        math.max(r.getAs[Long]("doc_id"), r.getAs[Long]("similar_id")),
        r.getAs[Double]("score"))).toSet
    val wantSim = graft.text.TextOps.docSimilar(docs).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc1"),
        r.getAs[Long]("doc2"), r.getAs[Double]("score"))).toSet
    assert(gotSim == wantSim, s"sim ${gotSim.size} vs ${wantSim.size}")
    // PHRASE DENSITY: the bigram walk sees null toks for null text
    graft.text.TextOps.wordAssoc(docs).createOrReplaceTempView("pd_h_dict")
    runToCompletion(Streaming.phraseDensityStream(spark, stream,
      "pd_h_dict"), "pd_h_stream", "append")
    val gotPd = spark.table("pd_h_stream").collect().map(_.toSeq).toSet
    val wantPd = graft.text.TextOps.phraseDensity(docs).collect()
      .map(_.toSeq).toSet
    assert(gotPd == wantPd, s"pd ${gotPd.size} vs ${wantPd.size}")
    // EMB DRIFT: null embeddings quantize to null codes — skipped like
    // the batch posexplode; last emit per label stays bit-identical
    val embBase = graft.similarity.Knn.emb(spark, SF)
    val maxVid = embBase.agg(max(col("vec_id"))).head.getLong(0)
    val emb = embBase.unionByName(Seq(
        (maxVid + 1L, 0, null.asInstanceOf[Seq[Double]]))
      .toDF("vec_id", "label", "v")
      .withColumn("nrm", lit(null).cast("double"))
      .select(embBase.columns.map(col): _*))
      .localCheckpoint(true)
    val embDir = Files.createTempDirectory("graft_drift_h").toString
    emb.select(col("vec_id"),
        col("v").cast("array<float>").as("embedding"), col("label"))
      .repartition(3).write.mode("overwrite").parquet(embDir)
    val corpusSums = graft.similarity.Knn.quantize(emb)
      .select(posexplode(col("qv")).as(Seq("pos", "code")))
      .groupBy(col("pos")).agg(sum(col("code").cast("long")).as("s"))
      .orderBy("pos").collect().map(_.getLong(1))
    val estream = Streaming.readEmbeddingStream(spark, embDir,
      maxFilesPerTrigger = 1)
    val q = Streaming.embDriftStream(spark, estream, corpusSums)
      .toDF().writeStream.outputMode("update")
      .format("memory").queryName("drift_h_stream").start()
    q.processAllAvailable(); q.stop()
    val emits = spark.table("drift_h_stream").collect()
      .map(r => (r.getAs[Long]("label"),
        (r.getAs[Long]("n_vecs"), r.getAs[Double]("centroid_cos"))))
    val lastPerLabel = emits.groupBy(_._1).map { case (l, es) =>
      l -> es.map(_._2).maxBy(_._1) }
    val wantDrift = graft.similarity.Knn.embDriftQuantized(emb).collect()
      .map(r => r.getAs[Long]("label") ->
        ((r.getAs[Long]("n_vecs"), r.getAs[Double]("centroid_cos"))))
      .toMap
    assert(lastPerLabel == wantDrift,
      s"drift $lastPerLabel vs $wantDrift")
  }

  test("frozen-artifact bounds are ENFORCED: an over-bound artifact fails a named require") {
    val docs = spark.read.parquet(s"$SF/documents.parquet").limit(30)
    graft.sources.Staged.drop(spark, "bound_vec")
    graft.sources.Staged.drop(spark, "bound_vec_vocab")
    val idx = Files.createTempDirectory("graft_bound_idx").toString + "/v"
    graft.text.TextOps.writeDocVectorIndex(docs, "bound_vec", idx)
    graft.sources.Staged.drop(spark, "bound_anchor")
    val aPath = Files.createTempDirectory("graft_bound_a").toString + "/v"
    graft.dedup.Dedup.writeAnchorIndex(docs, "bound_anchor", aPath)
    val dir = Files.createTempDirectory("graft_bound_stream").toString
    docs.write.mode("overwrite").parquet(dir)
    def stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    // the require fires at plan-build time, before any query starts
    val e1 = intercept[IllegalArgumentException] {
      Streaming.docSimilarStream(spark, stream, "bound_vec",
        "bound_vec_vocab", maxArtifactRows = 1L)
    }
    assert(e1.getMessage.contains("frozen artifact"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Streaming.contaminationStream(spark, stream, "bound_anchor",
        maxArtifactRows = 1L)
    }
    assert(e2.getMessage.contains("frozen artifact"), e2.getMessage)
    // in-bound: both streams still build (no behavioral change)
    Streaming.docSimilarStream(spark, stream, "bound_vec",
      "bound_vec_vocab")
    Streaming.contaminationStream(spark, stream, "bound_anchor")
  }
}
