package graft

import java.nio.file.Files
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.GraftStore
import graft.sources.{EventLog, EventLogWriter}

class ApiSpec extends SparkSpec {

  lazy val store = GraftStore(spark, SF)

  test("facade: spaces/segments/status compose with operators") {
    assert(store.spaces.count() == 5)
    val seg = store.space("click").segments.count()
    assert(seg > 0)
    val peeked = store.space("click").peekAll
    assert(peeked.count() == seg)
    val one = store.space("click").segment("1").consume(limit = Some(5))
    assert(one.count() == 5)
  }

  test("facade snapshot/replayFrom, tail, validate and audits compose") {
    val sp = store.space("purchase")
    val viaSnap = sp.replayFrom(sp.snapshot(20L))
      .orderBy("segment").collect().map(_.toSeq).toSeq
    val full = sp.replayState().orderBy("segment").collect()
      .map(_.toSeq).toSeq
    assert(viaSnap == full)
    assert(sp.tail(2).count() == sp.segments.count() * 2)
    // the diff between t and t over the full span is empty; a diff from
    // 0 to the far future flags every segment as changed
    assert(sp.stateDiff(Long.MaxValue, Long.MaxValue).count() == 0)
    assert(sp.stateDiff(0L, Long.MaxValue).count() == sp.segments.count())
    assert(store.validate.filter(!col("contiguous")).count() == 0)
    assert(store.trxAudit().filter(!col("contiguous")).count() == 0)
    assert(store.watermarkAudit(300000000L).count() == 5)
  }

  test("facade peek equals consume tail") {
    val s = store.space("purchase").segment("7")
    val last = s.consume().orderBy(col("sequence").desc).limit(1)
      .select("sequence").head.getLong(0)
    assert(s.peek.select("sequence").head.getLong(0) == last)
  }

  test("produced layout round-trips and needs no window derivation") {
    val dir = Files.createTempDirectory("graft_produced").toString
    EventLogWriter.write(EventLog.entries(spark, SF), dir)
    val back = EventLogWriter.readProduced(spark, dir)
    val a = back.orderBy("space", "segment", "sequence").collect()
    val b = EventLog.entries(spark, SF)
      .select("space", "segment", "sequence", "ts_us", "event_id", "value",
        "payload")
      .orderBy("space", "segment", "sequence").collect()
    assert(a.sameElements(b))
  }

  test("produced-layout store serves the same answers as the derived store") {
    val dir = Files.createTempDirectory("graft_prod_store").toString
    EventLogWriter.write(EventLog.entries(spark, SF), dir)
    val prod = GraftStore.fromProduced(spark, dir)
    val derived = GraftStore(spark, SF)
    val a = prod.space("click").segment("1").consume().collect()
      .map(_.toSeq).toSeq
    val b = derived.space("click").segment("1").consume().collect()
      .map(_.toSeq).toSeq
    assert(a == b)
    assert(prod.spaces.count() == derived.spaces.count())
  }

  test("produce validation accepts a contiguous append and rejects a gap") {
    val dir = Files.createTempDirectory("graft_tail").toString
    EventLogWriter.write(EventLog.entries(spark, SF), dir)
    val tail = graft.operators.StreamOps.segmentStatus(
      EventLog.named(spark, SF))
    // contiguous: shift every segment's entries up by its own tail
    val batch = EventLogWriter.assignSequences(
      EventLog.named(spark, SF), Some(tail))
    assert(EventLogWriter.validateAppend(batch, tail).count() == 0)
    // gap: skip one sequence number
    val gappy = batch.withColumn("sequence", col("sequence") + 1L)
    val violations = EventLogWriter.validateAppend(gappy, tail)
    assert(violations.count() > 0)
  }

  test("trx ids persist through the produced layout and recovery audit flags a torn batch") {
    val dir = Files.createTempDirectory("graft_trx").toString
    val stamped = EventLogWriter.assignTrx(
      EventLog.entries(spark, SF, Some("error")), batchSize = 10)
    EventLogWriter.write(stamped, dir)
    val back = spark.read.parquet(dir)
    // persisted ids round-trip exactly
    val a = stamped.select("space", "segment", "sequence", "trx_id")
      .orderBy("space", "segment", "sequence").collect().map(_.toSeq).toSeq
    val b = back.select("space", "segment", "sequence", "trx_id")
      .orderBy("space", "segment", "sequence").collect().map(_.toSeq).toSeq
    assert(a == b)
    // on the intact log every transaction is contiguous
    val audit = EventLogWriter.trxAudit(back, 10)
    assert(audit.filter(!col("contiguous")).count() == 0)
    // tear one sealed batch (drop an interior entry) → exactly that trx
    // flags non-contiguous on recovery
    val victim = audit.filter(col("sealed")).select("trx_id")
      .orderBy("trx_id").head.getString(0)
    val torn = back.filter(!(col("trx_id") === victim &&
      col("sequence") === back.filter(col("trx_id") === victim)
        .agg(min(col("sequence")) + 1L).head.getLong(0)))
    val recovered = EventLogWriter.trxAudit(torn, 10)
    val bad = recovered.filter(!col("contiguous"))
      .select("trx_id").collect().map(_.getString(0)).toSeq
    assert(bad == Seq(victim))
  }

  test("snapshot + incremental replay equals full replay for every aggregate") {
    import graft.operators.EventSourcing
    val e = EventLog.entries(spark, SF, Some("purchase"))
    val full = EventSourcing.replayState(e, "purchase")
      .orderBy("segment").collect().map(_.toSeq).toSeq
    Seq(0L, 7L, 20L, 1000000L).foreach { at =>
      val viaSnap = EventSourcing.replayFromSnapshot(
        EventSourcing.snapshot(e, "purchase", at), e, "purchase")
        .orderBy("segment").collect().map(_.toSeq).toSeq
      assert(viaSnap == full, s"snapshot at seq $at diverged")
    }
  }

  test("compact merges small files, preserves data and the window-free layout") {
    val dir = Files.createTempDirectory("graft_compact").toString
    val entries = EventLog.entries(spark, SF)
    // force a pathological small-file layout: one file per ~40 rows
    entries.repartition(col("space"), col("segment"))
      .sortWithinPartitions("segment", "sequence")
      .write.partitionBy("space")
      .option("maxRecordsPerFile", 40)
      .mode(SaveMode.Overwrite).parquet(dir)
    val before = EventLogWriter.readProduced(spark, dir)
      .collect().map(_.toSeq).toSet
    val audit = EventLogWriter.compact(spark, dir, targetBytes = 1L << 20)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(audit.size == 5)
    audit.foreach { case (sp, (nb, na, bytes)) =>
      assert(na <= nb, s"$sp grew: $nb -> $na")
      // each space is well under 1 MiB, so compaction must reach ONE file
      assert(bytes < (1L << 20) && na == 1L, s"$sp: $na files, $bytes B")
      assert(nb > 1L, s"test setup failed to fragment $sp")
    }
    // data unchanged, layout contract intact: window-free read-back and
    // per-file (segment, sequence) sort
    val after = EventLogWriter.readProduced(spark, dir)
    assert(after.collect().map(_.toSeq).toSet == before)
    assert(!after.filter(col("space") === "click")
      .queryExecution.executedPlan.toString.contains("Window"))
    val unsorted = after
      .withColumn("f", input_file_name())
      .withColumn("prev", lag(struct(col("segment"), col("sequence")), 1)
        .over(org.apache.spark.sql.expressions.Window.partitionBy("f")
          .orderBy(monotonically_increasing_id())))
      .filter(col("prev").isNotNull &&
        struct(col("segment"), col("sequence")) < col("prev"))
    assert(unsorted.count() == 0)
  }

  test("compact self-recovers every crash-leftover state") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_compact_crash").toString
    val entries = EventLog.entries(spark, SF)
    EventLogWriter.write(entries, dir)
    val expected = EventLogWriter.readProduced(spark, dir)
      .collect().map(_.toSeq).toSet
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // crash between rename-aside and promote: live dir gone, aside holds
    // the only copy → compact must restore it before doing anything else
    fs.rename(new Path(root, "space=click"),
      new Path(root, ".compact_bak_space=click"))
    // crash after promote but before aside cleanup: both copies present
    fs.mkdirs(new Path(root, ".compact_bak_space=view"))
    // orphaned tmp from a crash mid-rewrite
    fs.mkdirs(new Path(root, ".compact_tmp_space=purchase"))
    EventLogWriter.compact(spark, dir, targetBytes = 1L << 20)
    assert(EventLogWriter.readProduced(spark, dir)
      .collect().map(_.toSeq).toSet == expected)
    val leftover = fs.listStatus(root)
      .map(_.getPath.getName).filter(_.startsWith(".compact_"))
    assert(leftover.isEmpty, leftover.mkString(","))
  }

  test("catalog views make the whole surface SQL-reachable") {
    graft.api.GraftCatalog.registerViews(spark, SF)
    val n = spark.sql(
      "SELECT count(*) FROM entries WHERE space = 'click'").head.getLong(0)
    assert(n > 0)
    assert(spark.sql("SELECT count(*) FROM lineitem").head.getLong(0) > 0)
  }

  test("consume dedup collapses redelivered entries by sequence") {
    import org.apache.spark.sql.functions.col
    val entries = EventLog.entries(spark, SF, Some("view"))
    val redelivered = entries.union(entries.limit(37))
    val deduped = graft.operators.StreamOps.consumeDedup(redelivered)
    assert(deduped.count() == entries.count())
  }

  /** The physical plan and its scan node's (untruncated) fields, exprIds
    * stripped (two reads of one path resolve to different attribute ids). */
  private def planFields(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = df.queryExecution.sparkPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.length == 1, plan.toString)
    def norm(x: String) = x.replaceAll("#\\d+", "")
    ("plan" -> norm(plan.toString)) +:
      Seq("ReadSchema", "PartitionFilters", "PushedFilters", "DataFilters")
        .map(k => k -> scans.head.metadata.get(k).map(norm))
  }

  /** Writes `events.parquet` in place as one file with the given rows —
    * (event_id, user_id, event_type, ts µs) — and `ts` in the given
    * parquet timestamp unit: the two generations the test data has
    * shipped (NANOS rounds ≤ 12, MICROS since). */
  private def writeLog(dir: String, unit: String,
      log: Seq[(Long, Long, String, Long)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; required int64 user_id; " +
        s"required binary event_type (STRING); " +
        s"required int64 ts (TIMESTAMP($unit,false)); required double value; " +
        s"required binary props (STRING); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema)
      .withConf(spark.sessionState.newHadoopConf())
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val g = new SimpleGroupFactory(schema)
    try log.foreach { case (id, user, tpe, tsUs) =>
      w.write(g.newGroup().append("event_id", id).append("user_id", user)
        .append("event_type", tpe)
        .append("ts", tsUs * (if (unit == "NANOS") 1000L else 1L))
        .append("value", id.toDouble).append("props", s"p$id"))
    } finally w.close()
  }

  test("ParquetSource: a repeat read runs no job and plans like spark.read.parquet") {
    import graft.sources.ParquetSource
    val produced = Files.createTempDirectory("graft_src_prod").toString
    EventLogWriter.write(EventLog.entries(spark, SF), produced)
    EventLog.raw(spark, SF) // sets nanosAsLong, as every log read does
    Seq(
      s"$SF/events.parquet" -> ((d: org.apache.spark.sql.DataFrame) =>
        d.filter(col("event_type") === "click" && col("user_id") > 3)
          .select(col("user_id"), row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("user_id")
              .orderBy("ts", "event_id")).as("sequence"))),
      produced -> ((d: org.apache.spark.sql.DataFrame) =>
        d.filter(col("space") === "click" && col("segment") === "1")
          .select("sequence", "value"))
    ).foreach { case (path, query) =>
      ParquetSource.read(spark, path)
      var again: org.apache.spark.sql.DataFrame = null
      assert(JobCount.during(spark) {
        again = ParquetSource.read(spark, path); again.schema } == 0,
        s"repeat read of $path launched a job")
      val plain = spark.read.parquet(path)
      assert(again.schema == plain.schema, path)
      assert(planFields(query(again)) == planFields(query(plain)), path)
      assert(query(again).collect().toSet == query(plain).collect().toSet, path)
    }
  }

  test("ParquetSource: a rewrite, an append or a setting change is never served a stale schema") {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    import graft.sources.ParquetSource
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val dir = Files.createTempDirectory("graft_src_gen").toString
    def tsType = EventLog.raw(spark, dir).schema("ts").dataType
    val threeRows = (1L to 3L).map(i => (i, 1L, "a", 1700000000000000L))
    // rewriting events.parquet in place with the other ts generation
    writeLog(dir, "MICROS", threeRows)
    assert(tsType == TimestampNTZType)
    writeLog(dir, "NANOS", threeRows)
    assert(tsType == LongType)
    writeLog(dir, "MICROS", threeRows)
    assert(tsType == TimestampNTZType)
    // the nanos form is only readable under nanosAsLong: turning it off
    // must re-infer (and fail as the plain read fails), not hit the memo
    writeLog(dir, "NANOS", threeRows)
    assert(tsType == LongType)
    try {
      spark.conf.set(nanosKey, "false")
      val plain = intercept[Exception](spark.read.parquet(s"$dir/events.parquet"))
      val ours = intercept[Exception](
        ParquetSource.read(spark, s"$dir/events.parquet"))
      assert(ours.getClass == plain.getClass, ours.toString)
    } finally spark.conf.set(nanosKey, "true")
    assert(ParquetSource.read(spark, s"$dir/events.parquet")
      .schema("ts").dataType == LongType)
    // an append lands new files: the next read sees its rows
    val app = Files.createTempDirectory("graft_src_app").toString
    spark.range(10).write.mode(SaveMode.Overwrite).parquet(app)
    assert(ParquetSource.read(spark, app).count() == 10)
    spark.range(10, 15).write.mode(SaveMode.Append).parquet(app)
    assert(ParquetSource.read(spark, app).count() == 15)
    // empty and missing paths fail exactly as the plain read fails
    val empty = Files.createTempDirectory("graft_src_empty").toString
    Seq(empty, s"$empty/missing.parquet").foreach { p =>
      val plain = intercept[Exception](spark.read.parquet(p))
      val ours = intercept[Exception](ParquetSource.read(spark, p))
      assert(ours.getClass == plain.getClass, s"$p: $ours")
    }
  }

  // ── EventLog.entries: the per-generation sequenced view ────────────

  private def nodes(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // the tree itself, not its string: an in-memory scan prints the
    // cached plan (file scan and window included) but does not hold it
    val p: SparkPlan = df.queryExecution.sparkPlan
    (p.collect { case s: InMemoryTableScanExec => s }.length,
      p.collect { case s: FileSourceScanExec => s }.length,
      p.collect { case w: WindowExec => w }.length)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Every facade read kind that goes through `EventLog.entries`, with
    * whether its operator itself needs a window. */
  private def facadeReads(st: GraftStore, midTsUs: Long) = {
    val sp = st.space("purchase")
    Seq(
      ("consume_segment", sp.segment("7").consume(minSeq = Some(2L)), false),
      ("peek", sp.segment("7").peek, false),
      ("consume_space", sp.consume(limit = Some(40)), false),
      ("consume_from", sp.consumeFrom("7", 3L, Some(40)), false),
      ("consume_multi", st.consume(Map("click" -> ("3", 2L),
        "view" -> ("5", 1L)), limit = Some(60)), false),
      ("peek_all", sp.peekAll, false),
      ("tail", sp.tail(2), true),
      ("replay_state", sp.replayState(), false),
      ("state_as_of", sp.stateAsOf(midTsUs), false),
      ("state_diff", sp.stateDiff(midTsUs, Long.MaxValue), false),
      ("snapshot", sp.snapshot(5L), false),
      ("entries", st.entries, false),
      ("validate", st.validate, false),
      ("trx_audit", st.trxAudit(), true))
  }

  test("entries: facade reads on a small log are served from the cached view") {
    import graft.operators.Par
    val midTsUs = EventLog.named(spark, SF)
      .agg(((min("ts_us") + max("ts_us")) / 2).cast("long")).head.getLong(0)
    // the same log in more files than the tiny bound: today's derivation
    val big = Files.createTempDirectory("graft_overbound").toString
    EventLog.raw(spark, SF).repartition(Par.MaxFiles + 1)
      .write.parquet(s"$big/events.parquet")
    val bigReads = facadeReads(GraftStore(spark, big), midTsUs)
    facadeReads(store, midTsUs).foreach(r => rows(r._2)) // first reads
    facadeReads(store, midTsUs).zip(bigReads).foreach {
      case ((kind, memo, windowed), (_, derived, _)) =>
        val (cached, files, windows) = nodes(memo)
        assert(cached >= 1 && files == 0, s"$kind:\n${memo.queryExecution.sparkPlan}")
        if (!windowed) assert(windows == 0, s"$kind:\n${memo.queryExecution.sparkPlan}")
        val (bigCached, bigFiles, bigWindows) = nodes(derived)
        // (an operator that never reads `sequence` prunes the window)
        assert(bigCached == 0 && bigFiles >= 1, kind)
        if (kind == "consume_segment") assert(bigWindows >= 1, kind)
        val want = rows(derived)
        assert(want.nonEmpty, kind)
        assert(rows(memo) == want, kind)
    }
  }

  private val t0 = 1700000000000000L

  /** The log's entries as (space, segment, sequence, value) rows, as
    * [[writeLog]]'s rows define them (every entry's value is its id). */
  private def model(log: Seq[(Long, Long, String, Long)]): Seq[String] =
    log.groupBy(e => (e._3, e._2)).toSeq.flatMap { case ((tpe, user), es) =>
      es.sortBy(e => (e._4, e._1)).zipWithIndex.map { case (e, i) =>
        s"$tpe|$user|${i + 1}|${e._1.toDouble}" }
    }.sorted

  /** [[writeLog]]'s rows (`ts` MICROS) written to `dir/events.parquet`
    * by Spark, in one task, at most `perFile` rows per file (0: any). */
  private def sparkLog(dir: String, log: Seq[(Long, Long, String, Long)],
      mode: SaveMode, perFile: Long = 0L): Unit =
    spark.createDataFrame(log.map { case (id, user, tpe, ts) =>
        (id, user, tpe, ts, id.toDouble, s"p$id") })
      .toDF("event_id", "user_id", "event_type", "ts", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")).cast("timestamp_ntz"))
      .coalesce(1).write.option("maxRecordsPerFile", perFile)
      .mode(mode).parquet(s"$dir/events.parquet")

  private def seqs(df: org.apache.spark.sql.DataFrame): Seq[String] =
    rows(df.select("space", "segment", "sequence", "value"))

  test("entries: an in-place rewrite of the log is never served a stale view") {
    val dir = Files.createTempDirectory("graft_memo_gen").toString
    def st = GraftStore(spark, dir)
    def check(log: Seq[(Long, Long, String, Long)], s: GraftStore): Unit = {
      val want = model(log)
      assert(seqs(s.entries) == want)
      assert(seqs(s.space("a").consume()) == want.filter(_.startsWith("a|")))
      assert(seqs(s.space("a").segment("1").consume()) ==
        want.filter(_.startsWith("a|1|")))
    }
    val gen1 = Seq((1L, 1L, "a", t0 + 10), (2L, 1L, "a", t0 + 20),
      (3L, 2L, "a", t0 + 15), (4L, 1L, "b", t0 + 5))
    // an entry lands at the head of an existing segment: every later
    // sequence of that segment moves
    val gen2 = gen1 :+ ((5L, 1L, "a", t0 + 1))
    val gen3 = gen2 :+ ((6L, 1L, "a", t0 + 12))
    Seq("MICROS" -> gen1, "MICROS" -> gen2, "NANOS" -> gen2,
        "NANOS" -> gen3, "MICROS" -> gen3).foreach { case (unit, log) =>
      writeLog(dir, unit, log)
      check(log, st)
      check(log, st) // the repeat read, from the cached views
      assert(nodes(st.space("a").segment("1").consume())._1 == 1)
    }
    // a cleared cache and a fresh session both derive afresh
    spark.sharedState.cacheManager.clearCache()
    check(gen3, st)
    check(gen3, GraftStore(spark.newSession(), dir))
    spark.sharedState.cacheManager.clearCache()
    check(gen3, GraftStore(spark.newSession(), dir))
    // a read that listed the log before an append registers its view
    // only after a read of the new generation was planned: the new read
    // is still served the appended entry, not the late reader's listing
    val grown = Files.createTempDirectory("graft_memo_late").toString
    sparkLog(grown, gen1, SaveMode.Append)
    val late = EventLog.source(spark, grown)
    sparkLog(grown, Seq((5L, 1L, "a", t0 + 1)), SaveMode.Append)
    val fresh = EventLog.entries(spark, grown, Some("a"))
    EventLog.sequenced(late, Some("a"), None)
    assert(seqs(fresh) == model(gen2).filter(_.startsWith("a|")))
  }

  test("entries: a small log rewritten past the tiny bound is read afresh") {
    import org.apache.spark.storage.StorageLevel
    import graft.operators.Par
    val dir = Files.createTempDirectory("graft_memo_grow").toString
    val gen1 = Seq((1L, 1L, "a", t0 + 10), (2L, 1L, "a", t0 + 20),
      (3L, 2L, "b", t0 + 5))
    writeLog(dir, "MICROS", gen1)
    val schema = EventLog.raw(spark, dir).schema
    val views = Seq(Some("a"), Some("b")).map(EventLog.entries(spark, dir, _))
    views.foreach(v => rows(v))
    views.foreach(v => assert(v.storageLevel == StorageLevel.MEMORY_ONLY))
    // the same path rewritten in MaxFiles + 1 files (one entry each),
    // same schema, with new entries in the cached spaces
    val gen2 = gen1 ++ (4L to Par.MaxFiles + 1L).map(i =>
      (i, i % 3, if (i % 2 == 0) "a" else "b", t0 + i))
    sparkLog(dir, gen2, SaveMode.Overwrite, perFile = 1L)
    val l = EventLog.source(spark, dir).listing.get
    assert(!Par.tiny(l.files, l.bytes) && l.files == Par.MaxFiles + 1)
    assert(EventLog.raw(spark, dir).schema == schema)
    Seq("a", "b").foreach { sp =>
      val read = EventLog.entries(spark, dir, Some(sp))
      assert(nodes(read)._1 == 0, read.queryExecution.sparkPlan)
      assert(seqs(read) == model(gen2).filter(_.startsWith(s"$sp|")), sp)
    }
    // the old generation's views are no longer held
    views.foreach(v => assert(v.storageLevel == StorageLevel.NONE))
  }

  test("every parquet source read in src/main goes through ParquetSource") {
    import java.nio.file.{Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath.toString)
    // `.read.parquet(` across line breaks too (`spark.read\n  .parquet(`)
    val call = """\.read\s*\.parquet\s*\(""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "ParquetSource.scala")
      .filter((p: Path) => call.findFirstIn(Files.readString(p)).isDefined)
      .map(root.relativize(_).toString).toList
    assert(offenders.isEmpty,
      s"spark.read.parquet outside graft.sources.ParquetSource (re-infers " +
        s"the schema with a Spark job per read): ${offenders.mkString(", ")}")
  }

  test("the bucketed c_id inverted-list write appears once under graft.similarity") {
    import java.nio.file.{Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft/similarity")
    assert(Files.isDirectory(root), root.toAbsolutePath.toString)
    // `.bucketBy(<n>, "c_id")` across line breaks too
    val write = """\.bucketBy\s*\(\s*[^,()]+,\s*"c_id"\s*\)""".r
    val hits = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap((p: Path) => write.findAllIn(Files.readString(p))
        .map(_ => root.relativize(p).toString))
    assert(hits.size == 1,
      s"bucketed c_id list writes under graft.similarity (every IVF codec " +
        s"writes through Knn.writeLists): ${hits.mkString(", ")}")
  }

  test("catalog drops, renames and generation names in src/main live in graft.sources.Staged") {
    import java.nio.file.{Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath.toString)
    // a persisted artifact commits, reads and drops through its pointer
    // (Staged.commit / Staged.table / Staged.drop); a hand-written drop
    // or rename, or a physical generation name, would bypass it
    // no non-artifact drop remains in src/main, so none is exempted
    val bypass = """(?i)DROP\s+TABLE|RENAME\s+TO|__g""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !p.endsWith(Paths.get("graft/sources/Staged.scala")))
      .filter((p: Path) => bypass.findFirstIn(Files.readString(p)).isDefined)
      .map(root.relativize(_).toString).toList
    assert(offenders.isEmpty,
      s"DROP TABLE / RENAME TO / a __g generation name outside " +
        s"graft.sources.Staged: ${offenders.mkString(", ")}")
  }

  /** Every `pattern` hit in src/main as (file, name of the nearest
    * preceding `enclosing` match) — the def or registry entry it sits
    * in. */
  private def hitsIn(pattern: String, enclosing: String): List[(String, String)] = {
    import java.nio.file.{Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath.toString)
    val outer = enclosing.r
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap { (p: Path) =>
        val text = Files.readString(p)
        pattern.r.findAllMatchIn(text).map { m =>
          root.relativize(p).toString ->
            outer.findAllMatchIn(text.substring(0, m.end)).toList
              .lastOption.flatMap(_.subgroups.find(_ != null)).getOrElse("")
        }
      }
  }

  test("the degenerate-vector fence runs once in src/main, in Knn.embOf") {
    // every (v, nrm) frame an operator receives comes from the reader;
    // a second fence is dead code, a missing one a wrong answer
    val hits = hitsIn("""\bfiniteNorm\s*\(""", """\bdef\s+(\w+)""")
    assert(hits.sorted == List(
        "graft/similarity/Knn.scala" -> "embOf",
        "graft/similarity/Knn.scala" -> "finiteNorm"),
      s"finiteNorm( outside its definition and Knn.embOf: $hits")
  }

  test("only the three stored-row inventory rows read embeddings unfenced") {
    // emb_health, pipeline_integrity and dedup_embedding_exact answer
    // about stored rows; every other reader gets the fenced Knn.emb
    val hits = hitsIn("""\bembStoredRows\s*\(""",
      """(?:\bdef\s+(\w+)|"(\w+)"\s*->)""")
    assert(hits.sorted == List(
        "graft/registry/PipelineQueries.scala" -> "dedup_embedding_exact",
        "graft/registry/PipelineQueries.scala" -> "emb_health",
        "graft/registry/PipelineQueries.scala" -> "pipeline_integrity",
        "graft/similarity/Knn.scala" -> "embStoredRows"),
      s"embStoredRows( outside the three inventory rows: $hits")
  }

  test("delta segment names in src/main live in graft.sources.Staged") {
    import java.nio.file.{Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath.toString)
    // a delta is a list of segments that Staged names, appends and
    // merges; a family that spells a delta member (`"_delta"`,
    // `"_delta_stats"`, `s"${t}_delta"`) bypasses that protocol. Audit
    // column names (`n_docs_delta`) are not member names: the pattern
    // only hits a literal that STARTS with the suffix
    val member = """("|\})_delta""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !p.endsWith(Paths.get("graft/sources/Staged.scala")))
      .filter((p: Path) => member.findFirstIn(Files.readString(p)).isDefined)
      .map(root.relativize(_).toString).toList
    assert(offenders.isEmpty,
      s"delta member names outside graft.sources.Staged: " +
        offenders.mkString(", "))
  }

  test("extensions expose native kernels to SQL") {
    spark // force base session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = try SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    val r = s2.sql(
      """SELECT poly_hash64('abc') AS h,
        |       dot_product(array(1D, 2D), array(3D, 4D)) AS d,
        |       simhash64(array(0L)) AS sh,
        |       minhash_sig(array(42L), 4) AS mh,
        |       char_bigrams('abc') AS bg,
        |       hyperplane_bucket(array(1D, 0D, -1D), 8) AS hb""".stripMargin)
      .head()
    assert(r.getAs[Double]("d") == 11.0)
    assert(r.getAs[scala.collection.Seq[Long]]("mh").length == 4)
    assert(r.getAs[scala.collection.Seq[Int]]("bg").length == 2)
    assert(r.getAs[Long]("sh") == 0L)
  }
}
