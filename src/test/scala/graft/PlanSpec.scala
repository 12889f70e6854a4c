package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{EventLog, EventLogWriter}
import graft.operators.StreamOps

/** Asserted plan invariants: the scale-critical properties §5 claims —
  * pushdown, broadcast joins, partial aggregation, window-free produced
  * reads — verified against the actual physical plans so a regression
  * fails the suite rather than silently degrading the 100 TB story. */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("consume_segment pushes space AND segment predicates to parquet") {
    // the derivation (every read of a log over the tiny bound)
    val p = plan(StreamOps.consumeSegment(
      EventLog.derive(EventLog.raw(spark, SF), Some("purchase"), Some("42")),
      "purchase", "42", minSeq = Some(2L)))
    assert(p.contains("EqualTo(event_type,purchase)"), p)
    assert(p.contains("EqualTo(user_id,42)"), p)
    // a small log serves the read from the space's cached view: the
    // space predicate is pushed to parquet under the view, the segment
    // predicate applies at the in-memory scan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val memo = StreamOps.consumeSegment(
      EventLog.entries(spark, SF, Some("purchase"), Some("42")),
      "purchase", "42", minSeq = Some(2L)).queryExecution.sparkPlan
    val scans = memo.collect { case s: InMemoryTableScanExec => s }
    assert(scans.length == 1, memo)
    assert(scans.head.predicates.exists(_.sql == "(segment = '42')"),
      scans.head.predicates.map(_.sql))
    val cached = scans.head.relation.cachedPlan.toString
    assert(cached.contains("EqualTo(event_type,purchase)"), cached)
    assert(!cached.contains("user_id,42"), cached)
  }

  test("q5_region broadcasts exactly the true dimensions; customer/orders shuffle") {
    // disable size-based broadcast so the plan shows only what the HINTS
    // pin: region/nation/supplier must broadcast (bounded dims at any
    // scale), while customer and orders — fact-sized at 100 TB — must NOT
    // be force-broadcast (they take the shuffle path here; with AQE on,
    // they may still broadcast at test scale where they actually fit)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan(graft.analytics.Relational.q5Region(spark, SF))
      val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).length
      assert(nBroadcast == 3, s"expected 3 hinted dim broadcasts, plan:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"customer/orders joins should shuffle without hints:\n$p")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("segment status is a pure partial-combinable aggregation (no window, no sort)") {
    val p = plan(StreamOps.segmentStatus(EventLog.named(spark, SF)))
    assert(!p.contains("Window"), p)
    assert(p.contains("partial"), p) // map-side partial aggregate present
  }

  test("peek aggregates without any global sort") {
    val p = plan(StreamOps.peek(
      EventLog.entries(spark, SF, Some("signup")), "signup"))
    assert(p.contains("max_by") || p.contains("partial"), p)
  }

  test("produced layout read needs no window to recover sequences") {
    val dir = Files.createTempDirectory("graft_plan_produced").toString
    EventLogWriter.write(EventLog.entries(spark, SF), dir)
    val back = EventLogWriter.readProduced(spark, dir)
      .filter(col("space") === "click")
    assert(!plan(back).contains("Window"))
    assert(back.count() > 0)
  }

  test("watermark audit never runs an unbounded window over a space-only partition of the raw log") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = StreamOps.watermarkAudit(EventLog.named(spark, SF), 300000000L)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      // a window keyed more finely than `space` parallelizes across
      // chunks; a space-only window is acceptable ONLY over aggregated
      // (chunk-level) input, never the raw per-entry log
      val overAggregated =
        w.child.collectFirst { case a: Aggregate => a }.nonEmpty
      assert(w.partitionSpec.size >= 2 || overAggregated,
        s"single-task whole-space window over the raw log:\n$w")
    }
  }

  test("ivf centroid kernels: one Exchange per Lloyd round, none to assign or encode") {
    import graft.similarity.Knn
    import graft.functions.CentroidModel
    val exchanges = "\\bExchange\\b".r
    val e = Knn.emb(spark, SF).localCheckpoint(true)
    val model = CentroidModel.of(Knn.kmeansCentroids(e, k = 4, iters = 1))
    // a Lloyd round is ONE aggregation: the assignment kernel in the
    // grouping key, the vector mean as the aggregate
    val round = plan(Knn.lloydRound(e, model))
    assert(exchanges.findAllIn(round).length == 1, round)
    assert(!round.contains("Generate") && !round.contains("Window"), round)
    val codebook = Knn.pqCodebook(e, iters = 1)
    val pqRound = plan(Knn.pqRound(Knn.pqSubvectors(e, 8),
      CentroidModel.codebook(codebook)))
    assert(exchanges.findAllIn(pqRound).length == 1, pqRound)
    // assignment and PQ encoding are per-row kernels: no Exchange
    val assign = plan(Knn.assignTo(e, model))
    assert(exchanges.findAllIn(assign).isEmpty, assign)
    val enc = plan(Knn.pqEncode(e, codebook))
    assert(exchanges.findAllIn(enc).isEmpty, enc)
    // probe lists come from the kernel: no nested-loop join against the
    // centroid table in any of the three probe plans
    val dir = Files.createTempDirectory("graft_kernel_plan").toString
    Seq("kp_ivf", "kp_ivfq", "kp_pq", "kp_pq_coarse", "kp_pq_codebook")
      .foreach(t => graft.sources.Staged.drop(spark, t))
    val q = e.filter(col("vec_id") < 5)
    val c = Knn.writeIvfIndex(e, "kp_ivf", s"$dir/ivf", nlist = 4)
    val cq = Knn.writeIvfIndexQuantized(e, "kp_ivfq", s"$dir/ivfq", nlist = 4)
    val (co, cb) = Knn.writeIvfPqIndex(e, "kp_pq", s"$dir/pq", nlist = 4)
    Seq(Knn.searchIvfIndex(spark, "kp_ivf", c, q, k = 5),
        Knn.searchIvfIndexQuantized(spark, "kp_ivfq", cq, q, k = 5),
        Knn.searchIvfPq(spark, "kp_pq", co, cb, q, k = 5)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), p)
    }
  }

  test("co-bucketed segment join runs with no Exchange on either side") {
    val dirA = Files.createTempDirectory("graft_bkt_log").toString
    val dirB = Files.createTempDirectory("graft_bkt_state").toString
    graft.sources.Staged.drop(spark, "bkt_entries")
    graft.sources.Staged.drop(spark, "bkt_state")
    EventLogWriter.writeBucketed(
      EventLog.entries(spark, SF, Some("click")), "bkt_entries", dirA,
      buckets = 8)
    // per-segment state (tail/snapshot shape), co-bucketed on the same key
    val state = StreamOps.segmentStatus(EventLog.named(spark, SF))
      .filter(col("space") === "click")
      .select(col("segment"), col("last_sequence"))
    state.repartition(col("segment")).write
      .option("path", dirB).bucketBy(8, "segment")
      .mode("overwrite").saveAsTable("bkt_state")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the test proves the BUCKETED path is
      // shuffle-free, not that the small side got broadcast
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_entries")
        .join(spark.table("bkt_state"), "segment")
      val p = plan(joined)
      assert(!p.contains("Exchange"), p)
      assert(joined.count() > 0)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("LSH variants contain no cartesian/nested-loop join (all-pairs stays fenced to the baselines)") {
    // dedup_embedding and knn_brute are the ONLY sanctioned all-pairs
    // operators (oracle baselines). Their LSH duals must remain bucket
    // equijoins — any future "optimization" that reintroduces a cross
    // product here is a 100 TB scale regression and must fail this test.
    val emb = graft.similarity.Knn.emb(spark, SF)
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    val lshPlans = Seq(
      graft.dedup.Dedup.embeddingPairsLsh(emb, 0.3),
      graft.similarity.Knn.lsh(emb, col("vec_id") < 5, k = 5),
      // the text-side banded paths (now also feeding the registered
      // dedup_clusters_lsh composition) must stay bucket equijoins too
      graft.dedup.Dedup.minHashPairs(docs),
      graft.dedup.Dedup.simHashPairs(docs),
      graft.dedup.Dedup.charNGramPairs(docs),
      // cluster-scoped semantic dedup: the within-cluster pair join
      // must be a c_id equijoin (the sanctioned broadcast-centroid
      // crossJoin is behind the eager assignment materialization)
      graft.similarity.Knn.semanticDedup(emb, tau = 0.4),
      // winnowed-anchor paths: candidate discovery must stay an anchor
      // equijoin (df-capped), never positional or all-pairs
      graft.dedup.Dedup.substringPairs(docs),
      graft.dedup.Dedup.contaminationSubstring(docs,
        graft.text.TextOps.splitAssign(docs, 13)),
      // near-dup media: candidates must stay a header-feature bucket
      // equijoin, verified per candidate — never blob × blob
      graft.multimodal.Multimodal.nearDedup(
        graft.multimodal.Multimodal.synthesize(docs)),
      // cross-format transcode candidates: a canvas-key bucket equijoin,
      // never image × image
      graft.multimodal.Multimodal.transcodeCandidates(
        graft.multimodal.Multimodal.synthesizeWithTranscodes(docs)))
    lshPlans.foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("source_balance never shuffles the fact table; pack_assign shuffles once per source") {
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    // source_balance: the ONLY shuffle is the dim-sized per-source count
    // (map-side combined); the fact side reaches the broadcast join
    // straight from its scan
    val sb = plan(graft.text.TextOps.sourceBalance(docs, 15L))
    assert("(?<!Broadcast)Exchange".r.findAllIn(sb).length == 1, sb)
    assert(sb.contains("BroadcastExchange"), sb)
    // pack_assign: exactly one Exchange (hash by source) feeding the
    // per-source ordered prefix sum
    val pa = plan(graft.text.TextOps.packAssign(docs))
    assert("(?<!Broadcast)Exchange".r.findAllIn(pa).length == 1, pa)
  }

  test("domain_classifier: no window/sort, one-row totals broadcast, no shuffled cartesian") {
    val docs = graft.text.TextOps.docs(spark, SF)
    for (p <- Seq(
        plan(graft.text.TextOps.domainClassifier(docs)),
        plan(graft.text.TextOps.domainClassifierHoldout(docs)))) {
      assert(!p.contains("Window"), p)
      // the term-keyed score join may plan sort-merge (correct when the
      // model is large; AQE broadcasts it when small) — the fences are
      // on the genuinely wrong shapes: no per-doc window machinery and
      // no shuffled cross product (the one-row totals must attach via
      // a broadcast nested loop, the space_correlation posture)
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("mix_apply adds zero shuffles beyond the plan build (fact side broadcast-only)") {
    val docs = graft.text.TextOps.docs(spark, SF)
    def shuffles(p: String) =
      "(?<!Broadcast)Exchange".r.findAllIn(p).length
    val planOnly = shuffles(plan(graft.text.TextOps.mixPlan(docs)))
    val applied = plan(graft.text.TextOps.mixApply(docs))
    // the per-doc copy decision rides a broadcast of the strata-sized
    // plan — the fact table is never shuffled (source_balance posture)
    assert(shuffles(applied) == planOnly, applied)
    assert(applied.contains("BroadcastExchange"), applied)
  }

  test("repetition_stats is a pure per-row map: zero Exchange in the plan") {
    val p = plan(graft.text.TextOps.repetitionStats(
      graft.text.TextOps.docs(spark, SF)))
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Sort"), p)
  }

  test("cohort_retention is a pure agg chain: no join, no window") {
    val p = plan(graft.operators.Windows.cohortRetention(
      EventLog.named(spark, SF)))
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial"), p)
  }

  test("heavy_hitters joins only broadcast (candidate set), never a shuffled vocab join") {
    val p = plan(graft.text.TextOps.heavyHitters(
      graft.text.TextOps.docs(spark, SF), k = 100))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("monitors join only broadcast: quality_drift and es_state_diff stay shuffle-light") {
    // quality_drift: one corpus agg; the stats join is broadcast
    val pd = plan(graft.text.TextOps.qualityDrift(
      graft.text.TextOps.docs(spark, SF)))
    assert(!pd.contains("SortMergeJoin") && !pd.contains("ShuffledHashJoin"),
      pd)
    // es_state_diff: ONE filtered scan + conditional agg — no join at all
    val ps = plan(graft.operators.EventSourcing.stateDiff(
      EventLog.entries(spark, SF, Some("purchase")), "purchase",
      0L, Long.MaxValue))
    assert(!ps.contains("Join"), ps)
    assert(ps.contains("partial"), ps)
    // space_correlation: the hourly self-join is an h-equijoin — a plan
    // regression to a cartesian would be quadratic in the grid
    val pc = plan(graft.operators.Windows.spaceCorrelation(
      EventLog.named(spark, SF), 3600000000L))
    assert(!pc.contains("CartesianProduct"), pc)
  }

  test("vocab_topk is TakeOrdered (per-partition heap), not a global sort") {
    val p = plan(graft.text.TextOps.vocabTopK(
      graft.text.TextOps.docs(spark, SF), 50))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("doc_similar scores via the kernel over a lang equijoin, never a cartesian") {
    val p = plan(graft.text.TextOps.docSimilar(
      graft.text.TextOps.docs(spark, SF)))
    assert(!p.contains("CartesianProduct"), p)
    // the pair stage must stay the SparseDotCounts kernel — a regression
    // back to the exploded-postings re-aggregation (measured r12: 24-32 s
    // of a 35 s query at sf0.1) would hide here as a silent plan change
    assert(p.contains("sparse_dot_counts"), p)
  }

  test("contamination_semantic cross join carries a broadcast side, never a cartesian") {
    val p = plan(graft.similarity.Knn.contaminationSemantic(
      graft.similarity.Knn.emb(spark, SF)))
    // the sanctioned brute-baseline shape: test minority split broadcast
    // into a nested-loop join — a CartesianProduct here means the
    // broadcast hint was dropped and both sides shuffle-pair at n²
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("contamination_semantic_ivf probes the bucketed code index — no cross product anywhere") {
    // the 100 TB replacement for the brute cross join above: train split
    // persisted as the quantized IVF index, test split probes nprobe
    // lists — candidate-linear, and the index side arrives
    // pre-partitioned (bucketed scan, zero index-side Exchange)
    val dir = Files.createTempDirectory("graft_contam_ivf_plan").toString
    graft.sources.Staged.drop(spark, "contam_ivf_plan")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan(graft.similarity.Knn.contaminationSemanticIvf(spark,
        graft.similarity.Knn.emb(spark, SF), "contam_ivf_plan", dir))
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("Bucketed: true"), p)
      val cIdExchanges =
        "Exchange hashpartitioning\\(c_id".r.findAllIn(p).length
      assert(cIdExchanges == 1, p)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("knn_label_prop: brute is broadcast-fenced; IVF probe keeps the index fences") {
    // brute vote join = the sanctioned baseline shape (unlabeled
    // minority broadcast), same fence as contamination_semantic
    val p = plan(graft.similarity.Knn.labelPropagation(
      graft.similarity.Knn.emb(spark, SF)))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the argmax is a hash agg (max_by over struct), never a window sort
    assert(!p.contains("Window"), p)
    // the IVF swap rides probeScoredBy — bucketed code-index scan, no
    // cross product (the labels ride candidate-sized key equijoins)
    val dir = Files.createTempDirectory("graft_lblprop_plan").toString
    graft.sources.Staged.drop(spark, "lblprop_plan")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pi = plan(graft.similarity.Knn.labelPropagationIvf(spark,
        graft.similarity.Knn.emb(spark, SF), "lblprop_plan", dir))
      assert(!pi.contains("CartesianProduct"), pi)
      assert(pi.contains("Bucketed: true"), pi)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("chunk_dedup chunks the corpus once; no window machinery anywhere") {
    val df = graft.text.Chunks.chunkDedup(
      graft.text.TextOps.docs(spark, SF))
    val p = plan(df)
    // both consumers (keeper election + survival join) read the
    // checkpointed chunk table — zero parquet scans in the final plan
    assert(!p.contains("Scan parquet"), p)
    // keeper election is an agg (min of struct), never a corpus window
    assert(!p.contains("Window"), p)
  }

  test("emb_drift_quantized scans the corpus once; the dim join is broadcast") {
    val df = graft.similarity.Knn.embDriftQuantized(
      graft.similarity.Knn.emb(spark, SF))
    val p = plan(df)
    // corpus sums roll up from the eagerly-checkpointed label sums — the
    // final plan must read ONLY the tiny checkpointed table (zero parquet
    // scans); a parquet scan here means the one-pass rollup broke and the
    // corpus is being re-quantized per consumer
    val nScans = "Scan parquet".r.findAllIn(p).length
    assert(nScans == 0, s"expected 0 embeddings scans, got $nScans:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sample_exact_k runs the bounded aggregate: no window, no sort") {
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    val p = plan(graft.text.TextOps.sampleExactK(docs))
    // the scale claim: a TypedImperativeAggregate hash agg (map-side
    // combine ships <= k per stratum per partition), NEVER the
    // row_number window formulation (a per-stratum sort of the corpus)
    assert(p.contains("min_k_by_key"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort "), p)
  }

  test("zipf_audit runs the bounded top-k aggregate: no window, no sort " +
      "of the vocabulary") {
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    val p = plan(graft.text.TextProfile.zipfAudit(docs))
    // the scale claim: top-100-per-lang via MinKByKey (map-side combine
    // ships <= k rows per lang per partition), never the row_number
    // window formulation (a per-lang sort of the whole vocabulary —
    // that formulation is the DuckDB oracle, not the engine plan)
    assert(p.contains("min_k_by_key"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort "), p)
  }

  test("win_ohlc: open/close picked by map-side-combined struct min/max, " +
      "never a window over the log") {
    val named = graft.sources.EventLog.named(spark, SF)
    val p = plan(graft.operators.Windows.ohlc(named, 3600000000L))
    // same scale claim as touch_attribution: the partial agg combines
    // below the (space, window) Exchange — one row per window per
    // partition crosses the wire; the row_number formulation (which
    // would shuffle and sort every raw event) is the DuckDB oracle
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_min"), p)
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(space")
    assert(exchangeIdx >= 0, p)
    assert(p.indexOf("partial_min", exchangeIdx) >= 0, p)
  }

  test("touch_attribution: map-side-combined aggregate, never a window") {
    val named = graft.sources.EventLog.named(spark, SF)
    val p = plan(graft.operators.Windows.attribution(named))
    // the scale claim: the struct-min/max agg combines BEFORE the
    // shuffle (one row per segment per partition crosses the wire),
    // where the row_number window formulation would shuffle every raw
    // event on segment and sort each segment's event list; the
    // SortAggregate's partition-local sort over already-combined rows
    // is the accepted price of a struct buffer
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_min"), p)
    // the partial agg must appear BELOW the segment Exchange
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(segment")
    assert(exchangeIdx >= 0, p)
    assert(p.indexOf("partial_min", exchangeIdx) >= 0, p)
  }

  test("budget_cut windows run over the aggregated grid only, never doc rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val docs = graft.text.TextOps.docs(spark, SF)
    val wins = graft.text.TextOps.budgetCut(docs, 800L)
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    // the §5 claim: the only sort is over the corpus-independent
    // (source, q4, hex4) grid — each window's input must be an
    // aggregate, never the per-doc stream
    wins.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"window over unaggregated doc rows:\n$w")
    }
  }

  test("journey/cadence windows are keyed (segment-parallel), never global") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import graft.operators.Windows
    val named = EventLog.named(spark, SF)
    Seq(Windows.eventTransitions(named),
        Windows.interarrivalStats(named)).foreach { df =>
      val wins = df.queryExecution.optimizedPlan
        .collect { case w: LWindow => w }
      assert(wins.nonEmpty)
      // an empty partitionSpec is a single-task whole-log sort
      wins.foreach(w => assert(w.partitionSpec.nonEmpty, w.toString))
    }
  }

  test("phrase_density broadcasts the dictionary; no cartesian anywhere") {
    val p = plan(graft.text.TextOps.phraseDensity(
      graft.text.TextOps.docs(spark, SF)))
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dsir_select: windows run over the aggregated grid only, the " +
      "model and gate joins broadcast, no cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    import org.apache.spark.sql.execution.LogicalRDD
    val docs = graft.text.TextOps.docs(spark, SF)
    val sel = graft.text.Dsir.dsirSelect(docs)
    val wins = sel.queryExecution.optimizedPlan
      .collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    // the one window (decision-grid prefix) must sit over the bounded
    // grid — either a visible aggregate or the eagerly-checkpointed
    // grid RDD (lineage truncated at the checkpoint), never the
    // per-doc weight stream (which reaches the window only via that
    // grid agg)
    wins.foreach { w =>
      val overGrid = w.child.collectFirst {
        case a: Aggregate => a
        case r: LogicalRDD => r
      }.nonEmpty
      assert(overGrid, s"window over unaggregated rows:\n$w")
      // the checkpointed grid carries exactly the (g, cnt) pair —
      // doc-stream columns would show here if the window ever moved
      assert(w.child.output.map(_.name).toSet == Set("g", "cnt"),
        w.child.output.toString)
    }
    val p = plan(sel)
    assert(p.contains("BroadcastExchange"), p)
    // the one-row totals crossJoin rides a broadcast nested loop (the
    // contamination_semantic-fence shape); a true cartesian never
    assert(!p.contains("CartesianProduct"), p)
  }

  test("boilerplate_tag broadcasts the dictionary; feature_drift " +
      "broadcasts totals; no cartesian in either") {
    val docs = graft.text.TextOps.docs(spark, SF)
    val pTag = plan(graft.text.Boilerplate.boilerplateTag(docs))
    assert(pTag.contains("BroadcastExchange"), pTag)
    assert(!pTag.contains("CartesianProduct"), pTag)
    val isOld = substring(md5(concat_ws(":",
      col("doc_id").cast("string"), lit("era"))), 1, 1) < "c"
    val pDrift = plan(graft.text.Dsir.featureDrift(
      docs.filter(isOld), docs.filter(!isOld)))
    assert(pDrift.contains("BroadcastExchange"), pDrift)
    // totals ride the broadcast nested loop (one-row side); never a
    // true cartesian
    assert(!pDrift.contains("CartesianProduct"), pDrift)
  }

  test("rebalance plan: the only window runs over the segment rollup, " +
      "keyed by space") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val wins = StreamOps.rebalancePlan(EventLog.named(spark, SF))
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty, w.toString) // space-keyed
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        s"window over raw entries:\n$w") // segment-sized input
    }
  }

  test("part_revenue_topk cuts before naming: TakeOrdered, then the " +
      "k survivors broadcast against part") {
    val p = plan(graft.analytics.Relational.partRevenueTopK(spark, SF))
    // the cut is a bounded top-k heap, never a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    // the name join broadcasts the k-row cut side
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("epoch_shuffle: the only window is PARTITIONED by the shard key — " +
      "never a global sort") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val docs = graft.text.TextOps.docs(spark, SF)
    val q = graft.text.Shuffle.epochShuffle(docs, epoch = 1)
    val wins = q.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    // the §5 claim: every window has a non-empty partition spec (each
    // task sorts corpus/256 rows); an unpartitioned ORDER BY would
    // serialize the corpus through one task at 100 TB
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty, w.toString)
      assert(w.partitionSpec.exists(_.toString.contains("shard_hex")),
        w.toString)
    }
  }

  test("source_novelty: argmin by aggregation over the vocabulary; windows " +
      "only over the |sources| rollup") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val docs = graft.text.TextOps.docs(spark, SF)
    val q = graft.text.TextOps.sourceNovelty(docs)
    val p = plan(q)
    assert(!p.contains("CartesianProduct"), p)
    // first-seen attribution must be the min(struct) AGGREGATE (word
    // keyed, map-side combinable) — a window over the vocabulary would
    // shuffle+sort every (source, word) row per word; the only windows
    // allowed are the source-rank and cumulative ones whose input is
    // the ≤ |sources| aggregate (they order by n_docs/src_rank)
    val wins = q.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      val order = w.orderSpec.map(_.toString).mkString(",")
      assert(order.contains("n_docs") || order.contains("src_rank"),
        s"unexpected window over: $order")
    }
  }

  test("label diagnostics argmax by aggregation: no window machinery") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val e = graft.similarity.Knn.emb(spark, SF)
    Seq(graft.similarity.Knn.embClusterQuality(e),
        graft.similarity.Knn.centroidConfusion(e)).foreach { df =>
      assert(df.queryExecution.optimizedPlan
        .collect { case w: LWindow => w }.isEmpty)
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("hybrid fusion: no cartesian; every window is KEYED by doc_id (bounded member lists)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = graft.similarity.Hybrid.hybridSearch(
      graft.text.TextOps.docs(spark, SF),
      graft.similarity.Knn.emb(spark, SF))
    // windows partition the τ-bounded candidate lists per query —
    // an UNPARTITIONED window here would be a corpus-wide sort
    val wins = df.queryExecution.optimizedPlan
      .collect { case w: LWindow => w }
    assert(wins.nonEmpty &&
      wins.forall(_.partitionSpec.nonEmpty), wins.toString)
    assert(!plan(df).contains("CartesianProduct"), plan(df))
  }

  test("standing_query_route probes the bucketed postings index; hybrid_search_ivf keeps the IVF fences") {
    val docs = graft.text.TextOps.docs(spark, SF)
    graft.sources.Staged.drop(spark, "route_plan_idx")
    graft.sources.Staged.drop(spark, "route_plan_idx_stats")
    val idx = Files.createTempDirectory("graft_route_plan").toString + "/v"
    graft.text.TextOps.writeTextIndex(docs, "route_plan_idx", idx)
    val p = plan(graft.text.TextOps.standingQueryScore(spark,
      "route_plan_idx", docs, Seq("vector", "stream")))
    // the df rollup reads the term-bucketed postings (no index-side
    // reshuffle) and nothing degenerates to a cross product — the
    // scalar stats crossJoin is a 1-row broadcast by construction
    assert(p.contains("Bucketed: true"), p)
    assert(!p.contains("CartesianProduct"), p)
    graft.sources.Staged.drop(spark, "hyb_ivf_plan")
    val idx2 = Files.createTempDirectory("graft_hyb_ivf_plan")
      .toString + "/v"
    val ph = plan(graft.similarity.Hybrid.hybridSearchIvf(spark, docs,
      graft.similarity.Knn.emb(spark, SF), "hyb_ivf_plan", idx2))
    assert(ph.contains("Bucketed: true"), ph)
    assert(!ph.contains("CartesianProduct"), ph)
  }

  test("chunk_hybrid_rrf: bounded member cuts, the only window is the fused serving cut; persisted PRF probes stay bucketed") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val docs = graft.text.TextOps.docs(spark, SF)
    graft.sources.Staged.drop(spark, "chunk_hyb_plan")
    graft.sources.Staged.drop(spark, "chunk_hyb_plan_vocab")
    val idx = Files.createTempDirectory("graft_chunk_hyb_plan")
      .toString + "/v"
    val cd = graft.text.Chunks.chunkDocs(docs)
    graft.text.TextOps.writeDocVectorIndex(cd, "chunk_hyb_plan", idx)
    val df = graft.text.Chunks.chunkHybridRrf(spark, cd,
      "chunk_hyb_plan", "chunk_hyb_plan_vocab")
    val p = plan(df)
    // both member rankings ride the bounded MinKByKey aggregate — a
    // ranking window over a corpus-wide match list would be a
    // single-reducer sort of every matching chunk
    assert(p.contains("min_k_by_key"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the ONLY window is the serving cut, ordering the ≤ kLex + kSem
    // fused rows on the integer mass
    val wins = df.queryExecution.optimizedPlan
      .collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(
      _.orderSpec.map(_.toString).mkString(",").contains("rrf_micro")),
      wins.toString)

    // search_prf_persisted's mining face: bucketed postings probes
    // (zero corpus tokenize), bounded seed cut, no cartesian
    graft.sources.Staged.drop(spark, "prf_plan_idx")
    graft.sources.Staged.drop(spark, "prf_plan_idx_stats")
    val idx2 = Files.createTempDirectory("graft_prf_plan").toString + "/v"
    graft.text.TextOps.writeTextIndex(docs, "prf_plan_idx", idx2)
    val pt = plan(graft.text.Prf.prfTermsIndexed(spark, "prf_plan_idx"))
    assert(pt.contains("Bucketed: true"), pt)
    assert(pt.contains("min_k_by_key"), pt)
    assert(!pt.contains("CartesianProduct"), pt)
    val pe = plan(graft.text.TextOps.searchIndexTerms(spark,
      "prf_plan_idx", docs.sparkSession.createDataset(
        Seq("vector", "stream"))(org.apache.spark.sql.Encoders.STRING)
        .toDF("term")))
    assert(pe.contains("Bucketed: true"), pe)
    assert(!pe.contains("CartesianProduct"), pe)
  }
}
