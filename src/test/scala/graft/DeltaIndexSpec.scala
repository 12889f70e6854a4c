package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.sources.Staged

/** Delta-merge index maintenance (r17 verdict #1): a crawl delta
  * appends one immutable segment instead of paying a full-corpus
  * rebuild ([[graft.sources.Staged.append]]).
  *
  * Pins, per family (postings / doc-vector / float, int8 and PQ IVF):
  *  - append k writes ONE segment holding exactly batch k and leaves
  *    every earlier segment's physical table untouched; an empty batch
  *    writes none; a crash before the flip serves the earlier segments
  *    and the retry lands the batch once;
  *  - probe over base ∪ segments ≡ probe over a rebuild with the frozen
  *    models (the transparent-hop contract the shared oracle rides) —
  *    for postings exactly (all stats additive, idf derived at probe
  *    time); for vectors under the frozen-vocab contract (vocab from
  *    base);
  *  - the merges compact index ROWS (zero tokenize passes), fold every
  *    segment, keep the probe row-identical, and re-running the merge
  *    is a no-op (idempotent);
  *  - the disjointness fences fire by name on a re-ingested row;
  *  - a full rebuild STALES every live segment — probes ignore it and
  *    the audits report zero delta mass.
  */
class DeltaIndexSpec extends SparkSpec {

  private val Terms = Seq("vector", "stream", "window", "hash")

  private lazy val docs =
    graft.text.TextOps.docs(spark, SF).localCheckpoint(true)

  // the registry rows' split: ~3/4 base, ~1/4 delta, md5-deterministic
  private def isDelta =
    substring(md5(concat_ws(":", col("doc_id").cast("string"),
      lit("dsd"))), 1, 1) >= "c"
  private lazy val base = docs.filter(!isDelta).localCheckpoint(true)
  private lazy val delta = docs.filter(isDelta).localCheckpoint(true)

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft_delta_$tag").toString + "/idx"

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def dropAll(tbl: String): Unit =
    graft.sources.Staged.drop(spark, tbl)

  /** True while the artifact's pointer names a delta segment. */
  private def hasDelta(tbl: String): Boolean =
    graft.sources.Staged.resolve(spark, tbl).segments.nonEmpty

  test("postings delta: probe over base ∪ delta ≡ full rebuild ≡ ad-hoc bm25; merge keeps it; merge is idempotent") {
    val tbl = "dlt_text_a"
    val path = freshDir("ta")
    dropAll(tbl)
    assert(base.count() > 0 && delta.count() > 0, "degenerate split")
    TextOps.writeTextIndex(base, tbl, path)
    TextOps.appendTextIndexDelta(delta, tbl, path)
    val want = rows(TextOps.bm25Search(docs, Terms))
    assert(want.nonEmpty)
    assert(rows(TextOps.searchIndexDelta(spark, tbl, Terms)) == want,
      "base ∪ delta probe differs from the ad-hoc full-corpus bm25")
    // the full-rebuild reference: one index over everything
    val fullTbl = "dlt_text_full"
    dropAll(fullTbl)
    TextOps.writeTextIndex(docs, fullTbl, freshDir("tf"))
    assert(rows(TextOps.searchIndex(spark, fullTbl, Terms)) == want)
    // merge: index-row compaction — probe unchanged through BOTH faces,
    // delta gone
    TextOps.mergeTextIndex(spark, tbl, path)
    assert(!hasDelta(tbl))
    assert(graft.sources.Staged.resolve(spark, tbl).members.keySet ==
      Set(tbl, s"${tbl}_stats"))
    assert(rows(TextOps.searchIndex(spark, tbl, Terms)) == want)
    assert(rows(TextOps.searchIndexDelta(spark, tbl, Terms)) == want)
    // idempotent: a second merge is a no-op
    TextOps.mergeTextIndex(spark, tbl, path)
    assert(rows(TextOps.searchIndex(spark, tbl, Terms)) == want)
  }

  test("postings delta: repeat appends extend the delta generation and stay exact") {
    val tbl = "dlt_text_b"
    val path = freshDir("tb")
    dropAll(tbl)
    // split the delta itself in two batches
    val d1 = delta.filter(col("doc_id") % 2 === 0).localCheckpoint(true)
    val d2 = delta.filter(col("doc_id") % 2 =!= 0).localCheckpoint(true)
    assert(d1.count() > 0 && d2.count() > 0, "degenerate delta split")
    TextOps.writeTextIndex(base, tbl, path)
    TextOps.appendTextIndexDelta(d1, tbl, path)
    TextOps.appendTextIndexDelta(d2, tbl, path)
    assert(rows(TextOps.searchIndexDelta(spark, tbl, Terms)) ==
      rows(TextOps.bm25Search(docs, Terms)))
  }

  test("postings delta: disjointness fences fire by name on re-crawled docs") {
    val tbl = "dlt_text_c"
    val path = freshDir("tc")
    dropAll(tbl)
    TextOps.writeTextIndex(base, tbl, path)
    // a batch containing a base doc
    val e1 = intercept[IllegalArgumentException] {
      TextOps.appendTextIndexDelta(base.limit(1), tbl, path)
    }
    assert(e1.getMessage.contains("already-indexed"), e1.getMessage)
    // a batch containing a live-delta doc
    TextOps.appendTextIndexDelta(delta, tbl, path)
    val e2 = intercept[IllegalArgumentException] {
      TextOps.appendTextIndexDelta(delta.limit(1), tbl, path)
    }
    assert(e2.getMessage.contains("already in the live delta"),
      e2.getMessage)
  }

  test("postings delta: a full rebuild stales the delta; the next append replaces it") {
    val tbl = "dlt_text_d"
    val path = freshDir("td")
    dropAll(tbl)
    TextOps.writeTextIndex(base, tbl, path)
    TextOps.appendTextIndexDelta(delta, tbl, path)
    // a full rebuild over the WHOLE corpus flips the base generation:
    // the delta's base_gen no longer matches — serving it would
    // double-count the delta docs the rebuild absorbed
    TextOps.writeTextIndex(docs, tbl, path)
    val want = rows(TextOps.bm25Search(docs, Terms))
    assert(rows(TextOps.searchIndexDelta(spark, tbl, Terms)) == want,
      "stale delta leaked into the probe after a full rebuild")
    // the stale delta does not block a fresh append cycle: rebuild on
    // base, then append replaces the stale generation outright
    TextOps.writeTextIndex(base, tbl, path)
    TextOps.appendTextIndexDelta(delta, tbl, path)
    assert(rows(TextOps.searchIndexDelta(spark, tbl, Terms)) == want)
  }

  test("live delta ingest: micro-batched arrivals converge the search to the ad-hoc full-corpus bm25; the audit tracks the masses") {
    val tbl = "dlt_text_live"
    val path = freshDir("tl")
    dropAll(tbl)
    TextOps.writeTextIndex(base, tbl, path)
    // replay the delta split as multiple micro-batches (file source,
    // one file per trigger — the orderedReplayDir posture)
    val dir = Files.createTempDirectory("graft_dlt_ingest").toString
    delta.repartition(3).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = graft.streaming.Streaming.runDeltaIngest(stream)(
      TextOps.appendTextIndexDelta(_, tbl, path))
    q.processAllAvailable(); q.stop()
    assert(rows(TextOps.searchIndexDelta(spark, tbl, Terms)) ==
      rows(TextOps.bm25Search(docs, Terms)),
      "converged live-ingested search differs from ad-hoc full corpus")
    // the audit sees exactly the ingested masses
    val a = TextOps.textIndexDeltaAudit(spark, tbl).collect().head
    assert(a.getAs[Long]("n_docs_base") == base.count() &&
      a.getAs[Long]("n_docs_delta") == delta.count(), a.toString)
    // post-merge steady state: delta masses report zero
    TextOps.mergeTextIndex(spark, tbl, path)
    val a2 = TextOps.textIndexDeltaAudit(spark, tbl).collect().head
    assert(a2.getAs[Long]("n_docs_delta") == 0L &&
      a2.getAs[Long]("delta_share_milli") == 0L &&
      a2.getAs[Long]("n_docs_base") == base.count() + delta.count(),
      a2.toString)
  }

  test("a crash mid-merge serves base ∪ delta unchanged, and a rerun merges; a crash mid-append serves the previous delta, and the retry lands the batch once") {
    val tbl = "dlt_text_cw"
    val path = freshDir("tcw")
    dropAll(tbl)
    val d1 = delta.filter(col("doc_id") % 2 === 0).localCheckpoint(true)
    val d2 = delta.filter(col("doc_id") % 2 =!= 0).localCheckpoint(true)
    TextOps.writeTextIndex(base, tbl, path)
    TextOps.appendTextIndexDelta(d1, tbl, path)
    val wantHalf = rows(TextOps.bm25Search(base.unionByName(d1), Terms))
    // crash mergeTextIndex after its merged stats are written, before
    // the merged postings: the pointer still names base + delta
    CrashBefore(spark, tbl)(TextOps.mergeTextIndex(spark, tbl, path))
    assert(hasDelta(tbl), "a crashed merge dropped the delta")
    assert(rows(TextOps.searchIndexDelta(spark, tbl, Terms)) == wantHalf,
      "a crashed merge changed what base ∪ delta serves")
    // the rerun merges: postings land exactly once, stats added once
    TextOps.mergeTextIndex(spark, tbl, path)
    assert(!hasDelta(tbl))
    assert(rows(TextOps.searchIndex(spark, tbl, Terms)) == wantHalf,
      "merge rerun lost or double-merged the delta")
    // crash an append after its stats member, before its postings: the
    // previous delta (none here, then d2) keeps serving
    CrashBefore(spark, Staged.segment(tbl, 1))(
      TextOps.appendTextIndexDelta(d2, tbl, path))
    assert(!hasDelta(tbl))
    assert(rows(TextOps.searchIndexDelta(spark, tbl, Terms)) == wantHalf,
      "a crashed append served part of its batch")
    TextOps.appendTextIndexDelta(d2, tbl, path)
    val wantAll = rows(TextOps.bm25Search(docs, Terms))
    assert(rows(TextOps.searchIndexDelta(spark, tbl, Terms)) == wantAll,
      "retry after a crashed append lost or doubled the batch")
    // an empty batch lands nothing and keeps the delta exact
    TextOps.appendTextIndexDelta(base.limit(0), tbl, path)
    assert(rows(TextOps.searchIndexDelta(spark, tbl, Terms)) == wantAll)
  }

  test("append crash windows (r18 ADVICE): the delta promotes atomically — a crash before the flip leaves the previous delta serving, the retry lands the batch exactly once, and a retry of a landed batch raises the already-landed fence") {
    val tbl = "dlt_text_aw"
    val path = freshDir("taw")
    dropAll(tbl)
    val d1 = delta.filter(col("doc_id") % 2 === 0).localCheckpoint(true)
    val d2 = delta.filter(col("doc_id") % 2 =!= 0).localCheckpoint(true)
    TextOps.writeTextIndex(base, tbl, path)
    TextOps.appendTextIndexDelta(d1, tbl, path)
    val live = graft.sources.Staged.snapshot(spark, tbl).get
    // crash append(d2) after its stats member is written: the live
    // segment (d1) is untouched and an orphan stats generation sits next
    // to it
    CrashBefore(spark, Staged.segment(tbl, 2))(
      TextOps.appendTextIndexDelta(d2, tbl, path))
    assert(graft.sources.Staged.snapshot(spark, tbl).get.members ==
      live.members)
    assert(rows(TextOps.searchIndexDelta(spark, tbl, Terms)) ==
      rows(TextOps.bm25Search(base.unionByName(d1), Terms)),
      "an orphaned generation leaked into the probe")
    // the RETRY lands d2 exactly once (fences check the live delta) and
    // sweeps the orphan
    TextOps.appendTextIndexDelta(d2, tbl, path)
    val wantAll = rows(TextOps.bm25Search(docs, Terms))
    assert(rows(TextOps.searchIndexDelta(spark, tbl, Terms)) == wantAll,
      "retry after a crashed append lost or doubled the batch")
    val landed = graft.sources.Staged.snapshot(spark, tbl).get
    assert(spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith(tbl) && n.contains("__g")).toSet ==
      landed.members.values.toSet, "orphans survived the retry")
    // a retry of the ALREADY-LANDED batch raises the disjointness fence
    // by name — the at-least-once retrier's already-landed signal
    val e = intercept[IllegalArgumentException] {
      TextOps.appendTextIndexDelta(d2.limit(1), tbl, path)
    }
    assert(e.getMessage.contains("already in the live delta"),
      e.getMessage)
  }

  test("token-less delta batch: the delta stats member carries its stats (no postings exist to carry them)") {
    val tbl = "dlt_text_tl"
    val path = freshDir("ttl")
    dropAll(tbl)
    TextOps.writeTextIndex(base, tbl, path)
    // a batch of docs with no tokens at all: stats must still count
    // them (n_docs) while zero posting rows land
    val tokenless = delta.limit(3)
      .withColumn("text", lit("   "))
      .localCheckpoint(true)
    TextOps.appendTextIndexDelta(tokenless, tbl, path)
    val a = TextOps.textIndexDeltaAudit(spark, tbl).collect().head
    assert(a.getAs[Long]("n_docs_delta") == 3L &&
      a.getAs[Long]("sum_dl_delta") == 0L, a.toString)
    // the probe is exact: token-less docs widen n_docs, nothing else
    assert(rows(TextOps.searchIndexDelta(spark, tbl, Terms)) ==
      rows(TextOps.bm25Search(base.unionByName(tokenless), Terms)),
      "token-less delta batch perturbed the probe")
  }

  test("doc-vector delta: probe over base ∪ delta ≡ frozen-vocab vectorization of the full corpus; merge compacts and is idempotent") {
    val tbl = "dlt_vec_a"
    val path = freshDir("va")
    dropAll(tbl)
    TextOps.writeDocVectorIndex(base, tbl, path)
    TextOps.appendDocVectorIndexDelta(delta, tbl, path)
    val pred = substring(md5(concat_ws(":", col("doc_id").cast("string"),
      lit("dlt"))), 1, 1) < "4"
    val got = rows(TextOps.docSimilarPersistedDelta(spark, docs, tbl,
      s"${tbl}_vocab", pred, tau = 0.5))
    // the frozen-vocab reference: every corpus doc re-vectorized
    // against the SAME frozen vocabulary (pins both the contract and
    // the stored-vector ≡ re-vectorized-doc bit-identity)
    val reference = rows(TextOps.docSimilarPersistedOn(spark,
      TextOps.vectorizeAgainstVocab(spark, docs, s"${tbl}_vocab"),
      docs, s"${tbl}_vocab", pred, tau = 0.5))
    assert(got.nonEmpty, "degenerate: no pairs at tau=0.5")
    assert(got == reference,
      "base ∪ delta probe differs from frozen-vocab full vectorization")
    // a delta doc must actually be reachable as a neighbor (the delta
    // rows are being SERVED, not just carried)
    val deltaIds = delta.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.exists(r => deltaIds.contains(r(2).asInstanceOf[Long])),
      "no served neighbor came from the delta")
    TextOps.mergeDocVectorIndex(spark, tbl, path)
    assert(!hasDelta(tbl))
    assert(rows(TextOps.docSimilarPersistedDelta(spark, docs, tbl,
      s"${tbl}_vocab", pred, tau = 0.5)) == got)
    TextOps.mergeDocVectorIndex(spark, tbl, path) // idempotent no-op
    assert(rows(TextOps.docSimilarPersisted(spark, docs, tbl,
      s"${tbl}_vocab", pred, tau = 0.5)) == got)
  }

  test("chunk delta faces: base ∪ delta chunk search ≡ ad-hoc; serve-delta ≡ serve with no delta; the vector audit reports masses + OOV and zeros when stale") {
    import graft.text.Chunks
    val tbl = "dlt_chunk_a"
    val path = freshDir("ca")
    Seq(tbl, s"${tbl}_stats", s"${tbl}_vocab", s"${tbl}_post",
      s"${tbl}_post_stats")
      .foreach(t => graft.sources.Staged.drop(spark, t))
    val cdBase = Chunks.chunkDocs(base).localCheckpoint(true)
    val cdDelta = Chunks.chunkDocs(delta).localCheckpoint(true)
    // (a) chunk postings delta: probe ≡ ad-hoc chunk search over the
    // union corpus (the text_search_delta transparency at chunk
    // granularity)
    TextOps.writeTextIndex(cdBase.select(col("doc_id"), col("text")),
      tbl, path)
    TextOps.appendTextIndexDelta(
      cdDelta.select(col("doc_id"), col("text")), tbl, path)
    assert(rows(Chunks.chunkSearchDelta(spark, tbl, Terms)) ==
      rows(Chunks.chunkSearch(docs, Terms)),
      "chunk base ∪ delta probe differs from ad-hoc chunk search")
    // (b) the serve pair with NO delta appended ≡ the plain serve face
    val vt = "dlt_chunk_v"
    val vpath = freshDir("cv")
    Seq(vt, s"${vt}_vocab", s"${vt}_post", s"${vt}_post_stats")
      .foreach(t => graft.sources.Staged.drop(spark, t))
    val cdAll = Chunks.chunkDocs(docs).localCheckpoint(true)
    TextOps.writeDocVectorIndex(cdAll, vt, vpath)
    TextOps.writeTextIndex(cdAll.select(col("doc_id"), col("text")),
      s"${vt}_post", s"${vpath}_post")
    assert(rows(Chunks.chunkHybridServeDelta(spark, s"${vt}_post", vt,
        s"${vt}_vocab")) ==
      rows(Chunks.chunkHybridServe(spark, s"${vt}_post", vt,
        s"${vt}_vocab")),
      "serve-delta face with no delta differs from the serve face")
  }

  test("doc-vector delta audit: masses and planted OOV measured; stale delta reports zero delta mass") {
    val tbl = "dlt_vec_aud"
    val path = freshDir("vau")
    dropAll(tbl)
    TextOps.writeDocVectorIndex(base, tbl, path)
    // plant a delta doc whose text is entirely OUT-OF-VOCAB: its whole
    // token mass must land in toks_oov and it must not vectorize
    val planted = delta.limit(1)
      .withColumn("text", lit("zzqx1 zzqx2 zzqx3"))
      .localCheckpoint(true)
    val deltaP = delta.join(planted.select("doc_id"), Seq("doc_id"),
        "left_anti")
      .unionByName(planted).localCheckpoint(true)
    TextOps.appendDocVectorIndexDelta(deltaP, tbl, path)
    val a = TextOps.docVectorDeltaAudit(spark, tbl, deltaP)
      .collect().head
    // vector masses match the stored tables exactly
    assert(a.getAs[Long]("n_vecs_base") == spark.table(tbl).count(),
      a.toString)
    assert(a.getAs[Long]("n_vecs_delta") ==
      Staged.table(spark, Staged.segment(tbl, 1)).count(), a.toString)
    assert(a.getAs[Long]("n_docs_delta") == deltaP.count(), a.toString)
    // the planted doc: counted in the batch, not vectorized, its 3
    // tokens in the OOV mass
    assert(a.getAs[Long]("n_docs_vectorized") <
      a.getAs[Long]("n_docs_delta"), a.toString)
    assert(a.getAs[Long]("toks_oov") >= 3L &&
      a.getAs[Long]("oov_milli") > 0L, a.toString)
    assert(a.getAs[Long]("delta_share_milli") > 0L, a.toString)
    // a full rebuild stales the delta: the audit must SHOW it (the
    // r18-verdict "silently serves base-only" nit, now measured)
    TextOps.writeDocVectorIndex(docs, tbl, path)
    val a2 = TextOps.docVectorDeltaAudit(spark, tbl, deltaP)
      .collect().head
    assert(a2.getAs[Long]("n_vecs_delta") == 0L &&
      a2.getAs[Long]("delta_share_milli") == 0L, a2.toString)
  }

  // ───── ANN delta (r18 verdict #1): frozen-centroid IVF append ─────

  private lazy val emb =
    graft.similarity.Knn.emb(spark, SF).localCheckpoint(true)
  private def isDeltaVec =
    substring(md5(concat_ws(":", col("vec_id").cast("string"),
      lit("ivfd"))), 1, 1) >= "c"
  private lazy val embBase = emb.filter(!isDeltaVec).localCheckpoint(true)
  private lazy val embDelta = emb.filter(isDeltaVec).localCheckpoint(true)

  test("IVF delta (float): base ∪ delta at nprobe = nlist ≡ brute over the full corpus; delta vectors serve; merge is row-transparent and idempotent") {
    import graft.similarity.Knn
    val tbl = "dlt_ivf_a"
    val path = freshDir("ia")
    dropAll(tbl)
    assert(embBase.count() > 0 && embDelta.count() > 0,
      "degenerate vector split")
    val centroids = Knn.writeIvfIndex(embBase, tbl, path, nlist = 8)
    Knn.appendIvfIndexDelta(embDelta, tbl, path, centroids)
    val q = col("vec_id") < 5
    // nprobe = nlist scores EVERY (query, candidate) pair regardless of
    // list assignment — the delta probe must equal float brute exactly
    // (the rebuild-with-frozen-model contract's strongest observable)
    val got = rows(Knn.searchIvfIndexDelta(spark, tbl, centroids,
      emb.filter(q), k = 10, nprobe = 8))
    val want = rows(Knn.brute(emb, q, k = 10))
    assert(want.nonEmpty && got == want,
      "base ∪ delta probe at nprobe = nlist differs from brute")
    // delta rows are SERVED, not just carried
    val deltaIds = embDelta.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(got.exists(r => deltaIds.contains(r(1).asInstanceOf[Long])),
      "no served neighbor came from the delta")
    // the PRUNED probe is transparent across the merge: pre-merge
    // delta search ≡ post-merge base search (delta assignment equals
    // what the merged index stores — zero assignment recompute)
    val pre = rows(Knn.searchIvfIndexDelta(spark, tbl, centroids,
      emb.filter(q), k = 10, nprobe = 2))
    Knn.mergeIvfIndex(spark, tbl, path)
    assert(!hasDelta(tbl))
    assert(rows(Knn.searchIvfIndex(spark, tbl, centroids,
      emb.filter(q), k = 10, nprobe = 2)) == pre,
      "merge changed the pruned probe result")
    assert(rows(Knn.searchIvfIndexDelta(spark, tbl, centroids,
      emb.filter(q), k = 10, nprobe = 2)) == pre,
      "delta face with no delta differs from the base face")
    Knn.mergeIvfIndex(spark, tbl, path) // idempotent no-op
    assert(rows(Knn.searchIvfIndex(spark, tbl, centroids,
      emb.filter(q), k = 10, nprobe = 2)) == pre)
  }

  test("IVF delta probe plan: both sides are c_id equijoins — no cartesian, no nested loop (the searchIvfIndexOn shape twice)") {
    import graft.similarity.Knn
    val tbl = "dlt_ivf_p"
    val path = freshDir("ip")
    dropAll(tbl)
    val centroids = Knn.writeIvfIndex(embBase, tbl, path, nlist = 8)
    Seq(0, 1).foreach(i => Knn.appendIvfIndexDelta(
      embDelta.filter(col("vec_id") % 2 === i), tbl, path, centroids))
    def executed = Knn.searchIvfIndexDelta(spark, tbl, centroids,
        emb.filter(col("vec_id") < 5), k = 10, nprobe = 2)
      .queryExecution.executedPlan
    val plan = executed.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
    // the base and each segment are bucketed c_id scans joined with no
    // Exchange on their side (broadcast off, as at scale, where no
    // index side is broadcastable)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val shuffled = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      executed
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val initial = shuffled match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val scans = initial.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 3 && scans.forall(_.bucketedScan), initial)
    val indexSides = initial.collect { case j: BaseJoinExec => j.children }
      .flatten.filter(_.collect { case s: FileSourceScanExec => s }.nonEmpty)
    assert(indexSides.size == 3 && indexSides.forall(
      _.collect { case e: Exchange => e }.isEmpty), initial)
  }

  test("IVF delta: disjointness and centroid-alignment fences fire by name; a full rebuild stales the delta") {
    import graft.similarity.Knn
    val tbl = "dlt_ivf_b"
    val path = freshDir("ib")
    dropAll(tbl)
    val centroids = Knn.writeIvfIndex(embBase, tbl, path, nlist = 8)
    val e1 = intercept[IllegalArgumentException] {
      Knn.appendIvfIndexDelta(embBase.limit(1), tbl, path, centroids)
    }
    assert(e1.getMessage.contains("already-indexed"), e1.getMessage)
    Knn.appendIvfIndexDelta(embDelta, tbl, path, centroids)
    val e2 = intercept[IllegalArgumentException] {
      Knn.appendIvfIndexDelta(embDelta.limit(1), tbl, path, centroids)
    }
    assert(e2.getMessage.contains("already in the live delta"),
      e2.getMessage)
    // a centroid frame from ANOTHER generation (shifted ids — the
    // index's lists don't exist in it) must be rejected BEFORE any
    // assignment happens
    val bogus = centroids.withColumn("c_id", col("c_id") + lit(1L))
    val e3 = intercept[IllegalArgumentException] {
      Knn.appendIvfIndexDelta(embDelta, tbl, path, bogus)
    }
    assert(e3.getMessage.contains("generation mismatch"), e3.getMessage)
    // the audit sees the live masses before the rebuild
    val a = Knn.ivfDeltaAudit(spark, tbl).collect().head
    assert(a.getAs[Long]("n_vecs_delta") == embDelta.count() &&
      a.getAs[Long]("delta_share_milli") > 0L, a.toString)
    // a full rebuild (fresh model over everything) stales the delta:
    // the probe must not double-serve the absorbed delta vectors
    val c2 = Knn.writeIvfIndex(emb, tbl, path, nlist = 8)
    val q = col("vec_id") < 5
    assert(rows(Knn.searchIvfIndexDelta(spark, tbl, c2,
        emb.filter(q), k = 10, nprobe = 2)) ==
      rows(Knn.searchIvfIndex(spark, tbl, c2,
        emb.filter(q), k = 10, nprobe = 2)),
      "stale delta leaked into the probe after a full rebuild")
    // ...and the audit SHOWS the staleness as zero delta mass
    val a2 = Knn.ivfDeltaAudit(spark, tbl).collect().head
    assert(a2.getAs[Long]("n_vecs_delta") == 0L &&
      a2.getAs[Long]("delta_share_milli") == 0L, a2.toString)
  }

  test("fenced IVF probes and appends read each centroid table once: the fence checks the model the kernels read") {
    import graft.similarity.Knn
    def live(t: String) = graft.sources.Staged.table(spark, t)
    val q = emb.filter(col("vec_id") < 5)
    // float family: centroids committed beside the index, read by name
    val tf = "dlt_once_f"
    val pf = freshDir("of")
    dropAll(tf)
    graft.sources.Staged.drop(spark, s"${tf}_centroids")
    Knn.writeIvfIndex(embBase, tf, pf, nlist = 8, persistCentroids = true)
    val cf = s"${tf}_centroids"
    assert(TableScans.during(spark, cf) {
      Knn.appendIvfIndexDelta(embDelta, tf, pf, live(cf)) } == Seq(1))
    assert(TableScans.during(spark, cf) {
      Knn.searchIvfIndexDelta(spark, tf, live(cf), q, k = 10).collect()
    } == Seq(1))
    // int8 family: its float centroid table persisted by the caller
    val tq = "dlt_once_q"
    val pq = freshDir("oq")
    dropAll(tq)
    graft.sources.Staged.drop(spark, s"${tq}_cents")
    Knn.writeIvfIndexQuantized(embBase, tq, pq, nlist = 8)
      .write.option("path", freshDir("oqc")).saveAsTable(s"${tq}_cents")
    val cq = s"${tq}_cents"
    assert(TableScans.during(spark, cq) {
      Knn.appendIvfIndexQuantizedDelta(embDelta, tq, pq, spark.table(cq))
    } == Seq(1))
    assert(TableScans.during(spark, cq) {
      Knn.searchIvfIndexQuantizedDelta(spark, tq, spark.table(cq), q,
        k = 10).collect()
    } == Seq(1))
    // PQ family: both frozen side tables, resolved by name
    val tp = "dlt_once_p"
    val pp = freshDir("op")
    Seq(tp, s"${tp}_coarse", s"${tp}_codebook")
      .foreach(t => graft.sources.Staged.drop(spark, t))
    Knn.writeIvfPqIndex(embBase, tp, pp, nlist = 8)
    val sides = Seq(s"${tp}_coarse", s"${tp}_codebook")
    assert(TableScans.during(spark, sides: _*) {
      Knn.appendIvfPqIndexDelta(embDelta, tp, pp) } == Seq(1, 1))
    assert(TableScans.during(spark, sides: _*) {
      Knn.searchIvfPqDelta(spark, tp, q, k = 10).collect() } == Seq(1, 1))
  }

  test("IVF delta (quantized): repeat appends extend the generation; base ∪ delta at nprobe = nlist ≡ quantized brute; merge carries the code rows") {
    import graft.similarity.Knn
    val tbl = "dlt_ivf_q"
    val path = freshDir("iq")
    dropAll(tbl)
    val d1 = embDelta.filter(col("vec_id") % 2 === 0).localCheckpoint(true)
    val d2 = embDelta.filter(col("vec_id") % 2 =!= 0).localCheckpoint(true)
    assert(d1.count() > 0 && d2.count() > 0, "degenerate delta split")
    val centroids = Knn.writeIvfIndexQuantized(embBase, tbl, path, nlist = 8)
    Knn.appendIvfIndexQuantizedDelta(d1, tbl, path, centroids)
    Knn.appendIvfIndexQuantizedDelta(d2, tbl, path, centroids)
    val q = col("vec_id") < 5
    val got = rows(Knn.searchIvfIndexQuantizedDelta(spark, tbl, centroids,
      emb.filter(q), k = 10, nprobe = 8))
    val want = rows(Knn.bruteQuantized(emb, q, k = 10))
    assert(want.nonEmpty && got == want,
      "quantized base ∪ delta at nprobe = nlist differs from " +
        "quantized brute")
    val pre = rows(Knn.searchIvfIndexQuantizedDelta(spark, tbl, centroids,
      emb.filter(q), k = 10, nprobe = 2))
    Knn.mergeIvfIndex(spark, tbl, path)
    assert(!hasDelta(tbl))
    assert(rows(Knn.searchIvfIndexQuantized(spark, tbl, centroids,
      emb.filter(q), k = 10, nprobe = 2)) == pre,
      "quantized merge changed the pruned probe result")
  }

  /** One IVF codec's public faces, for the table-driven delta contract.
    * `appendStale` appends under a caller-passed coarse model from
    * another generation — None for PQ, whose append takes no model from
    * outside: it reads coarse, codebook and lists from ONE pointer read,
    * which cannot mix generations. */
  private case class IvfFaces(name: String,
      build: (DataFrame, String, String) => Unit,
      append: (DataFrame, String, String) => Unit,
      appendStale: Option[(DataFrame, String, String) => Unit],
      search: (String, DataFrame, Int) => DataFrame,
      searchDelta: (String, DataFrame, Int) => DataFrame,
      coarse: String => DataFrame)

  private def centroidFaces(name: String,
      build: (DataFrame, String, String) => DataFrame,
      append: (DataFrame, String, String, DataFrame) => Unit,
      search: (String, DataFrame, DataFrame, Int) => DataFrame,
      searchDelta: (String, DataFrame, DataFrame, Int) => DataFrame) = {
    var cents: DataFrame = null
    IvfFaces(name, (e, t, p) => cents = build(e, t, p),
      (d, t, p) => append(d, t, p, cents),
      Some((d, t, p) =>
        append(d, t, p, cents.withColumn("c_id", col("c_id") + 1L))),
      (t, q, np) => search(t, cents, q, np),
      (t, q, np) => searchDelta(t, cents, q, np),
      _ => cents)
  }

  private lazy val ivfFaces: Seq[IvfFaces] = {
    import graft.similarity.Knn
    import graft.sources.Staged
    Seq(
      centroidFaces("float", Knn.writeIvfIndex(_, _, _, nlist = 8),
        Knn.appendIvfIndexDelta(_, _, _, _),
        Knn.searchIvfIndex(spark, _, _, _, k = 10, _),
        Knn.searchIvfIndexDelta(spark, _, _, _, k = 10, _)),
      centroidFaces("int8", Knn.writeIvfIndexQuantized(_, _, _, nlist = 8),
        Knn.appendIvfIndexQuantizedDelta(_, _, _, _),
        Knn.searchIvfIndexQuantized(spark, _, _, _, k = 10, _),
        Knn.searchIvfIndexQuantizedDelta(spark, _, _, _, k = 10, _)),
      IvfFaces("pq", (e, t, p) => { Knn.writeIvfPqIndex(e, t, p, nlist = 8); () },
        Knn.appendIvfPqIndexDelta(_, _, _), None,
        (t, q, np) => Knn.searchIvfPq(spark, t,
          Staged.table(spark, s"${t}_coarse"),
          Staged.table(spark, s"${t}_codebook"), q, k = 10, np),
        (t, q, np) => Knn.searchIvfPqDelta(spark, t, q, k = 10, np),
        t => Staged.table(spark, s"${t}_coarse")))
  }

  test("IVF delta contract, every codec (float, int8, PQ): fences fire by name; merge keeps every delta vector and is idempotent; a rebuild stales the delta") {
    import graft.similarity.Knn
    def ids(df: DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    def audit(tbl: String): (Long, Long) = {
      val a = Knn.ivfDeltaAudit(spark, tbl).collect().head
      (a.getAs[Long]("n_vecs_delta"), a.getAs[Long]("delta_share_milli"))
    }
    val fenced = col("nrm") > 0.0 && col("nrm") < Double.PositiveInfinity
    val baseIds = ids(embBase.filter(fenced))
    val deltaIds = ids(embDelta.filter(fenced))
    val q = emb.filter(col("vec_id") < 5)
    val twin = embBase.orderBy(col("vec_id")).limit(1)
      .withColumn("vec_id", lit(999999L)).localCheckpoint(true)
    ivfFaces.foreach { f =>
      val tbl = s"dlt_contract_${f.name}"
      val path = freshDir(s"c${f.name}")
      dropAll(tbl)
      Seq(s"${tbl}_coarse", s"${tbl}_codebook")
        .foreach(t => graft.sources.Staged.drop(spark, t))
      f.build(embBase, tbl, path)
      // disjointness: against the base, then against the live delta
      val e1 = intercept[IllegalArgumentException] {
        f.append(embBase.limit(1), tbl, path)
      }
      assert(e1.getMessage.contains("already-indexed"), s"${f.name}: $e1")
      f.append(embDelta, tbl, path)
      val e2 = intercept[IllegalArgumentException] {
        f.append(embDelta.limit(1), tbl, path)
      }
      assert(e2.getMessage.contains("already in the live delta"),
        s"${f.name}: $e2")
      // alignment: a caller-passed coarse model from another generation
      // is rejected before any assignment
      f.appendStale.foreach { stale =>
        val e3 = intercept[IllegalArgumentException] {
          stale(embDelta, tbl, path)
        }
        assert(e3.getMessage.contains("generation mismatch"),
          s"${f.name}: $e3")
      }
      // the delta stores the build's own list columns, in its order
      val snap = Staged.resolve(spark, tbl)
      val buildSchema = snap.table(tbl).schema
      assert(snap.table(snap.segments.head).schema == buildSchema,
        s"${f.name}: delta schema differs from the build schema")
      assert(audit(tbl)._1 == deltaIds.size.toLong && audit(tbl)._2 > 0L,
        s"${f.name}: ${audit(tbl)}")
      // merge with no payload argument: every delta vector lands in the
      // base, the exhaustive probe is unchanged, and a rerun is a no-op
      val pre = rows(f.searchDelta(tbl, q, 8))
      assert(pre.exists(r => deltaIds(r(1).asInstanceOf[Long])),
        s"${f.name}: no served neighbor came from the delta")
      Knn.mergeIvfIndex(spark, tbl, path)
      assert(!hasDelta(tbl), f.name)
      assert(Staged.table(spark, tbl).schema == buildSchema,
        s"${f.name}: merged schema differs from the build schema")
      assert(ids(spark.table(tbl)) == baseIds ++ deltaIds,
        s"${f.name}: merge lost delta vectors")
      assert(rows(f.search(tbl, q, 8)) == pre, s"${f.name}: merge changed the probe")
      assert(rows(f.searchDelta(tbl, q, 8)) == pre, f.name)
      Knn.mergeIvfIndex(spark, tbl, path)
      assert(rows(f.search(tbl, q, 8)) == pre, s"${f.name}: merge not idempotent")
      // a full rebuild stales a live delta: not served, zero audit mass
      f.append(twin, tbl, path)
      assert(audit(tbl)._1 == 1L, s"${f.name}: ${audit(tbl)}")
      f.build(emb, tbl, path)
      assert(rows(f.searchDelta(tbl, q, 2)) == rows(f.search(tbl, q, 2)),
        s"${f.name}: stale delta leaked into the probe after a rebuild")
      assert(audit(tbl) == ((0L, 0L)), s"${f.name}: ${audit(tbl)}")
    }
  }

  /** One delta family's faces for the segment contract. `key` is the
    * fence key; `expect` the rows segment k must hold for batch k (a
    * rebuild of the batch alone under the frozen models, in the
    * segment's columns); `segmentRows` reads a segment's rows (with its
    * side members); `reference` the probe of a rebuild with the frozen
    * models over a corpus — None where the merge is the only
    * frozen-model rebuild (PQ); `audit` the family audit's (delta mass,
    * delta_share_milli). */
  private case class DeltaFace(name: String, key: String,
      base: DataFrame, batches: Seq[DataFrame],
      build: (DataFrame, String, String) => Unit,
      append: (DataFrame, String, String) => Unit,
      merge: (String, String) => Unit,
      expect: (DataFrame, String) => Set[Seq[Any]],
      segmentRows: (Staged.Snapshot, String) => Set[Seq[Any]],
      probe: String => Set[Seq[Any]],
      plain: String => Set[Seq[Any]],
      reference: Option[(DataFrame, String) => Set[Seq[Any]]],
      audit: String => (Long, Long))

  /** The jobs of a second append, per face: the payload, ONE fence
    * aggregate (its broadcast of the batch keys included) and the
    * segment write — never a read of the first segment's payload. */
  private val SecondAppendJobs = Map("postings" -> 9, "docvec" -> 8,
    "float" -> 6, "int8" -> 6, "pq" -> 8)

  private lazy val deltaFaces: Seq[DeltaFace] = {
    import graft.similarity.Knn
    import graft.functions.CentroidModel
    def thirds(d: DataFrame, key: String) = (0 until 3).map(i =>
      d.filter(col(key) % 3 === i).localCheckpoint(true))
    val postingCols = Seq("term", "doc_id", "dl", "tf")
    val statsCols = Seq("n_docs", "sum_dl", "n_docs_tok")
    val vectorCols = Seq("doc_id", "lang", "n2", "ks", "ws")
    val vecPred = substring(md5(concat_ws(":", col("doc_id").cast("string"),
      lit("dlt"))), 1, 1) < "4"
    def vocab(t: String) = s"${t}_vocab"
    val postings = DeltaFace("postings", "doc_id", base,
      thirds(delta, "doc_id"),
      TextOps.writeTextIndex(_, _, _), TextOps.appendTextIndexDelta(_, _, _),
      TextOps.mergeTextIndex(spark, _, _),
      // a rebuild over the batch alone: the same postings and stats
      (b, t) => {
        val ref = s"ref_$t"
        Staged.drop(spark, ref)
        TextOps.writeTextIndex(b, ref, freshDir("ref"))
        val snap = Staged.resolve(spark, ref)
        rows(snap.table(ref).select(postingCols.map(col): _*)) ++
          rows(snap.table(s"${ref}_stats").select(statsCols.map(col): _*))
      },
      (snap, seg) => rows(snap.table(seg).select(postingCols.map(col): _*)) ++
        rows(snap.table(s"${seg}_stats").select(statsCols.map(col): _*)),
      t => rows(TextOps.searchIndexDelta(spark, t, Terms)),
      t => rows(TextOps.searchIndex(spark, t, Terms)),
      Some((corpus, _) => rows(TextOps.bm25Search(corpus, Terms))),
      t => {
        val a = TextOps.textIndexDeltaAudit(spark, t).collect().head
        (a.getAs[Long]("n_docs_delta"), a.getAs[Long]("delta_share_milli"))
      })
    val docvec = DeltaFace("docvec", "doc_id", base, thirds(delta, "doc_id"),
      TextOps.writeDocVectorIndex(_, _, _),
      TextOps.appendDocVectorIndexDelta(_, _, _),
      TextOps.mergeDocVectorIndex(spark, _, _),
      (b, t) => rows(TextOps.vectorizeAgainstVocab(spark, b, vocab(t))
        .select(vectorCols.map(col): _*)),
      (snap, seg) => rows(snap.table(seg).select(vectorCols.map(col): _*)),
      t => rows(TextOps.docSimilarPersistedDelta(spark, docs, t, vocab(t),
        vecPred, tau = 0.5)),
      t => rows(TextOps.docSimilarPersisted(spark, docs, t, vocab(t),
        vecPred, tau = 0.5)),
      Some((corpus, t) => rows(TextOps.docSimilarPersistedOn(spark,
        TextOps.vectorizeAgainstVocab(spark, corpus, vocab(t)), docs,
        vocab(t), vecPred, tau = 0.5))),
      t => {
        val a = TextOps.docVectorDeltaAudit(spark, t, delta).collect().head
        (a.getAs[Long]("n_vecs_delta"), a.getAs[Long]("delta_share_milli"))
      })
    // exhaustive IVF probes (nprobe = nlist) from base queries, so the
    // brute reference over any corpus-to-date sees the same queries
    val qIds = embBase.orderBy(col("vec_id")).limit(5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val qPred = col("vec_id").isin(qIds: _*)
    val fenced = col("nrm") > 0.0 && col("nrm") < Double.PositiveInfinity
    def assigned(b: DataFrame, f: IvfFaces, t: String) =
      Knn.assignTo(b.filter(fenced), CentroidModel.of(f.coarse(t)))
    val stored: Map[String, (DataFrame, String) => DataFrame] = Map(
      "float" -> ((a, _) => a.select("vec_id", "v", "nrm", "c_id")),
      "int8" -> ((a, _) =>
        Knn.quantize(a).select("vec_id", "qv", "qnrm", "c_id")),
      "pq" -> ((a, t) => a.select("vec_id", "c_id").join(
        Knn.pqEncode(a, Staged.table(spark, s"${t}_codebook")), "vec_id")))
    val brute: Map[String, DataFrame => DataFrame] = Map(
      "float" -> (Knn.brute(_, qPred, k = 10)),
      "int8" -> (Knn.bruteQuantized(_, qPred, k = 10)))
    val ivf = ivfFaces.map { f =>
      DeltaFace(f.name, "vec_id", embBase, thirds(embDelta, "vec_id"),
        f.build, f.append, Knn.mergeIvfIndex(spark, _, _),
        (b, t) => {
          val want = stored(f.name)(assigned(b, f, t), t)
          rows(want.select(want.columns.sorted.map(col): _*))
        },
        (snap, seg) => {
          val got = snap.table(seg)
          rows(got.select(got.columns.sorted.map(col): _*))
        },
        t => rows(f.searchDelta(t, emb.filter(qPred), 8)),
        t => rows(f.search(t, emb.filter(qPred), 8)),
        brute.get(f.name).map(b =>
          (corpus: DataFrame, _: String) => rows(b(corpus))),
        t => {
          val a = Knn.ivfDeltaAudit(spark, t).collect().head
          (a.getAs[Long]("n_vecs_delta"), a.getAs[Long]("delta_share_milli"))
        })
    }
    Seq(postings, docvec) ++ ivf
  }

  test("delta segment contract, every family (postings, doc vectors, float, int8, PQ): one segment per append holding only its batch; probe ≡ frozen-model rebuild; crash, empty batch, merge and rebuild windows") {
    deltaFaces.foreach { f =>
      val tbl = s"dlt_seg_${f.name}"
      val path = freshDir(s"s${f.name}")
      dropAll(tbl)
      def snap = Staged.resolve(spark, tbl)
      def segs = snap.segments
      def tag(msg: String) = s"${f.name}: $msg"
      f.build(f.base, tbl, path)
      // an empty batch writes no segment and flips nothing
      val built = Staged.snapshot(spark, tbl).get
      f.append(f.batches.head.limit(0), tbl, path)
      assert(Staged.snapshot(spark, tbl).get.generation == built.generation,
        tag("an empty batch committed"))
      val physical = scala.collection.mutable.ArrayBuffer.empty[String]
      f.batches.zipWithIndex.foreach { case (b, i) =>
        val k = i + 1
        val corpus = f.batches.take(k).foldLeft(f.base)(_.unionByName(_))
        if (k == 2) {
          val jobs = JobCount.during(spark)(f.append(b, tbl, path))
          assert(jobs == SecondAppendJobs(f.name),
            tag(s"second append ran $jobs jobs"))
        } else if (k == 3) {
          // a crash before segment k's flip serves the k - 1 segments
          val before = snap.members
          val pre = f.probe(tbl)
          CrashBefore(spark, Staged.segment(tbl, k))(f.append(b, tbl, path))
          assert(snap.members == before, tag("a crashed append flipped"))
          assert(f.probe(tbl) == pre, tag("a crashed append served rows"))
          f.append(b, tbl, path) // the retry lands the batch once
        } else f.append(b, tbl, path)
        assert(segs.size == k, tag(s"after append $k: ${snap.members}"))
        assert(segs.take(k - 1).map(snap.members) == physical,
          tag(s"append $k rewrote an earlier segment"))
        physical += snap.members(segs.last)
        assert(f.segmentRows(snap, segs.last) == f.expect(b, tbl),
          tag(s"segment $k does not hold exactly batch $k"))
        f.reference.foreach { ref =>
          assert(f.probe(tbl) == ref(corpus, tbl),
            tag(s"probe over $k segments differs from the rebuild"))
        }
      }
      // fences name both clashes: a row of the base, a row of segment 1
      def indexed(d: DataFrame, member: String) = d.join(
        snap.table(member).select(f.key).limit(1), Seq(f.key), "left_semi")
      val e1 = intercept[IllegalArgumentException] {
        f.append(indexed(f.base, tbl), tbl, path)
      }
      assert(e1.getMessage.contains("already-indexed"), tag(e1.getMessage))
      val e2 = intercept[IllegalArgumentException] {
        f.append(indexed(f.batches.head, segs.head), tbl, path)
      }
      assert(e2.getMessage.contains("already in the live delta"),
        tag(e2.getMessage))
      assert(f.audit(tbl)._1 > 0L && f.audit(tbl)._2 > 0L,
        tag(f.audit(tbl).toString))
      // the merge folds every segment; a second merge is a no-op
      val pre = f.probe(tbl)
      f.merge(tbl, path)
      assert(segs.isEmpty, tag(s"merge left ${snap.members}"))
      assert(f.plain(tbl) == pre, tag("merge changed the probe"))
      val merged = snap.generation
      f.merge(tbl, path)
      assert(snap.generation == merged && f.plain(tbl) == pre,
        tag("merge is not idempotent"))
      // a rebuild stales every segment: none served, zero audit mass
      f.build(f.base, tbl, path)
      f.batches.take(2).foreach(f.append(_, tbl, path))
      assert(segs.size == 2, tag(snap.members.toString))
      f.build(f.batches.foldLeft(f.base)(_.unionByName(_)), tbl, path)
      assert(segs.isEmpty, tag(s"a rebuild kept ${snap.members}"))
      assert(f.probe(tbl) == f.plain(tbl),
        tag("a stale segment leaked into the probe after a rebuild"))
      assert(f.audit(tbl) == ((0L, 0L)), tag(f.audit(tbl).toString))
    }
  }

  test("live doc-vector delta ingest: micro-batched arrivals converge the probe to the frozen-vocab full vectorization") {
    val tbl = "dlt_vec_live"
    val path = freshDir("vl")
    dropAll(tbl)
    TextOps.writeDocVectorIndex(base, tbl, path)
    val dir = Files.createTempDirectory("graft_dvec_ingest").toString
    delta.repartition(3).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = graft.streaming.Streaming.runDeltaIngest(stream)(
      TextOps.appendDocVectorIndexDelta(_, tbl, path))
    q.processAllAvailable(); q.stop()
    val pred = substring(md5(concat_ws(":", col("doc_id").cast("string"),
      lit("dlt"))), 1, 1) < "4"
    val got = rows(TextOps.docSimilarPersistedDelta(spark, docs, tbl,
      s"${tbl}_vocab", pred, tau = 0.5))
    val reference = rows(TextOps.docSimilarPersistedOn(spark,
      TextOps.vectorizeAgainstVocab(spark, docs, s"${tbl}_vocab"),
      docs, s"${tbl}_vocab", pred, tau = 0.5))
    assert(got.nonEmpty && got == reference,
      "live-ingested vector delta differs from frozen-vocab full " +
        "vectorization")
    // the audit sees the converged masses
    val a = TextOps.docVectorDeltaAudit(spark, tbl, delta).collect().head
    assert(a.getAs[Long]("n_vecs_delta") > 0L &&
      a.getAs[Long]("delta_share_milli") > 0L, a.toString)
  }

  test("live IVF delta ingest: micro-batched vector arrivals converge the probe to brute at nprobe = nlist") {
    import graft.similarity.Knn
    val tbl = "dlt_ivf_live"
    val path = freshDir("il")
    dropAll(tbl)
    graft.sources.Staged.drop(spark, s"${tbl}_centroids")
    Knn.writeIvfIndex(embBase, tbl, path, nlist = 8,
      persistCentroids = true)
    // replay the RAW delta rows (vec_id, label, embedding) — the
    // ingest dual normalizes through the one embOf definition
    val rawDelta = spark.read
      .parquet(s"$SF/embeddings.parquet")
      .filter(substring(md5(concat_ws(":", col("vec_id").cast("string"),
        lit("ivfd"))), 1, 1) >= "c")
      .localCheckpoint(true)
    val dir = Files.createTempDirectory("graft_ivf_ingest").toString
    rawDelta.repartition(3).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(rawDelta.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = graft.streaming.Streaming.runDeltaIngest(stream)(b =>
      Knn.appendIvfIndexDelta(Knn.embOf(b), tbl, path,
        Staged.table(spark, s"${tbl}_centroids")))
    q.processAllAvailable(); q.stop()
    val centroids = graft.sources.Staged.table(spark,
      s"${tbl}_centroids")
    val qp = col("vec_id") < 5
    assert(rows(Knn.searchIvfIndexDelta(spark, tbl, centroids,
        emb.filter(qp), k = 10, nprobe = 8)) ==
      rows(Knn.brute(emb, qp, k = 10)),
      "live-ingested IVF delta differs from brute at nprobe = nlist")
  }

  test("IVF-PQ delta: frozen coarse+codebook append serves a planted delta duplicate; merge is row-transparent; a rebuild stales the delta; fences fire") {
    import graft.similarity.Knn
    val tbl = "dlt_pq_a"
    val path = freshDir("pa")
    dropAll(tbl)
    // plant a delta vector that duplicates a base vector byte-for-byte:
    // encoding is a pure function of (v, codebook), so the twin gets
    // the base row's exact codes and must serve among its neighbors
    val baseRow = embBase.orderBy(col("vec_id")).limit(1)
      .localCheckpoint(true)
    val baseId = baseRow.select("vec_id").head.getLong(0)
    val twin = baseRow.withColumn("vec_id", lit(999999L))
    val deltaP = embDelta.unionByName(twin).localCheckpoint(true)
    Knn.writeIvfPqIndex(embBase, tbl, path, nlist = 8)
    Knn.appendIvfPqIndexDelta(deltaP, tbl, path)
    val served = Knn.searchIvfPqDelta(spark, tbl,
        emb.filter(col("vec_id") === baseId), k = 5, nprobe = 8)
      .collect()
    assert(served.exists(_.getAs[Long]("neighbor_id") == 999999L),
      s"planted delta twin not served: ${served.mkString(";")}")
    // disjointness fences by name
    val e1 = intercept[IllegalArgumentException] {
      Knn.appendIvfPqIndexDelta(embBase.limit(1), tbl, path)
    }
    assert(e1.getMessage.contains("already-indexed"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Knn.appendIvfPqIndexDelta(twin, tbl, path)
    }
    assert(e2.getMessage.contains("already in the live delta"),
      e2.getMessage)
    // pruned-probe transparency across the merge (zero re-encode)
    val q = col("vec_id") < 5
    val pre = rows(Knn.searchIvfPqDelta(spark, tbl, emb.filter(q),
      k = 10, nprobe = 2))
    assert(pre.nonEmpty)
    Knn.mergeIvfIndex(spark, tbl, path)
    assert(!hasDelta(tbl))
    val coarse = graft.sources.Staged.table(spark, s"${tbl}_coarse")
    val codebook = graft.sources.Staged.table(spark,
      s"${tbl}_codebook")
    assert(rows(Knn.searchIvfPq(spark, tbl, coarse, codebook,
      emb.filter(q), k = 10, nprobe = 2)) == pre,
      "PQ merge changed the pruned probe result")
    assert(rows(Knn.searchIvfPqDelta(spark, tbl, emb.filter(q),
      k = 10, nprobe = 2)) == pre,
      "PQ delta face with no delta differs from the base face")
    // a full rebuild (fresh coarse + codebook) stales a live delta
    val twin2 = baseRow.withColumn("vec_id", lit(999998L))
    Knn.appendIvfPqIndexDelta(twin2, tbl, path)
    Knn.writeIvfPqIndex(emb, tbl, path, nlist = 8)
    val c2 = graft.sources.Staged.table(spark, s"${tbl}_coarse")
    val b2 = graft.sources.Staged.table(spark, s"${tbl}_codebook")
    assert(rows(Knn.searchIvfPqDelta(spark, tbl, emb.filter(q),
        k = 10, nprobe = 2)) ==
      rows(Knn.searchIvfPq(spark, tbl, c2, b2, emb.filter(q),
        k = 10, nprobe = 2)),
      "stale PQ delta leaked into the probe after a full rebuild")
  }

  test("doc-vector delta: disjointness fence fires; a full rebuild stales the delta") {
    val tbl = "dlt_vec_b"
    val path = freshDir("vb")
    dropAll(tbl)
    TextOps.writeDocVectorIndex(base, tbl, path)
    val e = intercept[IllegalArgumentException] {
      TextOps.appendDocVectorIndexDelta(base.limit(5), tbl, path)
    }
    assert(e.getMessage.contains("already-indexed"), e.getMessage)
    TextOps.appendDocVectorIndexDelta(delta, tbl, path)
    val pred = substring(md5(concat_ws(":", col("doc_id").cast("string"),
      lit("dlt"))), 1, 1) < "4"
    // full rebuild over everything → delta stale → probe must not
    // double-serve the delta docs the rebuild absorbed
    TextOps.writeDocVectorIndex(docs, tbl, path)
    val want = rows(TextOps.docSimilarPersisted(spark, docs, tbl,
      s"${tbl}_vocab", pred, tau = 0.5))
    assert(rows(TextOps.docSimilarPersistedDelta(spark, docs, tbl,
      s"${tbl}_vocab", pred, tau = 0.5)) == want,
      "stale delta leaked into the probe after a full rebuild")
  }
}
