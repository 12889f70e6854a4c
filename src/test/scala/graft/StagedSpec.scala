package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Staged

/** The commit protocol of the persisted artifacts
  * ([[graft.sources.Staged]]): every member of a generation is written
  * as `<member>__g<N>`, ONE pointer flip publishes the whole artifact,
  * and the generations the pointer no longer names are swept. A crash
  * after some members are written but before the flip leaves the old
  * generation serving and answering; the next commit sweeps the
  * orphans. One crash row per persisted-artifact family, every
  * multi-table family included. */
class StagedSpec extends SparkSpec {

  private lazy val docs =
    graft.text.TextOps.docs(spark, SF).limit(40).localCheckpoint(true)
  private lazy val emb =
    graft.similarity.Knn.emb(spark, SF).localCheckpoint(true)

  private def location(tbl: String): String =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .location.getPath

  /** Order-free content digest of a frame: count + XOR of row hashes
    * (xor, not sum — an ANSI long sum of 2⁶³-range hashes overflows). */
  private def checksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val cols = df.columns.map(c => s"`$c`").mkString(", ")
    val r = df.agg(count(lit(1)),
      expr(s"bit_xor(xxhash64($cols))")).collect().head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Every member of the artifact, read through its pointer. */
  private def served(tbl: String): Map[String, (Long, Long)] = {
    val snap = Staged.resolve(spark, tbl)
    snap.members.keys.map(m => m -> checksum(snap.table(m))).toMap
  }

  /** The generation-named tables of `tbl` in the catalog. */
  private def generations(tbl: String): Set[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith(tbl) && n.contains("__g")).toSet

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft_staged_$tag").toString + "/idx"

  test("staged commit alternates generations, sweeps the old one, leaves no stage table") {
    val tbl = "staged_alt_t"
    val path = freshDir("alt")
    Staged.drop(spark, tbl)
    graft.text.Chunks.writeChunkIndex(docs, tbl, path)
    val g1 = Staged.snapshot(spark, tbl).get
    val loc1 = location(g1.members(tbl))
    assert(loc1 == s"${path}__g${g1.generation}", loc1)
    val want = checksum(spark.table(tbl))
    // a directory a crash left before its catalog entry: swept too
    val orphanDir = new java.io.File(s"${path}__g1")
    assert(orphanDir.mkdirs())
    graft.text.Chunks.writeChunkIndex(docs, tbl, path)
    val g2 = Staged.snapshot(spark, tbl).get
    assert(g2.generation > g1.generation)
    // the displaced generation is gone from the catalog and the disk
    assert(generations(tbl) == g2.members.values.toSet)
    assert(!new java.io.File(loc1).exists(), loc1)
    assert(!orphanDir.exists())
    // the pointer is a view over the main member: identical content by
    // name, by resolution and by SQL
    assert(checksum(spark.table(tbl)) == want)
    assert(checksum(Staged.table(spark, tbl)) == want)
    assert(checksum(spark.sql(s"SELECT * FROM $tbl")) == want)
    val loc2 = location(g2.members(tbl))
    Staged.drop(spark, tbl)
    assert(!spark.catalog.tableExists(tbl) && generations(tbl).isEmpty)
    assert(!new java.io.File(loc2).exists(), loc2)
  }

  // one row per persisted-artifact family: (name, build, the member
  // whose write the crash precedes — the LAST member each build writes)
  private val families: Seq[(String, (String, String) => Unit, String)] =
    Seq(
      ("anchor", (t, p) => graft.dedup.Dedup.writeAnchorIndex(docs, t, p), ""),
      ("chunk", (t, p) => graft.text.Chunks.writeChunkIndex(docs, t, p), ""),
      ("boilerplate", (t, p) =>
        graft.text.Boilerplate.writeBoilerplateIndex(docs, t, p), ""),
      ("int8", (t, p) => {
        graft.similarity.Knn.writeIvfIndexQuantized(emb, t, p, nlist = 4,
          buckets = 2); ()
      }, ""),
      // multi-table families: the crash lands after the side members
      ("text", (t, p) => graft.text.TextOps.writeTextIndex(docs, t, p), ""),
      ("bpe", (t, p) =>
        graft.text.TextOps.writeBpeModel(docs, t, p, numMerges = 5), ""),
      ("docvec", (t, p) =>
        graft.text.TextOps.writeDocVectorIndex(docs, t, p), ""),
      ("ivf", (t, p) => {
        graft.similarity.Knn.writeIvfIndex(emb, t, p, nlist = 4,
          buckets = 2, persistCentroids = true); ()
      }, ""),
      ("pq", (t, p) => {
        graft.similarity.Knn.writeIvfPqIndex(emb, t, p, nlist = 4,
          buckets = 2); ()
      }, "_codebook"))

  test("a crash before the flip leaves the old generation serving; the next commit sweeps the orphans, per family") {
    families.foreach { case (name, build, crashAt) =>
      val tbl = s"staged_cr_$name"
      val path = freshDir(name)
      Staged.drop(spark, tbl)
      build(tbl, path)
      val before = Staged.snapshot(spark, tbl).get
      val want = served(tbl)
      assert(want.size == before.members.size)
      // crash the rebuild right before its last member write (the main
      // member, or the PQ codebook after the coarse model)
      CrashBefore(spark, tbl + crashAt)(build(tbl, path))
      val orphans = generations(tbl) -- before.members.values
      if (before.members.size > 1)
        assert(orphans.nonEmpty, s"$name: no member written before the crash")
      // the old generation still serves, every member, same content
      val after = Staged.snapshot(spark, tbl).get
      assert(after.generation == before.generation &&
        after.members == before.members, s"$name: pointer moved")
      assert(served(tbl) == want, s"$name: content changed by the crash")
      // the next commit publishes a new generation and sweeps the orphans
      build(tbl, path)
      val next = Staged.snapshot(spark, tbl).get
      assert(next.generation > before.generation, name)
      assert(generations(tbl) == next.members.values.toSet,
        s"$name: orphans survived the next commit")
      orphans.foreach(o => assert(!spark.catalog.tableExists(o), o))
      assert(next.members.keySet == before.members.keySet, name)
    }
  }

  test("the first probe read after a crashed rebuild serves the old index") {
    val tbl = "staged_first_read_t"
    val path = freshDir("firstread")
    Staged.drop(spark, tbl)
    graft.text.Chunks.writeChunkIndex(docs, tbl, path)
    val shard = docs.limit(10)
    def probe() = graft.text.Chunks.chunkDedupIncremental(spark, tbl, shard)
      .collect().map(_.toSeq).toSet
    val want = probe()
    val wantRows = checksum(spark.table(tbl))
    // the crashed rebuild is over other docs, so serving any of its
    // output would change the answer
    CrashBefore(spark, tbl)(
      graft.text.Chunks.writeChunkIndex(docs.limit(3), tbl, path))
    // no recovery call: the very first read after the crash answers
    // from the old generation, by probe, by name and by resolution
    assert(probe() == want)
    assert(checksum(spark.table(tbl)) == wantRows)
    assert(checksum(Staged.table(spark, tbl)) == wantRows)
  }

  test("an abandoned stage next to a live index is inert and overwritten by the next rebuild") {
    val tbl = "staged_orphan_t"
    val path = freshDir("orphan")
    Staged.drop(spark, tbl)
    graft.text.Chunks.writeChunkIndex(docs, tbl, path)
    val want = checksum(spark.table(tbl))
    // plant an abandoned generation (what a crash after a member write
    // leaves): any external table under a generation name of the member
    val orphan = s"${tbl}__g99999999999999"
    docs.limit(3).write.option("path", s"${path}__g99999999999999")
      .mode("overwrite").saveAsTable(orphan)
    // the pointer is authoritative: the orphan is never served
    assert(checksum(spark.table(tbl)) == want)
    assert(checksum(Staged.table(spark, tbl)) == want)
    // the next rebuild publishes past it and sweeps it
    graft.text.Chunks.writeChunkIndex(docs, tbl, path)
    assert(!spark.catalog.tableExists(orphan))
    assert(Staged.snapshot(spark, tbl).get.generation > 99999999999999L)
    assert(checksum(spark.table(tbl)) == want)
  }

  test("members resolve by name through the artifact pointer; a longer artifact name keeps its own") {
    val tbl = "staged_res"
    val path = freshDir("res")
    Seq(tbl, s"${tbl}_post").foreach(Staged.drop(spark, _))
    graft.text.TextOps.writeDocVectorIndex(docs, tbl, path)
    graft.text.TextOps.writeTextIndex(docs, s"${tbl}_post", s"${path}_post")
    val snap = Staged.resolve(spark, s"${tbl}_vocab")
    assert(snap.artifact == tbl)
    assert(Staged.resolve(spark, s"${tbl}_post_stats").artifact ==
      s"${tbl}_post")
    assert(checksum(Staged.table(spark, s"${tbl}_vocab")) ==
      checksum(snap.table(s"${tbl}_vocab")))
    // rebuilding one artifact leaves the other's generations alone
    val post = Staged.snapshot(spark, s"${tbl}_post").get
    graft.text.TextOps.writeDocVectorIndex(docs, tbl, path)
    assert(post.members.values.forall(spark.catalog.tableExists))
    // dropping a member name never drops a table another pointer serves
    Staged.drop(spark, s"${tbl}_vocab")
    assert(Staged.snapshot(spark, tbl).get.members.values
      .forall(spark.catalog.tableExists))
    Staged.drop(spark, tbl)
    assert(post.members.values.forall(spark.catalog.tableExists))
  }

  test("probe semantics and the bucketed layout survive the pointer flip") {
    val tbl = "staged_probe_t"
    val path = freshDir("probe")
    Staged.drop(spark, tbl)
    graft.dedup.Dedup.writeAnchorIndex(docs, tbl, path)
    val shard = docs.limit(10)
    def probe() =
      graft.dedup.Dedup.incrementalSubstringPairs(spark, tbl, shard)
    val want = probe().collect().map(_.toSeq).toSet
    assert(want.nonEmpty, "probe found no pairs on the index's own docs")
    // a crashed rebuild, then a good one: the probe reads the SAME
    // bucketed index both times
    CrashBefore(spark, tbl)(graft.dedup.Dedup.writeAnchorIndex(docs, tbl, path))
    assert(probe().collect().map(_.toSeq).toSet == want)
    graft.dedup.Dedup.writeAnchorIndex(docs, tbl, path)
    val after = probe()
    assert(after.collect().map(_.toSeq).toSet == want)
    // the index side scans pre-partitioned buckets (the
    // dedup_incremental plan fence)
    val p = after.queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"), p)
  }
}
