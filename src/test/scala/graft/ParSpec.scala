package graft

import graft.operators.Par

/** The Par scale contract (r20 verdict #1/#2): a spread may only fire
  * for a relation provably small enough to have ONE natural scan split,
  * so it can never narrow a multi-split stage on a real cluster — and
  * the decision must not depend on cluster size in the "is it tiny"
  * direction. */
class ParSpec extends SparkSpec {
  import spark.implicits._

  test("slotsFor: tiny is an ABSOLUTE bound, never cluster-relative") {
    // the r20 flaw scenario (ADVICE): p=512, 3 GB corpus with ~24
    // natural splits satisfied the old p×8MiB gate and got COALESCED
    // to 8 tasks — it must be a no-op now
    assert(Par.slotsFor(512, 3L << 30) === 0)
    // any bytes at/over the 64 MiB bound: no-op at every cluster size
    assert(Par.slotsFor(32, Par.TinyBytes) === 0)
    assert(Par.slotsFor(4096, Par.TinyBytes + 1) === 0)
    // genuinely tiny: spread, capped at 8, at every cluster size
    assert(Par.slotsFor(32, 10L << 20) === 8)
    assert(Par.slotsFor(4096, 10L << 20) === 8)
    assert(Par.slotsFor(8, 1L << 20) === 8)
    assert(Par.slotsFor(4, 1L << 20) === 4)
    // unknown size (checkpointed / in-memory lineage) and single-core
    // sessions: no-op
    assert(Par.slotsFor(32, -1L) === 0)
    assert(Par.slotsFor(1, 1L << 20) === 0)
    assert(Par.slotsFor(32, 0L) === 8) // empty relation is still tiny
  }

  test("tiny: an absolute bound on the listing's files and bytes") {
    assert(Par.tiny(1, 0L))
    assert(Par.tiny(Par.MaxFiles, Par.TinyBytes - 1))
    assert(!Par.tiny(Par.MaxFiles + 1, 1L))
    assert(!Par.tiny(1, Par.TinyBytes))
    assert(!Par.tiny(1, -1L))
  }

  test("entries over the tiny bound plans the pruned derivation, uncached") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.sources.EventLog
    val src = EventLog.source(spark, SF)
    val l = src.listing.get
    assert(Par.tiny(l.files, l.bytes)) // the test log itself is memoized
    Seq(l.copy(files = Par.MaxFiles + 1), l.copy(bytes = Par.TinyBytes))
      .foreach { big =>
        val p = EventLog.sequenced(src.copy(listing = Some(big)),
          Some("purchase"), Some("42")).queryExecution.sparkPlan
        val scans = p.collect { case s: FileSourceScanExec => s }
        assert(scans.length == 1, p)
        val pushed = scans.head.metadata("PushedFilters")
        assert(pushed.contains("EqualTo(event_type,purchase)"), pushed)
        assert(pushed.contains("EqualTo(user_id,42)"), pushed)
        assert(p.collect { case w: WindowExec => w }.nonEmpty, p)
        assert(p.collect { case s: InMemoryTableScanExec => s }.isEmpty, p)
      }
  }

  test("slots: no-op for relations in more files than MaxFiles") {
    // a many-file relation already has scan parallelism of its own and
    // an unbounded stat sweep is driver-side cost — slots must refuse
    // without statting the files
    val dir = java.nio.file.Files
      .createTempDirectory("par_manyfiles").toString
    spark.range(0, 2000).repartition(Par.MaxFiles + 10)
      .write.mode("overwrite").parquet(dir)
    val d = spark.read.parquet(dir)
    assert(d.inputFiles.length > Par.MaxFiles)
    assert(Par.slots(d) === 0)
  }

  test("slots: tiny file-backed relation spreads; in-memory does not") {
    val dir = java.nio.file.Files
      .createTempDirectory("par_tiny").toString
    spark.range(0, 100).coalesce(1).write.mode("overwrite").parquet(dir)
    val d = spark.read.parquet(dir)
    assert(Par.slots(d) === 4) // min(defaultParallelism=4, MaxSlots=8)
    // in-memory lineage: size unknown → treated as big → no-op
    assert(Par.slots(Seq(1, 2, 3).toDF("x")) === 0)
    assert(Par.slots(d.localCheckpoint(true)) === 0)
  }

  test("spread/spreadBy no-op at slots <= 1 and pin width otherwise") {
    val d = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Par.spread(d, 0).rdd.getNumPartitions ===
      d.rdd.getNumPartitions)
    assert(Par.spreadBy(d, 0, org.apache.spark.sql.functions.col("doc_id"))
      .rdd.getNumPartitions === d.rdd.getNumPartitions)
    assert(Par.spread(d, 8).rdd.getNumPartitions === 8)
    assert(Par.spreadBy(d, 8, org.apache.spark.sql.functions.col("doc_id"))
      .rdd.getNumPartitions === 8)
  }
}
