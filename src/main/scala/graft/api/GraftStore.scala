package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.sources.EventLog
import graft.operators.{EventSourcing, StreamOps}

/** User-facing facade mirroring the reference client surface
  * (`pkg/client/client.go`): a store handle scoped to one event-log
  * directory, with space and segment handles underneath
  * (`docs/concepts.md` hierarchy: store → space → segment → entry).
  *
  * Every method returns a lazy DataFrame — the facade only composes
  * operators; Catalyst sees the whole plan and optimizes across the
  * facade boundary. */
class GraftStore(spark: SparkSession, dir: String) {
  /** Canonical entry view (space, segment, sequence, ts_us, value,
    * payload). */
  def entries: DataFrame = EventLog.entries(spark, dir)

  private[api] def named: DataFrame = EventLog.named(spark, dir)

  /** Pruned entry view: on a small log, the space's cached sequenced
    * view, filtered to the segment; otherwise raw-column predicates
    * reach the parquet scan and the sequence window only sees the
    * touched segments (see [[EventLog.entries]]). */
  private[api] def entriesFor(space: Option[String],
      segment: Option[String] = None): DataFrame =
    EventLog.entries(spark, dir, space, segment)

  /** GetSpaces. */
  def spaces: DataFrame = StreamOps.getSpaces(named)

  /** GetStatus. */
  def status: DataFrame = StreamOps.storeStatus(named)

  /** Consume across spaces from per-space offsets. */
  def consume(offsets: Map[String, (String, Long)],
      minTsUs: Option[Long] = None, maxTsUs: Option[Long] = None,
      limit: Option[Int] = None): DataFrame =
    StreamOps.consumeMulti(entries, offsets, minTsUs, maxTsUs, limit)

  /** Produce-contract audit across the store (ErrSequenceMismatch dual). */
  def validate: DataFrame = StreamOps.produceValidate(entries)

  /** TRX recovery audit over per-batch transaction ids
    * (`internal/txn` dual). */
  def trxAudit(batchSize: Int = 10): DataFrame =
    graft.sources.EventLogWriter.trxAudit(
      graft.sources.EventLogWriter.assignTrx(entries, batchSize), batchSize)

  /** Space-watermark late-arrival audit
    * (`server/space_watermarks.go` dual). */
  def watermarkAudit(toleranceUs: Long): DataFrame =
    StreamOps.watermarkAudit(named, toleranceUs)

  def space(name: String): GraftSpace = new GraftSpace(this, name)
}

object GraftStore {
  def apply(spark: SparkSession, dir: String): GraftStore =
    new GraftStore(spark, dir)

  /** Store over a produced layout (EventLogWriter.write output):
    * sequences are materialized, so no window derivation runs and
    * space/segment predicates prune partitions directly. */
  def fromProduced(spark: SparkSession, path: String): GraftStore =
    new GraftStore(spark, path) {
      override def entries: org.apache.spark.sql.DataFrame =
        graft.sources.EventLogWriter.readProduced(spark, path)
      override private[api] def entriesFor(space: Option[String],
          segment: Option[String]): org.apache.spark.sql.DataFrame = {
        import org.apache.spark.sql.functions.col
        var df = entries
        space.foreach(sp => df = df.filter(col("space") === sp))
        segment.foreach(sg => df = df.filter(col("segment") === sg))
        df
      }
      override private[api] def named: org.apache.spark.sql.DataFrame =
        entries
    }
}

/** Space handle: ConsumeSpace / GetSegments / subscriptions' batch dual. */
class GraftSpace(store: GraftStore, val name: String) {
  def segments: DataFrame = StreamOps.getSegments(store.named, name)

  def consume(minTsUs: Option[Long] = None, maxTsUs: Option[Long] = None,
      limit: Option[Int] = None): DataFrame =
    StreamOps.consumeSpace(store.entriesFor(Some(name)), name, minTsUs,
      maxTsUs, limit)

  def consumeFrom(anchorSegment: String, anchorSequence: Long,
      limit: Option[Int] = None): DataFrame =
    StreamOps.consumeSpaceFromOffset(store.entriesFor(Some(name)), name,
      anchorSegment, anchorSequence, limit)

  /** Latest entry of every segment (Peek fan-out). */
  def peekAll: DataFrame = StreamOps.peek(store.entriesFor(Some(name)), name)

  /** eskit: fold every aggregate in this space to its current state. */
  def replayState(afterSequence: Long = 0L): DataFrame =
    EventSourcing.replayState(store.entriesFor(Some(name)), name,
      afterSequence)

  def stateAsOf(tsUs: Long): DataFrame =
    EventSourcing.stateAsOf(store.entriesFor(Some(name)), name, tsUs)

  /** "What changed between t1 and t2" — one-pass conditional-agg diff
    * (see [[graft.operators.EventSourcing.stateDiff]]). */
  def stateDiff(t1Us: Long, t2Us: Long): DataFrame =
    EventSourcing.stateDiff(store.entriesFor(Some(name)), name, t1Us, t2Us)

  /** eskit snapshot at a sequence point (materialize with .write). */
  def snapshot(atSequence: Long): DataFrame =
    EventSourcing.snapshot(store.entriesFor(Some(name)), name, atSequence)

  /** Load-snapshot-then-incremental-replay (`eskit/store.go:33-46`). */
  def replayFrom(snapshot: DataFrame): DataFrame =
    EventSourcing.replayFromSnapshot(snapshot,
      store.entriesFor(Some(name)), name)

  /** Last k entries of every segment. */
  def tail(k: Int): DataFrame =
    StreamOps.consumeTail(store.entriesFor(Some(name)), name, k)

  def segment(id: String): GraftSegment = new GraftSegment(store, name, id)
}

/** Segment handle: ConsumeSegment / Peek. */
class GraftSegment(store: GraftStore, val space: String, val segment: String) {
  def consume(minSeq: Option[Long] = None, maxSeq: Option[Long] = None,
      minTsUs: Option[Long] = None, maxTsUs: Option[Long] = None,
      limit: Option[Int] = None): DataFrame =
    StreamOps.consumeSegment(store.entriesFor(Some(space), Some(segment)),
      space, segment, minSeq, maxSeq, minTsUs, maxTsUs, limit)

  def peek: DataFrame = {
    import org.apache.spark.sql.functions.col
    StreamOps.peek(store.entriesFor(Some(space), Some(segment)), space)
      .filter(col("segment") === segment)
  }
}
