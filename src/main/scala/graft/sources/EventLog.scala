package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType}
import org.apache.spark.storage.StorageLevel

/** Canonical event-log adapter: maps the driver's `events` table onto the
  * streamkit data model (store → space → segment → sequenced entries), cf.
  * reference `pkg/api/messages.go:94-128` (Record/Entry) and
  * `docs/concepts.md` (hierarchy).
  *
  * Mapping: space = event_type, segment = user_id (as string),
  * timestamp = ts, payload = props, sequence = per-segment row_number
  * ordered by (ts, event_id) — deterministic because event_id is unique.
  *
  * Scale note (100 TB): in a production layout the log is written
  * partitioned by `space` and bucketed+sorted by (`segment`, `sequence`),
  * so sequence is materialized at produce time and ConsumeSegment is a
  * partition-pruned, shuffle-free scan. A raw log carries no sequence, so
  * [[entries]] derives it with a window. The derivation depends only on
  * the file generation, so for a small raw log (within `Par.tiny`) the
  * sequenced view is derived once per generation and held in Spark's
  * cache ([[entries]] has the rules); a big raw log takes the pruned
  * derivation ([[derive]]) on every read. Every operator downstream
  * consumes the canonical view and is agnostic to which layout, or
  * which path, produced it.
  */
object EventLog {

  /** Raw events table (no derivation) — use when an operator only needs
    * raw aggregates (status/listing ops) so Catalyst can prune columns
    * and skip the sequence-derivation shuffle entirely.
    *
    * The driver's `ts` has shipped as both parquet TIMESTAMP(NANOS)
    * (rounds ≤ 12) and TIMESTAMP(MICROS) (r13 regeneration). With
    * `nanosAsLong` set, the nanos form surfaces as LongType (Spark 4
    * refuses to map nanos to its µs TimestampType); the micros form
    * surfaces as TIMESTAMP_NTZ. [[tsUs]] normalizes either to epoch
    * micros, so every downstream operator is agnostic to which
    * generation wrote the file.
    *
    * Every serving read starts here, so the file is read through
    * [[ParquetSource]]: the schema is inferred once per file generation
    * (listing + `nanosAsLong`), not once per read — a rewrite of either
    * `ts` generation in place lists differently and re-infers. */
  def raw(spark: SparkSession, dir: String): DataFrame = source(spark, dir).df

  /** [[raw]] with the listing it was resolved from. */
  private[graft] def source(spark: SparkSession,
      dir: String): ParquetSource.Resolved = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ParquetSource.resolve(spark, s"$dir/events.parquet")
  }

  /** Epoch-micros expression for whichever physical `ts` the parquet
    * carries. Nanos-as-long: `ts div 1000` truncates real sub-µs digits
    * — intentional, DuckDB reads TIMESTAMP_NS parquet µs-truncated too,
    * so both engines see identical ts_us. Micros: the NTZ wall-clock is
    * cast to the session-tz instant — every graft session pins
    * `spark.sql.session.timeZone=UTC`, so `unix_micros` yields the same
    * integer DuckDB's `epoch_us(ts)` computes on the naive timestamp.
    * Ordering ties at µs granularity are broken by the unique event_id
    * on both sides. */
  private[graft] def tsUs(tsType: DataType): Column = tsType match {
    case LongType           => expr("ts div 1000")
    case _: TimestampNTZType => unix_micros(col("ts").cast("timestamp"))
    case _                  => unix_micros(col("ts"))
  }

  /** Raw projected to canonical names, WITHOUT sequence derivation. */
  def named(spark: SparkSession, dir: String): DataFrame = {
    val r = raw(spark, dir)
    r.select(
      col("event_type").as("space"),
      col("user_id").cast("string").as("segment"),
      tsUs(r.schema("ts").dataType).as("ts_us"),
      col("event_id"),
      col("value"),
      col("props").as("payload"))
  }

  /** Canonical entry view: named + per-segment `sequence` (1-based).
    *
    * A small raw log (a listing within `Par.tiny`: at most `MaxFiles`
    * files under `TinyBytes`) is served from a sequenced view held in
    * Spark's cache at `MEMORY_ONLY`, one per file generation: a
    * space-pruned read uses that space's view, an unpruned read the
    * whole log's, and a segment read filters its space's view. The first
    * read of a view runs [[derive]] and encodes the result; later reads
    * scan the cached columns, with no file scan, shuffle or window. An
    * evicted block is recomputed from the same plan.
    *
    * The generation is the listing fingerprint [[ParquetSource.resolve]]
    * already computed, and the relation carries it
    * (`ParquetSource.GenerationOption`), so a view cached over one
    * generation can only serve reads of that generation. Every listed
    * read, over the bound or not, first unpersists the views cached
    * from another generation of its path; at most 256 views are held
    * (`Fingerprint.memo`), the least recently used unpersisted first.
    *
    * Any other log (over the bound, or resolved by the plain read) takes
    * [[derive]] on every read. */
  def entries(spark: SparkSession, dir: String,
      space: Option[String] = None,
      segment: Option[String] = None): DataFrame =
    sequenced(source(spark, dir), space, segment)

  /** [[entries]] over an already resolved raw log. */
  private[graft] def sequenced(src: ParquetSource.Resolved,
      space: Option[String], segment: Option[String]): DataFrame =
    src.listing.flatMap(cachedView(_, src.df, space)) match {
      case Some(view) =>
        segment.fold(view)(sg => view.filter(col("segment") === sg))
      case None => derive(src.df, space, segment)
    }

  /** The sequence derivation over a raw log.
    *
    * `space`/`segment` prefilters are applied on the RAW columns before
    * the rename, because a predicate on `cast(user_id as string)` cannot
    * reach the parquet scan — on the raw columns both prune row groups
    * AND shrink the sequence-derivation window to just the touched
    * segments. The string→long translation is adapter knowledge (the
    * canonical mapping defines segment = string form of user_id). */
  private[graft] def derive(raw: DataFrame, space: Option[String],
      segment: Option[String]): DataFrame = {
    var r = raw
    space.foreach(sp => r = r.filter(col("event_type") === sp))
    segment.foreach { sg =>
      r = segmentAsLong(sg).map(id => r.filter(col("user_id") === id))
        .getOrElse(r.filter(col("user_id").cast("string") === sg))
    }
    val w = Window.partitionBy("space", "segment").orderBy("ts_us", "event_id")
    r.select(
        col("event_type").as("space"),
        col("user_id").cast("string").as("segment"),
        tsUs(r.schema("ts").dataType).as("ts_us"),
        col("event_id"),
        col("value"),
        col("props").as("payload"))
      .withColumn("sequence", row_number().over(w).cast("long"))
  }

  /** A sequenced view held in Spark's cache, with the path and
    * generation it was derived from. */
  private final case class View(root: String, generation: String,
      df: DataFrame)

  /** (generation, space) → its cached view. */
  private val views = Fingerprint.memo[View](unpersist)

  private def unpersist(v: View): Unit =
    if (!v.df.sparkSession.sparkContext.isStopped) v.df.unpersist()

  /** The cached view of `space` (or of the whole log) at `l`'s
    * generation, registered if need be; None over the tiny bound. The
    * views of `l`'s path from any other generation are unpersisted
    * first. One lock covers the table and the cache registration. */
  private def cachedView(l: ParquetSource.Listing, raw: DataFrame,
      space: Option[String]): Option[DataFrame] = views.synchronized {
    val it = views.values.iterator
    while (it.hasNext) {
      val v = it.next()
      if (v.root == l.root && v.generation != l.generation) {
        it.remove()
        unpersist(v)
      }
    }
    if (!graft.operators.Par.tiny(l.files, l.bytes)) None
    else {
      val view = derive(raw, space, None)
      if (view.storageLevel == StorageLevel.NONE)
        view.persist(StorageLevel.MEMORY_ONLY)
      views.put(Fingerprint.of(l.generation +: space.toSeq),
        View(l.root, l.generation, view))
      Some(view)
    }
  }

  private def segmentAsLong(sg: String): Option[Long] =
    try Some(sg.toLong) catch { case _: NumberFormatException => None }

  // ── Exact integer money units for `value` (r15 verdict #2) ──────────
  //
  // `value` is money: an exact centile (the generator writes cents/100
  // doubles). round(sum(double)) is order-DEPENDENT at the rounding
  // boundary — IEEE addition commutes but does not associate, so
  // partitioning changes the rounded cent; the TPC-H family drew
  // exactly that one-cent divergence at the 2×-inflated scale (r20,
  // commit 7601133) and the es/window/stream money sums carried the
  // same documented hazard. The recipe, applied family-wide here:
  // lossless per-row cents, order-independent DECIMAL(38,0) sums (a
  // space-wide balance can span ~10¹² rows × ~10⁵ cents at the 100 TB
  // design point — within BIGINT, but exactness must not hinge on it),
  // ONE double division per display. No float round() anywhere — the
  // display `cents/100.0` is the identical IEEE division in any engine.

  /** Lossless per-row cents, FENCED (momentGuard posture): the
    * conversion is exact only for centile doubles, so a value whose
    * cents don't reconstruct it bit-exactly (sub-cent precision, NaN,
    * ±Inf — NaN/±Inf floor to garbage longs silently) raises a named
    * in-plan error instead of shipping a silently lossy sum. The fence
    * folds into the returned value so pruning can never drop it. */
  def valueCents: Column = {
    val c = floor(col("value") * lit(100.0) + lit(0.5))
    val fence = assert_true(c.cast("double") / lit(100.0) === col("value"),
      concat(lit("event value "), col("value").cast("string"),
        lit(" is not an exact centile — the exact-integer money " +
          "conversion would be lossy")))
    (c + coalesce(fence.cast("long"), lit(0L))).cast("decimal(38,0)")
  }

  /** Display form of a cents aggregate: one exact-integer→double cast +
    * one IEEE division — engine-identical, order-independent. */
  def centsAsValue(cents: Column): Column = cents.cast("double") / lit(100.0)

  /** `round(sum(value), 2)` replacement: exact cents summed in
    * DECIMAL(38,0), displayed once. */
  def sumValueExact: Column = centsAsValue(sum(valueCents))

  /** DuckDB duals (oracle SQL embeds these verbatim — one definition). */
  val CentsSql: String = "CAST(floor(value * 100 + 0.5) AS HUGEINT)"
  val SumValueSql: String = s"CAST(sum($CentsSql) AS DOUBLE) / 100.0"

  /** DuckDB oracle dual of [[entries]]; prepend to oracle SQL. */
  val CTE: String =
    """WITH entries AS (
      |  SELECT event_type AS space,
      |         CAST(user_id AS VARCHAR) AS segment,
      |         ts,
      |         epoch_us(ts) AS ts_us,
      |         event_id,
      |         value,
      |         props AS payload,
      |         CAST(row_number() OVER (PARTITION BY event_type, user_id
      |                                 ORDER BY ts, event_id) AS BIGINT) AS sequence
      |  FROM events
      |)""".stripMargin
}
