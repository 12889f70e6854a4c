package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.HyperplaneBucket

/** Occupancy-safe random-hyperplane LSH bucketing, shared by the ANN
  * search path (Knn.lsh) and the embedding near-dup path
  * (Dedup.embeddingPairsLsh).
  *
  * Why this module exists: a FIXED plane count is a scale bug. With p
  * planes there are only 2^p buckets TOTAL, so bucket occupancy grows
  * linearly with the corpus and the within-bucket self-join grows as
  * n²/2^p — at 100× the data that is 10,000× the candidate pairs, plus a
  * parallelism ceiling of 2^p reduce tasks. Three controls make the
  * construction linear-at-scale, mirroring what the text-side MinHash/
  * stop-gram paths already do:
  *
  *  1. '''Adaptive plane count''' ([[adaptivePlanes]]): planes ≈
  *     log₂(n / targetOccupancy), so expected bucket occupancy stays at
  *     the chosen target REGARDLESS of corpus size — at 10⁹ vectors with
  *     target 128 that is 23 planes / 8M buckets, not 64.
  *  2. '''Multiple hash tables''' (OR-construction, `tables` parameter):
  *     extra planes cost recall (a true near-pair must agree on every
  *     bit); L independent tables recover it (a pair is a candidate if it
  *     agrees in ANY table) — exactly how the MinHash bands trade
  *     within-band strictness against band count.
  *  3. '''Occupancy cap with one sub-split level''' ([[members]]): a
  *     bucket over `maxOccupancy` (dense region / skewed corpus) is
  *     re-split by `subPlanes` fresh hyperplanes; a sub-bucket STILL over
  *     the cap is dropped — a pathological mass of near-identical
  *     vectors, which exact dedup on the vector digest should absorb, not
  *     an all-pairs join. Drops are never silent: [[audit]] reports
  *     kept/dropped memberships and the realized max occupancy per table,
  *     and is registered as its own query (`lsh_bucket_audit`).
  */
object LshBuckets {

  /** JVM-lifetime cache of corpus sizes, keyed by a caller-chosen dataset
    * key (e.g. the parquet dir) PLUS an invalidation token derived from
    * the scan's resolved input files (their sorted names'
    * [[graft.sources.Fingerprint]] — a 32-bit hashCode collision would
    * silently serve another corpus's row count): if the
    * data at a path is rewritten within one long-lived JVM (testdata
    * regeneration under sbt shell, future service reuse), the parquet
    * writer emits fresh UUID-named part files, the token changes, and
    * the stale entry is simply never hit again. The adaptive-plane
    * derivation needs only the corpus cardinality; without this cache
    * every LSH query re-scans the corpus just to size its planes — at
    * 100 TB a full count per query is real money. A production pipeline
    * would pass a precomputed `n` from table metadata instead.
    *
    * A cached 0 is a real (empty-corpus) cardinality, not "unknown":
    * callers use the -1 sentinel for unknown, so 0 is served from cache
    * like any other value. */
  private val sizeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def corpusSize(e: DataFrame, key: String): Long = {
    val token = graft.sources.Fingerprint.of(e.inputFiles.sorted)
    sizeCache.computeIfAbsent(s"$key@$token", _ => Long.box(e.count()))
      .longValue()
  }

  /** Plane count that holds expected bucket occupancy at
    * `targetOccupancy` for a corpus of `n` vectors:
    * ceil(log₂(n / targetOccupancy)), clamped to [minPlanes, maxPlanes].
    * (63 - numberOfLeadingZeros) is floor(log₂); +1 unless exact power
    * of two gives the ceil. */
  def adaptivePlanes(n: Long, targetOccupancy: Long = 128L,
      minPlanes: Int = 4, maxPlanes: Int = 24): Int = {
    val ratio = math.max(n / math.max(targetOccupancy, 1L), 1L)
    val floorLog = 63 - java.lang.Long.numberOfLeadingZeros(ratio)
    val needed = if ((1L << floorLog) == ratio) floorLog else floorLog + 1
    math.min(maxPlanes, math.max(minPlanes, needed))
  }

  /** Raw (vec_id, tbl, bucket) memberships: one bucket per hash table,
    * each table using a disjoint plane range (table t = planes
    * [t·planes, (t+1)·planes)). The vector is read ONCE per row — the
    * per-table buckets are computed into an array of structs before the
    * explode, so only ids and bucket keys (never the vectors) flow into
    * the candidate shuffle. */
  private[similarity] def rawKeys(e: DataFrame, planes: Int,
      tables: Int): DataFrame =
    e.select(col("vec_id"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("tbl"),
            HyperplaneBucket(col("v"), planes, t * planes).as("bucket"))): _*))
          .as("m"))
      .select(col("vec_id"), col("m.tbl").as("tbl"),
        col("m.bucket").as("bucket"))

  /** Final capped memberships (vec_id, tbl, bucket, sub):
    *
    *  - buckets at or under `maxOccupancy` keep their rows with sub = 0;
    *  - over-cap buckets are re-bucketed by `subPlanes` fresh hyperplanes
    *    (plane range `tables·planes …`, shared across tables) into
    *    sub ∈ [1, 2^subPlanes] — offset by 1 so a sub-split bucket can
    *    never collide with a kept sub = 0 bucket;
    *  - sub-buckets still over the cap are dropped (see [[audit]]).
    *
    * Every downstream join keys on (tbl, bucket, sub), so the worst-case
    * per-task pair count is maxOccupancy²/2 by construction. */
  def members(e: DataFrame, planes: Int, tables: Int,
      maxOccupancy: Long, subPlanes: Int = 6): DataFrame = {
    // eager localCheckpoint: `keys` feeds three consumers (the occupancy
    // count, the kept slice, the over-cap slice) and the caller joins the
    // result against itself — materializing the slim (id, key) table once
    // beats re-running the bucketing kernel per consumer and keeps the
    // downstream plans flat (the dedupClusters lesson). At cluster scale
    // the same reuse holds with persist(MEMORY_AND_DISK): the table is
    // 3 longs × n × tables (~0.1% of a 100 TB corpus), sharded across
    // executors either way.
    val keys = rawKeys(e, planes, tables).localCheckpoint(true)
    val sizes = keys.groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("occ"))
    val small = sizes.filter(col("occ") <= maxOccupancy)
      .select("tbl", "bucket")
    val keep = keys.join(small, Seq("tbl", "bucket"), "left_semi")
      .withColumn("sub", lit(0L))
      .select("vec_id", "tbl", "bucket", "sub")
    // over-cap rows join back to their vectors (equijoin on vec_id, only
    // the dense slice) for one level of re-splitting
    val refined = keys.join(small, Seq("tbl", "bucket"), "left_anti")
      .join(e.select(col("vec_id"), col("v")), "vec_id")
      .withColumn("sub",
        HyperplaneBucket(col("v"), subPlanes, tables * planes) + lit(1L))
      .select("vec_id", "tbl", "bucket", "sub")
    val subSizes = refined.groupBy(col("tbl"), col("bucket"), col("sub"))
      .agg(count(lit(1)).as("occ"))
    val keep2 = refined.join(
      subSizes.filter(col("occ") <= maxOccupancy)
        .select("tbl", "bucket", "sub"),
      Seq("tbl", "bucket", "sub"), "left_semi")
      .select("vec_id", "tbl", "bucket", "sub")
    keep.union(keep2).localCheckpoint(true)
  }

  /** Drop accounting for [[members]] — per hash table: how many
    * memberships went in, how many survived the cap + sub-split, how many
    * were dropped, and the realized maximum final-bucket occupancy (which
    * the spec asserts stays ≤ maxOccupancy on a skewed corpus). */
  def audit(e: DataFrame, planes: Int, tables: Int,
      maxOccupancy: Long, subPlanes: Int = 6): DataFrame = {
    // the `total` leg deliberately re-runs rawKeys rather than sharing
    // [[members]]' internal checkpoint: the audit must count memberships
    // BEFORE the cap, and an audit is a diagnostic run — one extra
    // bucketing pass here beats widening members' return surface
    val total = rawKeys(e, planes, tables)
      .groupBy(col("tbl")).agg(count(lit(1)).as("n_memberships"))
    val finalOcc = members(e, planes, tables, maxOccupancy, subPlanes)
      .groupBy(col("tbl"), col("bucket"), col("sub"))
      .agg(count(lit(1)).as("occ"))
    val kept = finalOcc.groupBy(col("tbl"))
      .agg(
        sum(col("occ")).as("n_kept"),
        count(lit(1)).as("n_buckets"),
        max(col("occ")).as("max_occupancy"))
    total.join(kept, Seq("tbl"), "left")
      .select(col("tbl"),
        col("n_memberships"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_memberships") - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"),
        coalesce(col("n_buckets"), lit(0L)).as("n_buckets"),
        coalesce(col("max_occupancy"), lit(0L)).as("max_occupancy"))
  }
}
