package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive parallelism for CPU-dense stages over byte-tiny
  * inputs (optimization guide §2.5 input skew / §2.6 idle capacity).
  *
  * At the bench/test scale factors a whole table fits one scan split,
  * and AQE coalesces its byte-tiny shuffles to one partition — correct
  * by the bytes, but BYTES ARE THE WRONG PROXY for per-row work here:
  * the tokenize/explode, md5-anchor, candidate-pair-generation and
  * sparse-dot kernel stages do 10²–10⁴ of CPU work per input byte, so
  * the hot stage of a 32-core session runs on ONE core (measured r20:
  * doc_similar_prefix spent 4.66 s in a single-task pair-generation
  * stage and 2.35 s in a single-task tokenize stage while 31 cores sat
  * idle; boilerplate_audit 3.15 s single-task).
  *
  * [[slots]] decides ONCE per operator, from the SOURCE FILE BYTES of
  * the corpus relation, under an ABSOLUTE bound (r20 verdict #1: the
  * first cut gated on defaultParallelism × 8 MiB, which on a
  * 1000-executor cluster classifies a multi-hundred-split corpus as
  * "tiny" and would have COALESCED it to 8 tasks — a spread must never
  * reduce parallelism). Tiny now means: ≤ [[MaxFiles]] source files
  * AND total bytes < MaxSlots × 8 MiB — a corpus that small has at
  * most ONE natural 128 MB scan split, so an 8-way spread strictly
  * adds parallelism at every cluster size; anything bigger, or any
  * relation whose size is unknown (checkpointed/in-memory lineage),
  * makes every spread call a no-op and the plan is unchanged. The
  * byte stat short-circuits at the threshold (you only need
  * tiny-or-not), so the first query over a 10⁵-file relation pays a
  * handful of getFileStatus calls, never a full stat sweep (r20
  * verdict #2). The spread itself is an explicit repartition with a
  * pinned partition count — exactly what AQE's byte-based coalescing
  * respects (user-specified counts are not coalesced), and
  * [[spreadBy]] pins the JOIN/AGG key so the downstream join inherits
  * the partitioning instead of adding an exchange of its own.
  *
  * Scope rule: only exact-integer/digest pipelines may spread (token
  * counts, md5 grids, integer tf·idf weights, kernel dots) — their
  * results are order-free by the oracle doctrine. Float-summation
  * paths (money round(sum(double)), k-means/PQ training means) must
  * NEVER ride this: repartitioning changes their summation order, and
  * the rounded-boundary / trained-code drift that follows is exactly
  * the hazard class CLAUDE.md documents. */
object Par {
  private val BytesPerSlot = 8L << 20

  /** Spread width cap. MEASURED (r20): fanning a tiny stage out to all
    * 32 cores multiplies its TOTAL cpu ~7× — each thread runs only a
    * few hundred rows of the codegen'd stage, below the JIT compile
    * threshold, so every task stays in interpreted bytecode (a
    * single-task stage crosses the threshold early and runs the rest
    * compiled). A small fan-out keeps per-task row counts JIT-worthy
    * while still unsticking the one-core serialization. */
  private val MaxSlots = 8

  /** The absolute tiny bound: under MaxSlots × 8 MiB = 64 MiB a
    * parquet relation occupies at most one default 128 MB scan split
    * (even with open-cost packing a ≤[[MaxFiles]]-file listing stays
    * within a handful of splits), so a [[MaxSlots]]-wide spread can
    * never narrow a stage below its natural width. */
  private[graft] val TinyBytes: Long = MaxSlots.toLong * BytesPerSlot

  /** File-count gate: a relation in more files than this either is not
    * tiny or already has scan-split parallelism of its own, and an
    * unbounded per-file stat sweep is exactly the driver-side cost the
    * 100 TB posture forbids. */
  private[graft] val MaxFiles = 64

  private val fileBytes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Total bytes of the relation's source files, CAPPED at [[TinyBytes]]
    * (the decision is tiny-or-not — the sum short-circuits at the
    * threshold, bounding driver-side stat calls); -1 when unknown
    * (checkpointed or in-memory lineage) or when the file count alone
    * rules tiny out — both treated as "big", so spreads no-op.
    * Memoized per file list per JVM keyed on the sorted path list's
    * [[graft.sources.Fingerprint]] (a 32-bit hashCode collision would
    * silently reuse another relation's byte total; every committed
    * generation has its own path, so the key rolls with it). */
  private def inputBytes(df: DataFrame): Long = {
    val files = df.inputFiles
    if (files.isEmpty || !tiny(files.length, 0L)) -1L
    else {
      val token = graft.sources.Fingerprint.of(files.sorted)
      fileBytes.computeIfAbsent(token, _ => Long.box {
        val conf = df.sparkSession.sessionState.newHadoopConf()
        var sum = 0L
        val it = files.iterator
        while (it.hasNext && sum < TinyBytes) {
          val p = new Path(it.next())
          sum += p.getFileSystem(conf).getFileStatus(p).getLen
        }
        math.min(sum, TinyBytes)
      }).longValue()
    }
  }

  /** The spread width for an operator whose corpus relation is `src`:
    * min(parallelism, MaxSlots) when the source is provably tiny
    * (≤ MaxFiles files totalling < [[TinyBytes]] — at most one natural
    * scan split at any cluster size), else 0 (= every spread no-ops). */
  def slots(src: DataFrame): Int =
    slotsFor(src.sparkSession.sparkContext.defaultParallelism,
      inputBytes(src))

  /** The pure decision, factored out so the scale contract is
    * spec-testable without 64 MiB fixtures: tiny ⟺ 0 ≤ bytes <
    * [[TinyBytes]], independent of cluster size — a big cluster raises
    * parallelism but can never re-classify a multi-split corpus as
    * tiny (r20 verdict #1). */
  private[graft] def slotsFor(p: Int, bytes: Long): Int =
    if (p > 1 && tiny(0, bytes)) math.min(p, MaxSlots)
    else 0

  /** The absolute tiny bound over a listing, as a pure decision, and
    * the one definition of it: at most [[MaxFiles]] files totalling
    * under [[TinyBytes]], i.e. at most one natural scan split at any
    * cluster size. [[inputBytes]] applies its file count, [[slotsFor]]
    * its bytes, and it gates which raw logs
    * [[graft.sources.EventLog.entries]] may hold in memory. */
  private[graft] def tiny(files: Int, bytes: Long): Boolean =
    files <= MaxFiles && bytes >= 0L && bytes < TinyBytes

  /** Round-robin spread before a CPU-dense map/agg stage. */
  def spread(df: DataFrame, slots: Int): DataFrame =
    if (slots > 1) df.repartition(slots) else df

  /** Hash spread on the downstream join/agg key: the join reuses the
    * partitioning (no planner exchange on top), so the pair-generation
    * stage itself runs `slots`-wide. */
  def spreadBy(df: DataFrame, slots: Int, cols: Column*): DataFrame =
    if (slots > 1) df.repartition(slots, cols: _*) else df
}
