package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Produce-side dual (`pkg/storage/interface.go:44`, Produce) and the
  * production storage layout from SURVEY §3/§5.
  *
  * Writes the canonical entry view partitioned by `space`, with files
  * sorted by (segment, sequence). Reading this layout back
  * ([[readProduced]]) needs NO window function to recover sequences —
  * ConsumeSegment over it is a partition-pruned scan (the space filter
  * prunes directories; segment/sequence predicates reach parquet
  * row-group stats because the sort clusters them). This is what makes
  * the log viable at 100 TB: sequence assignment happens once at produce
  * time, per segment, not per query.
  *
  * The sequence-contiguity contract (`pkg/eskit/store.go:79-104`,
  * ErrSequenceMismatch) is enforced by [[validateAppend]] before a batch
  * is committed. */
object EventLogWriter {

  /** Assign per-segment sequences to raw records (arrival order =
    * (ts_us, event_id), the same total order the serving reference
    * assigns at append time), offset by each segment's existing tail. */
  def assignSequences(records: DataFrame,
      tail: Option[DataFrame] = None): DataFrame = {
    val w = Window.partitionBy("space", "segment").orderBy("ts_us", "event_id")
    val seqd = records.withColumn("batch_seq", row_number().over(w).cast("long"))
    tail match {
      case None => seqd.withColumn("sequence", col("batch_seq"))
        .drop("batch_seq")
      case Some(t) =>
        // tail is per-segment state — fact-sized at 100 TB, so NO
        // broadcast hint: the join shuffles on (space, segment), the same
        // key the batch window already partitioned by; AQE may still pick
        // broadcast when the tail is small.
        seqd.join(t
            .select(col("space"), col("segment"),
              col("last_sequence").as("tail_seq")),
          Seq("space", "segment"), "left")
          .withColumn("sequence",
            col("batch_seq") + coalesce(col("tail_seq"), lit(0L)))
          .drop("batch_seq", "tail_seq")
    }
  }

  /** Produce contract check: every (space, segment) in the batch must
    * extend its existing tail contiguously from tail+1 with no gaps or
    * duplicates. Returns the violations (empty = batch admissible) —
    * the batch dual of ErrSequenceMismatch. */
  def validateAppend(batch: DataFrame, tail: DataFrame): DataFrame =
    batch.groupBy(col("space"), col("segment"))
      .agg(
        min(col("sequence")).as("first_new"),
        max(col("sequence")).as("last_new"),
        count(lit(1)).as("n_new"),
        countDistinct(col("sequence")).as("n_distinct"))
      .join(tail.select(col("space"), col("segment"),
        col("last_sequence").as("tail_seq")), Seq("space", "segment"), "left")
      .withColumn("expected_first", coalesce(col("tail_seq"), lit(0L)) + 1L)
      .filter(
        col("first_new") =!= col("expected_first") ||
          col("last_new") - col("first_new") + 1L =!= col("n_new") ||
          col("n_distinct") =!= col("n_new"))
      .select("space", "segment", "expected_first", "first_new", "last_new",
        "n_new", "n_distinct")

  /** Transaction stamping (`pkg/api/messages.go:249` TRX,
    * `internal/txn`): the producer writes each batch of `batchSize`
    * consecutive sequences per segment under ONE transaction id, carried
    * on every entry. The id is a pure function of
    * (space, segment, batch ordinal) — md5-based so it is deterministic,
    * re-derivable on any executor, and reproducible by the SQL oracle.
    * [[write]] persists it like any other column, so recovery audits run
    * on REAL stored ids, not re-derived chunks. */
  def assignTrx(entries: DataFrame, batchSize: Int): DataFrame =
    entries
      .withColumn("trx_number",
        graft.operators.StreamOps.trxNumber(batchSize))
      .withColumn("trx_id",
        md5(concat_ws(":", col("space"), col("segment"), col("trx_number"))))

  /** TRX recovery audit over persisted transaction ids — the batch dual
    * of `internal/txn` recovery: a transaction is broken if its entries
    * are non-contiguous (a gap inside its sequence span means a partial
    * write survived), and unsealed if it holds fewer than `batchSize`
    * entries (the open tail batch, or a torn one). One
    * map-side-combinable hash agg per (space, segment, trx_id). */
  def trxAudit(withTrx: DataFrame, batchSize: Int): DataFrame =
    withTrx.groupBy(col("space"), col("segment"), col("trx_id"))
      .agg(
        count(lit(1)).as("n_entries"),
        min(col("sequence")).as("first_sequence"),
        max(col("sequence")).as("last_sequence"),
        graft.sources.EventLog.sumValueExact.as("sum_value"))
      .withColumn("contiguous",
        col("last_sequence") - col("first_sequence") + 1 === col("n_entries"))
      .withColumn("sealed", col("n_entries") === batchSize)

  /** Write entries in the production layout. */
  def write(entries: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    entries
      .repartition(col("space"), col("segment"))
      .sortWithinPartitions("segment", "sequence")
      .write
      .partitionBy("space")
      .mode(mode)
      .parquet(path)

  /** Read the produced layout back as the canonical entry view —
    * sequences are materialized, no window derivation. Through
    * [[ParquetSource]]: a read-back after an append or a compaction
    * lists new files and infers afresh (what a plain read costs); a
    * repeat read of an unchanged layout reuses the schema and runs no
    * job before its action. */
  def readProduced(spark: SparkSession, path: String): DataFrame =
    ParquetSource.read(spark, path)
      .select("space", "segment", "sequence", "ts_us", "event_id", "value",
        "payload")

  /** Compact the small files of a produced-layout log — the OPTIMIZE
    * pass a long-lived 100 TB log needs: every micro-batch append lands
    * a file per (space-partition, task), and a year of appends turns
    * scans metadata-bound (file-open cost dwarfs row cost). Per space:
    * list the files (DRIVER-SIDE but metadata-sized — the same listing
    * any table service does; never row data), and when a space holds
    * more files than its bytes justify, rewrite it to
    * ceil(bytes/targetBytes) files with the layout contract intact
    * (hash-distributed by segment, files sorted by (segment, sequence),
    * so [[readProduced]] stays window-free and row-group pruning keeps
    * working). The swap is staged so NO state loses the partition: write
    * the rewrite to a hidden tmp dir, rename the live dir ASIDE, promote
    * tmp, then delete the aside copy — a crash at any point leaves
    * either the old dir live or both copies on disk, and [[compact]]
    * self-recovers leftovers on the next run (aside dir with no live
    * dir → restored; orphaned tmp/aside next to a live dir → swept).
    * The remaining window is one metadata rename, the best a
    * non-transactional FS offers (a real deployment puts a table
    * format's commit protocol under this; the rewrite job itself is
    * unchanged). Each rewritten space is read through [[ParquetSource]]
    * (its files are new since the last read, so it infers once, on the
    * listing the relation scans). Returns the per-space audit
    * (space, n_files_before, n_files_after, bytes) — compaction is a
    * maintenance job, and its report is the point. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): DataFrame = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val root = new Path(path)
    val fs = FileSystem.get(root.toUri, spark.sessionState.newHadoopConf())
    // crash recovery from a previous interrupted run: an aside dir whose
    // live dir is gone means the crash hit between rename-aside and
    // promote — restore it; anything else hidden is a sweepable orphan
    fs.listStatus(root).filter(_.isDirectory).foreach { d =>
      val name = d.getPath.getName
      if (name.startsWith(".compact_bak_space=")) {
        val live = new Path(root, name.stripPrefix(".compact_bak_"))
        if (!fs.exists(live)) fs.rename(d.getPath, live)
        else fs.delete(d.getPath, true)
      } else if (name.startsWith(".compact_tmp_space=")) {
        fs.delete(d.getPath, true)
      }
    }
    val audit = fs.listStatus(root).filter(_.isDirectory).toSeq
      .filter(_.getPath.getName.startsWith("space="))
      .map { dir =>
        val files = fs.listStatus(dir.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        val bytes = files.map(_.getLen).sum
        val target = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
        val space = dir.getPath.getName.stripPrefix("space=")
        val after =
          if (files.length <= target) files.length.toLong
          else {
            val tmp = new Path(root, s".compact_tmp_space=$space")
            val bak = new Path(root, s".compact_bak_space=$space")
            fs.delete(tmp, true)
            ParquetSource.read(spark, dir.getPath.toString)
              // a space larger than targetBytes * Int.MaxValue can't be
              // expressed as a partition count — clamp, don't overflow
              .repartition(math.min(target, Int.MaxValue.toLong).toInt,
                col("segment"))
              .sortWithinPartitions("segment", "sequence")
              .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
            fs.rename(dir.getPath, bak)
            fs.rename(tmp, dir.getPath)
            fs.delete(bak, true)
            fs.listStatus(dir.getPath)
              .count(f => f.isFile && !f.getPath.getName.startsWith("_"))
              .toLong
          }
        (space, files.length.toLong, after, bytes)
      }
    import spark.implicits._
    audit.toDF("space", "n_files_before", "n_files_after", "bytes")
  }

  /** Bucketed production layout (SURVEY §5): bucketed by `segment`,
    * sorted by (segment, sequence) inside each bucket. Bucketing makes
    * the file→key mapping part of the table metadata, so any
    * segment-keyed join or aggregation between co-bucketed tables (the
    * log ⨝ per-segment state: tails, eskit snapshots, status) runs with
    * NO Exchange on either side — at 100 TB that is the difference
    * between a metadata lookup and re-shuffling the whole log every
    * query. PlanSpec asserts the shuffle-free join. `path` makes the
    * table external so the catalog entry carries no data of its own. */
  def writeBucketed(entries: DataFrame, table: String, path: String,
      buckets: Int = 16, mode: SaveMode = SaveMode.Overwrite): Unit =
    entries
      .repartition(col("segment"))
      .write
      .option("path", path)
      .bucketBy(buckets, "segment")
      .sortBy("segment", "sequence")
      .mode(mode)
      .saveAsTable(table)
}
