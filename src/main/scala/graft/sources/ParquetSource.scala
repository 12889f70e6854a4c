package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

/** The one parquet source reader: every batch read of a parquet path in
  * `graft` goes through [[read]].
  *
  * `spark.read.parquet` re-infers the schema on every call, and the
  * inference is a Spark job (a footer read) — ~70–100 ms on a 4-core
  * box, the largest piece of a small serving read's fixed cost, paid
  * again for a file that has not changed. [[read]] lists the path once
  * with Spark's own `InMemoryFileIndex` and keys a bounded JVM-wide
  * schema memo on that listing — every leaf file's (path, length,
  * mtime) — plus the session settings that change what inference
  * returns. A hit builds the relation exactly as
  * `DataFrameReader` → `DataSource.resolveRelation` does (same index,
  * partition schema, nullable data schema and file format), so it runs
  * no job and no second listing; the plan is the one
  * `spark.read.parquet` would give. A miss runs
  * `ParquetFileFormat.inferSchema` on the same listing, so it costs
  * what a plain read costs. A rewritten, appended or compacted path
  * lists differently and misses (Spark writers emit fresh file names; an
  * in-place rewrite changes length or mtime — the same evidence Spark's
  * own `FileStatusCache` trusts), so a stale schema is not served.
  *
  * Paths this shortcut does not model fall through to
  * `spark.read.parquet` and behave (and fail) exactly as before: a
  * missing path, an empty listing, a glob, and a streaming sink's
  * output (a `_spark_metadata` log decides its file set). */
object ParquetSource {

  /** Session settings that change the schema inference returns: how
    * nanos, binary and INT96 columns map, whether an unannotated
    * timestamp reads as NTZ, whether footers merge, which footer is
    * read, and whether duplicate names differ by case. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive")

  private val MaxEntries = 256

  /** Listing+settings fingerprint → inferred data schema (nullable),
    * least-recently-used entry evicted past [[MaxEntries]]. */
  private val schemas =
    new java.util.LinkedHashMap[String, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, StructType]): Boolean =
        size() > MaxEntries
    }

  def read(spark: SparkSession, path: String): DataFrame =
    resolve(spark, path).getOrElse(spark.read.parquet(path))

  /** The relation over one listing with the memoized (or freshly
    * inferred) schema; None where the plain read must decide. */
  private def resolve(spark: SparkSession, path: String): Option[DataFrame] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val status =
      try Some(fs.getFileStatus(root))
      catch { case _: java.io.FileNotFoundException => None }
    val modeled = status.exists(st =>
      !path.exists("{}[]*?\\".contains(_)) &&
        !(st.isDirectory && fs.exists(new Path(root, "_spark_metadata"))))
    if (!modeled) None
    else {
      val index = new InMemoryFileIndex(spark,
        Seq(root.makeQualified(fs.getUri, fs.getWorkingDirectory)),
        Map.empty, None, FileStatusCache.getOrCreate(spark))
      val files = index.allFiles()
      val key = Fingerprint.of(
        InferenceConfs.map(k => s"$k=${spark.conf.getOption(k).orNull}") ++
          files.map(f =>
            s"${f.getPath}|${f.getLen}|${f.getModificationTime}").sorted)
      val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
      // DataSource refuses duplicate column names with its own error:
      // leave those to the plain read, and never memoize them
      def admissible(s: StructType): Boolean =
        try {
          Bridge.checkColumnNames(s, caseSensitive)
          Bridge.checkColumnNames(index.partitionSchema, caseSensitive)
          true
        } catch { case _: AnalysisException => false }
      val cached = schemas.synchronized(Option(schemas.get(key)))
      val dataSchema = cached.orElse {
        if (files.isEmpty) None
        else new ParquetFileFormat().inferSchema(spark, Map.empty, files)
          .filter(admissible).map { inferred =>
            val s = inferred.toNullable
            schemas.synchronized(schemas.put(key, s))
            s
          }
      }
      dataSchema.map(s => spark.baseRelationToDataFrame(HadoopFsRelation(
        index, index.partitionSchema, s, None, new ParquetFileFormat(),
        Map.empty)(spark)))
    }
  }
}
