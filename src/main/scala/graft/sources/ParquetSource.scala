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
  * partition schema, nullable data schema and file format; its options
  * hold only the [[GenerationOption]]), so it runs no job and no second
  * listing; the plan is the one `spark.read.parquet` would give. A miss runs
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

  /** Listing+settings fingerprint → inferred data schema (nullable). */
  private val schemas = Fingerprint.memo[StructType]()

  /** The relation option that carries the listing fingerprint. Spark's
    * cache matches a file relation by `HadoopFsRelation` equality, whose
    * `InMemoryFileIndex` compares root paths only, so two generations of
    * one path would compare equal and a plan cached over one would serve
    * a read of the other. The options take part in that equality (and
    * the parquet reader ignores a key it does not know), so with the
    * fingerprint among them a cached plan only serves its own
    * generation. */
  val GenerationOption = "graft.listing"

  /** One file generation of a path, as [[resolve]] listed it: the
    * qualified root, the listing fingerprint that keys the schema memo
    * (every leaf file's path, length and mtime, plus the inference
    * settings), and the listing's file count and total bytes. */
  final case class Listing(root: String, generation: String, files: Int,
      bytes: Long)

  /** A read and, when the listing shortcut resolved it, the listing it
    * was resolved from (None where the plain read decided). */
  final case class Resolved(df: DataFrame, listing: Option[Listing])

  def read(spark: SparkSession, path: String): DataFrame =
    resolve(spark, path).df

  /** [[read]] with its listing, so a caller can key per-generation state
    * on the fingerprint without listing the path a second time. */
  def resolve(spark: SparkSession, path: String): Resolved =
    resolveListed(spark, path).getOrElse(
      Resolved(spark.read.parquet(path), None))

  /** The relation over one listing with the memoized (or freshly
    * inferred) schema; None where the plain read must decide. */
  private def resolveListed(spark: SparkSession,
      path: String): Option[Resolved] = {
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
      val qualified = root.makeQualified(fs.getUri, fs.getWorkingDirectory)
      val index = new InMemoryFileIndex(spark, Seq(qualified),
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
      dataSchema.map(s => Resolved(
        spark.baseRelationToDataFrame(HadoopFsRelation(index,
          index.partitionSchema, s, None, new ParquetFileFormat(),
          Map(GenerationOption -> key))(spark)),
        Some(Listing(qualified.toString, key, files.length,
          files.map(_.getLen).sum))))
    }
  }
}
