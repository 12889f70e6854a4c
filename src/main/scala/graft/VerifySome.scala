package graft
import java.nio.file.{Files, Paths}

/** Dev tool: graft.Verify restricted to a comma-separated query subset —
  * fast oracle iteration on new operators without running the whole
  * registry. Same output layout as Verify, so
  * `SKIP_VERIFY=1 python3 tools/selfcheck.py <sfDir> <outDir>` compares
  * just the dumped queries (the oracle json is filtered to the subset). */
object VerifySome {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names) = args
    val wanted = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = wanted -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = LocalSession(cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach {
      case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.valuesIterator
          .foreach(_.unpersist(blocking = true))
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
