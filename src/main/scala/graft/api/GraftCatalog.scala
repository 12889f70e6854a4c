package graft.api

import org.apache.spark.sql.SparkSession
import graft.sources.{EventLog, ParquetSource}

/** Registers the canonical views as temp views so the whole engine
  * surface is reachable from `spark.sql` (pairs with GraftExtensions,
  * which registers the native kernels as SQL functions). */
object GraftCatalog {
  def registerViews(spark: SparkSession, dir: String): Unit = {
    EventLog.entries(spark, dir).createOrReplaceTempView("entries")
    EventLog.named(spark, dir).createOrReplaceTempView("entry_log")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      ParquetSource.read(spark, s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
  }
}
