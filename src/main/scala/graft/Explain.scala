package graft

/** Plan/timing inspector: `runMain graft.Explain <query> [sfDir] [runs]`
  * prints the formatted physical plan and wall times (first run = cold,
  * rest = warm) for one SparkEntry query. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)
    // comma-separated names share one session (plan-capture batching)
    name.split(",").map(_.trim).filter(_.nonEmpty).foreach { q =>
      val fn = SparkEntry.queries(q)
      println(s"=== $q @ $sfDir ===")
      fn(spark, sfDir).explain("formatted")
      (1 to runs).foreach { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs ($n rows)")
      }
    }
    spark.stop()
  }
}
