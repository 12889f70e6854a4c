package graft

import org.apache.spark.sql.SparkSession

/** Jobs started while a block runs, seen by a SparkListener. Listener
  * events arrive asynchronously but in order, so a tagged sentinel job
  * before and after the block brackets exactly its jobs. */
object JobCount {
  def during(spark: SparkSession)(body: => Unit): Int = {
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def sentinel(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      sentinel("jobCount:start")
      body
      sentinel("jobCount:end")
      val order = Iterator.continually(seen.poll(30, TimeUnit.SECONDS))
        .map(d => if (d == null) sys.error("listener bus never delivered") else d)
        .takeWhile(_ != "jobCount:end").toList
      order.length - order.indexOf("jobCount:start") - 1
    } finally sc.removeSparkListener(listener)
  }
}
