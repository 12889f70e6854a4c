package graft

import org.apache.spark.sql.SparkSession

/** Counts the SQL executions that scan given catalog tables while a block
  * runs. Listener events arrive asynchronously but in order, so a tagged
  * sentinel job before and after the block brackets exactly its
  * executions (the [[JobCount]] posture). */
object TableScans {
  def during(spark: SparkSession, tables: String*)(body: => Unit): Seq[Int] = {
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("tableScans:")).foreach(seen.add)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          seen.add("sql:" + s.physicalPlanDescription)
        case _ =>
      }
    }
    def sentinel(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      sentinel("tableScans:start")
      body
      sentinel("tableScans:end")
      val plans = Iterator.continually(seen.poll(30, TimeUnit.SECONDS))
        .map(d => if (d == null) sys.error("listener bus never delivered") else d)
        .takeWhile(_ != "tableScans:end").toList
        .dropWhile(_ != "tableScans:start").drop(1)
      tables.map { t =>
        val scan = ("default\\." + java.util.regex.Pattern.quote(t) +
          "(__g\\d+)?\\b").r
        plans.count(p => scan.findFirstIn(p).isDefined)
      }
    } finally sc.removeSparkListener(listener)
  }
}
