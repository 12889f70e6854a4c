package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Job-level attribution for one registry query:
  * `runMain graft.Profile <query> [sfDir] [runs]`.
  *
  * For each run it prints every Spark job the query triggered (wall
  * time, stage/task counts, executor cpu/run time, shuffle bytes, the
  * first line of the call site) plus the DRIVER GAP — wall time not
  * covered by any job (planning, catalog work, analysis). The bench
  * measures make+exec wall; this tool says where inside that wall the
  * time goes, which the formatted plan alone cannot (guide §1.1/7.3:
  * decide compute vs scheduling vs driver before optimizing). Diagnostic
  * only — not part of the driver contract. */
object Profile {
  private final case class JobRec(id: Int, start: Long, var end: Long,
    var site: String, var stages: Int, var tasks: Int,
    var runMs: Long, var cpuMs: Long, var shuffleRead: Long,
    var shuffleWrite: Long)

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, site, 0, 0, 0L, 0L, 0L, 0L)
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val si = e.stageInfo
          stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
            if (j.site.isEmpty)
              j.site = si.name.take(60)
            j.stages += 1
            j.tasks += si.numTasks
            j.runMs += si.taskMetrics.executorRunTime
            j.cpuMs += si.taskMetrics.executorCpuTime / 1000000L
            j.shuffleRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // absorb session startup so run 1 isn't billed the codegen warmup
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fn = SparkEntry.queries(name)
    println(s"=== profile $name @ $sfDir (cpus=$cpus) ===")
    (1 to runs).foreach { i =>
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      val n = df.count()
      val t2 = System.nanoTime()
      Thread.sleep(500) // let the listener bus drain job-end events
      val snap = jobs.synchronized { jobs.values.toVector }
      val wallMs = (t2 - t0) / 1000000L
      val jobMs = snap.filter(_.end > 0).map(j => j.end - j.start).sum
      println(f"run $i: make=${(t1 - t0) / 1e9}%.2fs exec=${(t2 - t1) / 1e9}%.2fs rows=$n " +
        f"jobs=${snap.size} jobWall=${jobMs / 1e3}%.2fs driverGap=${(wallMs - jobMs) / 1e3}%.2fs")
      snap.sortBy(j => -(j.end - j.start)).take(25).foreach { j =>
        println(f"  job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.2fs stages=${j.stages}%2d " +
          f"tasks=${j.tasks}%4d taskRun=${j.runMs / 1e3}%7.2fs cpu=${j.cpuMs / 1e3}%7.2fs " +
          f"shR=${j.shuffleRead / 1024}%8dK shW=${j.shuffleWrite / 1024}%8dK  ${j.site}")
      }
    }
    spark.stop()
  }
}
