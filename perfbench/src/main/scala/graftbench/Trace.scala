package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.{CreateTableEvent, DropTableEvent, RenameTableEvent}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbench.Internals
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, recorded by the benchmark's own code
  * around the library call (nothing inside the library is instrumented). */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` is a plain call. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Long = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time per span: its duration minus the time its direct children
    * cover (children never overlap: one client thread). */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    spans.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val lines = spans.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ms" -> self(s.id))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Named engine counters, cumulative since registration. Snapshots are
  * diffed around an operation after the listener bus is drained. */
final case class Snap(v: Map[String, Long] = Map.empty) {
  def apply(k: String): Long = v.getOrElse(k, 0L)
  def +(o: Snap): Snap = Snap((v.keySet ++ o.v.keySet).map(k => k -> (this(k) + o(k))).toMap)
  def -(o: Snap): Snap = this + Snap(o.v.map { case (k, x) => k -> -x })
}

/** SparkListener for task/stage/job counters and ExternalCatalog events,
  * plus (traced runs only) a QueryExecutionListener for the metrics of
  * the plan operators an action ran. Executor CPU is always counted:
  * `cpu_s_per_op` is an end-to-end metric. */
final class Counters(spark: SparkSession, planMetrics: Boolean)
    extends SparkListener {
  private var s = Snap()
  private val stageSubmit = scala.collection.mutable.Map.empty[Int, Long]
  private val jobSpans = ArrayBuffer.empty[(Long, Long)]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]

  private def add(kv: (String, Long)*): Unit = synchronized { s = s + Snap(kv.toMap) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs" -> 1)
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobSpans += ((t0, e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      add("stages" -> 1)
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    // executor time of the stages that evaluate a Window: on the raw log
    // that is the per-segment sequence derivation
    if (info.taskMetrics != null && Internals.stageRuns(info, "Window"))
      add("windowStageMs" -> info.taskMetrics.executorRunTime)
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    // the wait of a stage is submit → its first task's launch
    stageSubmit.remove(e.stageId).foreach { t0 =>
      add("taskWaitMs" -> math.max(0L, e.taskInfo.launchTime - t0))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    add("tasks" -> 1)
    if (m != null) add("cpuNs" -> m.executorCpuTime,
      "shuffleRead" -> m.shuffleReadMetrics.totalBytesRead,
      "shuffleWrite" -> m.shuffleWriteMetrics.bytesWritten,
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "inputBytes" -> m.inputMetrics.bytesRead)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: CreateTableEvent | _: DropTableEvent | _: RenameTableEvent =>
      add("catalogOps" -> 1)
    case _ =>
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val ops = try Internals.operators(qe.executedPlan)
      catch { case _: Throwable => Nil }
    def metric(p: org.apache.spark.sql.execution.SparkPlan, k: String): Long =
      p.metrics.get(k).map(_.value).getOrElse(0L)
    val scans = ops.filter(_.nodeName.startsWith("Scan"))
    add("scanMs" -> scans.map(metric(_, "scanTime")).sum,
      "scanRows" -> scans.map(metric(_, "numOutputRows")).sum,
      "aggSortMs" -> (ops.filter(_.nodeName.endsWith("Aggregate")).map(metric(_, "aggTime")).sum +
        ops.filter(_.nodeName == "Sort").map(metric(_, "sortTime")).sum),
      // write commands run as "Execute <command>"; scans carry a
      // numFiles metric of their own (files read), so they are excluded
      "filesWritten" -> ops.filter(_.nodeName.startsWith("Execute"))
        .map(metric(_, "numFiles")).sum)
  }

  spark.sparkContext.addSparkListener(this)
  if (planMetrics) spark.listenerManager.register(planListener)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    if (planMetrics) spark.listenerManager.unregister(planListener)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def snap(): Snap = {
    Internals.drain(spark.sparkContext)
    synchronized(s + Snap(Map("gcMs" -> gcMs)))
  }

  /** Milliseconds of [t0, t1] (epoch ms) covered by at least one job. */
  def jobBusyMs(t0: Long, t1: Long): Long = {
    val iv = synchronized(jobSpans.toList)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy
  }
}
