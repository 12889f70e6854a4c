package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** The run's environment stamp: enough to recognise a reading taken on a
  * loaded box without re-running it. */
object Env {
  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)), "UTF-8"))
    catch { case _: Throwable => None }

  def load1(): Double =
    read("/proc/loadavg").flatMap(_.trim.split("\\s+").headOption)
      .map(_.toDouble).getOrElse(-1.0)

  /** (steal, total) jiffies of all CPUs so far, from /proc/stat. */
  def cpuTicks(): (Long, Long) =
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map { l =>
        val t = l.trim.split("\\s+").drop(1).take(8).map(_.toLong)
        (if (t.length > 7) t(7) else 0L, t.sum)
      }.getOrElse((0L, 0L))

  /** Share of CPU time the host took from the machine since `from`
    * (steal): a reading taken while it was high is a loaded-box reading. */
  def stealShare(from: (Long, Long)): Double = {
    val (s1, t1) = cpuTicks()
    if (t1 <= from._2) 0.0 else (s1 - from._1).toDouble / (t1 - from._2)
  }

  /** Other JVMs on the box (co-tenants that compete for the cores). */
  def otherJvms(): Long = {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().iterator().asScala.count { p =>
      p.pid() != self &&
        p.info().command().map[Boolean](_.endsWith("java")).orElse(false)
    }.toLong
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").flatMap(_.linesIterator
        .find(_.startsWith("VmHWM:")))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def stamp(): ListMap[String, Any] = ListMap(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "load1_start" -> load1(),
    "other_jvms" -> otherJvms(),
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))
}
