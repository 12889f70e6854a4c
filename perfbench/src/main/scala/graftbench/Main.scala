package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** A workload: seeded inputs, a reference for every answer, and a
  * schedule of operations run by one closed-loop client. */
trait Workload {
  /** Generate the inputs under `dir` and build the reference model. Setup
    * runs it several times (fresh directories) and keeps the last. */
  def prepare(dir: Path): Unit
  /** Untimed, checked ops that warm caches and JIT and fix the
    * expectations that come from set-up. */
  def warmUp(): Seq[Op]
  /** The ops of cycle `c` of the schedule (timed cycles count from 1). */
  def cycle(c: Int): Seq[Op]
  /** About how long one cycle takes on the 4-vCPU reference box; sizes
    * the timed window (see `Main.cycles`). */
  def nominalCycleS: Double
  /** A fixed list of ops that runs the same on a fresh session, for
    * `spark.core_scaling`: it is timed at local[N], then at local[1]. */
  def scalingOps(): Seq[Op]
  /** Continue on another session (the local[1] one). */
  def restart(s: SparkSession): Unit
}

final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path, cores: Int, t0Ms: Long, commit: String,
    corrupt: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(get("work")).toAbsolutePath,
      m.get("cores").map(_.toInt)
        .getOrElse(math.min(2, Runtime.getRuntime.availableProcessors)),
      m.get("t0-ms").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime),
      m.getOrElse("commit", "unknown"),
      m.getOrElse("corrupt-expected", "0") == "1")
  }
}

object Main {
  /** Set-up builds the inputs and reference model this many times and
    * reports the median, so `setup_s` is not one noisy sample. */
  val SetupRepeats = 3

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Timed cycles for a window of `seconds`: as many whole cycles as take
    * about that long on the reference box, at least one. The count does
    * not depend on how fast this run goes, so every run of a seed (and
    * both sides of a comparison) times exactly the same ops. */
  def cycles(seconds: Double, w: Workload): Int =
    math.max(1, math.round(seconds / w.nominalCycleS).toInt)

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def workload(name: String, spark: SparkSession, seed: Long,
      work: Path): Workload = name match {
    case "log_serve" => new LogServe(spark, seed)
    case "curate_batch" => new CurateBatch(spark, seed, work)
    case "index_serve" => new IndexServe(spark, seed, work)
    case other => sys.error(s"unknown workload $other " +
      "(log_serve, curate_batch, index_serve)")
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files.createDirectories(o.work)
    val envStart = Env.stamp()
    val ticks0 = Env.cpuTicks()
    Outcome.corrupt = o.corrupt
    val spark = session(o.cores, o.work)
    val sessionS = (System.currentTimeMillis() - o.t0Ms) / 1e3
    val w = workload(o.workload, spark, o.seed, o.work)

    // set-up: inputs + reference model several times (median), then one
    // checked warm-up pass
    val prepS = (0 until SetupRepeats).map { i =>
      secondsOf(w.prepare(o.work.resolve(s"input-$i")))._2
    }
    val (warm, warmS) = secondsOf(w.warmUp().map(Runner.runOne(_, 0, new Tracer(false), None)))
    val setupS = sessionS + Stats.median(prepS) + warmS
    println(f"setup: session ${sessionS}%.2f s, inputs ${prepS.map(x => f"$x%.2f").mkString("/")} s, warm-up ${warmS}%.2f s")

    // the timed window: tracing off (with --trace 1: on, per-op counters
    // read at every op boundary); executor CPU always counted
    val tracer = new Tracer(o.trace)
    val counters = new Counters(spark, planMetrics = o.trace)
    val before = counters.snap()
    val (samples, passes) =
      Runner.loop(cycles(o.seconds, w), 1, w.cycle, tracer, Some(counters).filter(_ => o.trace))
    val cpuNs = (counters.snap() - before)("cpuNs")
    counters.close()
    val e2e = Stats.endToEnd(samples, passes, cpuNs, Env.peakRssMb(), setupS)

    val (layer, scaled) =
      if (!o.trace) (ListMap.empty[String, (Double, String)], Nil)
      else {
        tracer.write(o.work.resolve("spans.jsonl"))
        val (scaling, scaled) = coreScaling(w, o.work)
        val layer = Stats.perLayer(samples, tracer) ++ Kernels.run(o.seed) ++ Seq(
          ("spark.core_scaling", scaling, "ratio"),
          ("bench.trace_overhead", Stats.overhead(samples), "ratio"))
        (ListMap(layer.map { case (k, v, u) => k -> ((v, u)) }: _*), scaled)
      }
    finish(o, envStart ++ ListMap("spark_version" -> spark.version,
        "steal_share" -> Env.stealShare(ticks0)),
      warm, samples ++ scaled, passes, e2e, layer)
  }

  /** Wall time of the workload's scaling ops at local[1] over local[N].
    * Restarts the engine, so it runs last. */
  private def coreScaling(w: Workload, work: Path): (Double, Seq[Sample]) = {
    def timed() = w.scalingOps().map(Runner.runOne(_, -2, new Tracer(false), None))
    val atN = timed()
    SparkSession.active.stop()
    w.restart(session(1, work))
    val at1 = timed()
    (at1.map(_.ms).sum / atN.map(_.ms).sum, atN ++ at1)
  }

  private def finish(o: Opts, envStart: ListMap[String, Any], warm: Seq[Sample],
      window: Seq[Sample], passes: Seq[Double],
      e2e: ListMap[String, (Double, String)],
      layer: ListMap[String, (Double, String)]): Unit = {
    val all = warm ++ window
    val failed = all.filterNot(_.ok)
    val env = envStart ++ ListMap("load1_end" -> Env.load1(),
      "master" -> s"local[${o.cores}]",
      "seed" -> o.seed, "commit" -> o.commit, "workload" -> o.workload,
      "trace" -> o.trace)
    val errorRate = if (all.isEmpty) 0.0 else failed.size.toDouble / all.size
    val metrics = (e2e ++ layer).map { case (k, (v, u)) =>
      k -> ListMap("value" -> v, "unit" -> u) }
    failed.take(20).foreach(s => println(s"FAILED ${s.cause.get}"))
    (e2e ++ layer).foreach { case (k, (v, u)) => println(f"metric $k%-40s $v%14.4f $u") }
    println(f"metric error_rate ${errorRate}%.4f ratio (${failed.size}/${all.size})")
    // per op name: count and median latency, warm-up and window apart
    def opStats(ss: Seq[Sample]) = ListMap(ss.groupBy(_.name).toSeq.sortBy(_._1).map {
      case (n, xs) => n -> ListMap("n" -> xs.size, "p50_ms" -> Stats.median(xs.map(_.ms)))
    }: _*)
    val result = Json.obj(
      "correct" -> failed.isEmpty,
      "attempted" -> all.size,
      "failed" -> failed.size,
      "error_rate" -> errorRate,
      "end_to_end" -> e2e.keys.toSeq,
      "per_layer" -> layer.keys.toSeq,
      "metrics" -> metrics,
      "ops" -> opStats(window),
      "warmup_ops" -> opStats(warm),
      "cycles_s" -> passes,
      "window" -> window.map(s => ListMap("op" -> s.name, "cycle" -> s.cycle,
        "ms" -> s.ms, "ok" -> s.ok)),
      "failures" -> failed.map(s => ListMap("op" -> s.name, "cycle" -> s.cycle,
        "cause" -> s.cause.get)),
      "env" -> env)
    Files.write(o.work.resolve("result.json"),
      (result + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
