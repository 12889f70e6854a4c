package graftbench

import scala.collection.mutable.ArrayBuffer

/** What an operation returns: the rows it handed back to the client and a
  * mismatch description when the answer was wrong. Both are evaluated
  * after the op's timing has ended, so checking costs no latency. */
final class Outcome(rowsOf: => Long, mismatchOf: => Option[String]) {
  lazy val rows: Long = rowsOf
  lazy val mismatch: Option[String] = mismatchOf
}

object Outcome {
  /** Self-test switch: every expected answer is corrupted before it is
    * compared (its first element dropped, or a sentinel put in an empty
    * one), so a run with it set must count every checked op as failed. */
  @volatile var corrupt: Boolean = false

  def apply(rows: => Long, mismatch: => Option[String] = None): Outcome =
    new Outcome(rows, mismatch)

  /** Compare an answer with its expectation; the cause names the op's
    * check and shows the first differing element. */
  def check(what: String, got: => Seq[Any], expected: => Seq[Any]): Outcome = {
    lazy val g = got
    Outcome(g.size.toLong, diff(what, g, expected))
  }

  def diff(what: String, got: Seq[Any], expected: Seq[Any]): Option[String] = {
    val want =
      if (!corrupt) expected
      else if (expected.nonEmpty) expected.tail
      else Seq("<corrupted expectation>")
    if (got == want) None
    else {
      val i = got.zip(want).indexWhere { case (g, w) => g != w }
      val at = if (i >= 0) s"first difference at $i: got ${got(i)}, want ${want(i)}"
        else s"got ${got.size} rows, want ${want.size}"
      Some(s"$what: $at")
    }
  }
}

/** Op kinds. A read is a query whose result the client collects; a write
  * persists new state; a build rewrites a persisted layout in full. */
object Kind {
  val Read = "read"
  val Write = "write"
  val Build = "build"
}

/** One operation of the closed loop; `run` records its layer spans on the
  * tracer it is given. */
final case class Op(kind: String, name: String, run: Tracer => Outcome)

/** A timed operation. `cause` is set when it threw or answered wrongly. */
final case class Sample(kind: String, name: String, cycle: Int,
    startNs: Long, endNs: Long, rows: Long, cause: Option[String],
    counters: Option[Snap] = None, jobBusyMs: Long = 0L, traceNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
  def ok: Boolean = cause.isEmpty
}

object Runner {
  def firstLine(s: String): String =
    Option(s).map(_.linesIterator.find(_.trim.nonEmpty).getOrElse("").trim)
      .getOrElse("")

  /** The exception class plus the first message line, so a failed op
    * explains itself in the run's output. */
  def cause(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    val top = s"${t.getClass.getName}: ${firstLine(t.getMessage)}"
    if (root eq t) top
    else s"$top (root ${root.getClass.getName}: ${firstLine(root.getMessage)})"
  }

  def runOne(op: Op, cycle: Int, tracer: Tracer,
      counters: Option[Counters]): Sample = {
    val s0 = System.nanoTime()
    val before = counters.map(_.snap())
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val o =
      try Right(tracer.span(s"op.${op.name}")(op.run(tracer)))
      catch { case t: Throwable => Left(cause(t)) }
    val t1 = System.nanoTime()
    val wall1 = System.currentTimeMillis()
    // the answer is checked here, outside the op's timing
    val (rows, c) =
      try o.fold(e => (0L, Some(e)), r => (r.rows, r.mismatch))
      catch { case t: Throwable => (0L, Some(s"check failed: ${cause(t)}")) }
    tracer.op += 1
    val delta = for (cs <- counters; b <- before) yield cs.snap() - b
    // the tracing machinery's own time at this op's boundaries
    val traceNs = if (counters.isEmpty) 0L else (t0 - s0) + (System.nanoTime() - t1)
    Sample(op.kind, op.name, cycle, t0, t1, rows, c.map(m => s"${op.name}: $m"),
      delta, counters.map(_.jobBusyMs(wall0, wall1)).getOrElse(0L), traceNs)
  }

  /** Closed loop, one client: run `cycles` whole cycles of the schedule.
    * Returns the samples and each cycle's time: the sum of its ops'
    * times, so the benchmark's own answer checks between ops are not
    * counted. */
  def loop(cycles: Int, firstCycle: Int, schedule: Int => Seq[Op],
      tracer: Tracer, counters: Option[Counters]): (Seq[Sample], Seq[Double]) = {
    val out = ArrayBuffer.empty[Sample]
    val passes = ArrayBuffer.empty[Double]
    for (c <- firstCycle until firstCycle + cycles) {
      val cycle = schedule(c).map(op => runOne(op, c, tracer, counters))
      out ++= cycle
      passes += cycle.map(s => s.endNs - s.startNs).sum / 1e9
    }
    (out.toSeq, passes.toSeq)
  }
}
