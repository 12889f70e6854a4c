package graftbench

import java.nio.file.Path
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.api.GraftStore
import graft.sources.EventLogWriter

/** `log_serve`: a seeded mix of facade reads over the raw sf0.1-shaped
  * event log, produce appends to a produced layout with read-back, and
  * compaction of that layout. Every answer is checked against a plain
  * Scala model of the log. */
final class LogServe(spark0: SparkSession, seed: Long) extends Workload {
  import LogServe._

  private var spark = spark0
  private var dir: String = _
  private var produced: String = _
  private var ref: Model = _
  /** The produced layout's own model: per segment, (sequence, event_id,
    * ts_us) of every entry appended so far. */
  private var producedLog = Map.empty[(String, String), Vector[(Long, Long, Long)]]
  private var nextEventId = 0L

  private def store = GraftStore(spark, dir)

  def prepare(d: Path): Unit = {
    dir = d.toString
    produced = d.resolve("produced").toString
    val evs = Gen.events(seed)
    Gen.writeEvents(spark, evs, dir)
    ref = Model(evs)
    // the produced layout is reset: appends start it from empty
    producedLog = Map.empty
    nextEventId = 10000000L
  }

  def warmUp(): Seq[Op] = cycle(0)
  def nominalCycleS: Double = 7.5

  def scalingOps(): Seq[Op] = cycle(1)
  def restart(s: SparkSession): Unit = spark = s

  /** Cycle `c`: one read of every kind in seeded order and with seeded
    * scopes; after each half of them two produce batches and a compaction
    * of the produced layout. A fixed kind mix keeps seeds comparable. */
  def cycle(c: Int): Seq[Op] = {
    val r = Gen.rng(seed, 100, c)
    val kinds = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle(ReadKinds)
    val (a, b) = kinds.map(readOp(r, _)).splitAt(ReadKinds.size / 2)
    a ++ Seq(writeOp(c, 0), writeOp(c, 1), compactOp) ++
      b ++ Seq(writeOp(c, 2), writeOp(c, 3), compactOp)
  }

  // ── reads ───────────────────────────────────────────────────────────

  private def read(name: String, call: => DataFrame, want: => Seq[Any],
      ordered: Boolean, conv: Row => Any): Op = Op(Kind.Read, name, tracer =>
    tracer.span(s"api.$name") {
      val df = tracer.span("api.plan") {
        val df = call
        df.queryExecution.executedPlan
        df
      }
      val raw = tracer.span("spark.collect")(df.collect())
      def order(xs: Seq[Any]) = if (ordered) xs else xs.sortBy(_.toString)
      Outcome.check(name, order(raw.toSeq.map(conv)), order(want))
    })

  private def readOp(r: SplittableRandom, kind: String): Op = {
    val space = Gen.Spaces(r.nextInt(Gen.Spaces.size))
    val segs = ref.segmentsOf(space)
    val seg = segs(r.nextInt(segs.size))
    val sp = store.space(space)
    if (kind == "consume_segment") {
      // ConsumeSegment with a sequence or time range and a limit
      val es = ref.bySegment((space, seg))
      val lo = 1 + r.nextInt(es.size)
      val hi = lo + r.nextInt(es.size)
      val limit = if (r.nextBoolean()) Some(1 + r.nextInt(es.size)) else None
      if (r.nextBoolean()) {
        val want = es.filter(e => e.seq >= lo && e.seq <= hi)
        read("consume_segment", sp.segment(seg).consume(minSeq = Some(lo.toLong),
            maxSeq = Some(hi.toLong), limit = limit),
          limit.fold(want)(want.take).map(_.tuple), ordered = true, entryRow)
      } else {
        val t0 = es((lo - 1) % es.size).tsUs
        val t1 = t0 + r.nextLong(7L * 86400L * 1000000L)
        val want = es.filter(e => e.tsUs >= t0 && e.tsUs <= t1)
        read("consume_segment", sp.segment(seg).consume(minTsUs = Some(t0),
            maxTsUs = Some(t1), limit = limit),
          limit.fold(want)(want.take).map(_.tuple), ordered = true, entryRow)
      }
    } else if (kind == "consume_space") {
      // ConsumeSpace: a time window and a limit, merged across segments
      val t0 = Gen.Epoch2024Us + r.nextLong(Gen.MonthUs)
      val t1 = t0 + 3600L * 1000000L * (1 + r.nextInt(72))
      val limit = 50 + r.nextInt(450)
      val want = ref.bySpace(space).filter(e => e.tsUs >= t0 && e.tsUs <= t1)
        .take(limit).map(_.tuple)
      read("consume_space", sp.consume(Some(t0), Some(t1), Some(limit)),
        want, ordered = true, entryRow)
    } else if (kind == "consume_from") {
      // consumeFrom: resume a space cursor after an anchor entry
      val es = ref.bySegment((space, seg))
      val anchor = es(r.nextInt(es.size))
      val limit = 20 + r.nextInt(280)
      val want = ref.bySpace(space).filter(e => after(e, anchor))
        .take(limit).map(_.tuple)
      read("consume_from", sp.consumeFrom(seg, anchor.seq, Some(limit)),
        want, ordered = true, entryRow)
    } else if (kind == "consume_multi") {
      // multi-space Consume over three spaces with per-space offsets and a limit
      val spaces = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
        .shuffle(Gen.Spaces).take(3)
      val offsets = spaces.map { s =>
        val ss = ref.segmentsOf(s)
        val g = ss(r.nextInt(ss.size))
        val es = ref.bySegment((s, g))
        // sequence 0 never resolves: that space is read from the start
        s -> (g, if (r.nextInt(4) == 0) 0L else es(r.nextInt(es.size)).seq)
      }.toMap
      val limit = 50 + r.nextInt(250)
      val want = offsets.toSeq.flatMap { case (s, (g, q)) =>
        val all = ref.bySpace(s)
        ref.bySegment((s, g)).find(_.seq == q) match {
          case Some(a) => all.filter(e => after(e, a))
          case None => all
        }
      }.sortBy(e => (e.tsUs, e.space, e.segment, e.seq)).take(limit).map(_.tuple)
      read("consume_multi", store.consume(offsets, limit = Some(limit)),
        want, ordered = true, entryRow)
    } else if (kind == "peek_all") {
      val want = ref.segmentsOf(space).map(g => ref.bySegment((space, g)).last.tuple)
      read("peek_all", sp.peekAll, want, ordered = false, entryRow)
    } else if (kind == "tail") {
      val k = 1 + r.nextInt(5)
      val want = ref.segmentsOf(space)
        .flatMap(g => ref.bySegment((space, g)).takeRight(k).map(_.tuple))
      read("tail", sp.tail(k), want, ordered = false, entryRow)
    } else if (kind == "replay_state") {
      val after = r.nextInt(6).toLong
      val want = ref.segmentsOf(space).flatMap { g =>
        state(ref.bySegment((space, g)).filter(_.seq > after)) }
      read("replay_state", sp.replayState(after), want, ordered = false, stateRow)
    } else if (kind == "state_as_of") {
      val t = Gen.Epoch2024Us + r.nextLong(Gen.MonthUs)
      val want = ref.segmentsOf(space).flatMap { g =>
        state(ref.bySegment((space, g)).filter(_.tsUs <= t)) }
      read("state_as_of", sp.stateAsOf(t), want, ordered = false, stateRow)
    } else if (kind == "segments") {
      read("segments", sp.segments, ref.segmentsOf(space).map(g => (space, g)),
        ordered = true, row => (row.getAs[String]("space"), row.getAs[String]("segment")))
    } else {
      val want = Gen.Spaces.map { s =>
        val es = ref.bySpace(s)
        (s, ref.segmentsOf(s).size.toLong, es.size.toLong,
          es.map(_.tsUs).min, es.map(_.tsUs).max)
      }
      read("status", store.status, want, ordered = false, row =>
        (row.getAs[String]("space"), row.getAs[Long]("n_segments"),
          row.getAs[Long]("n_entries"), row.getAs[Long]("min_ts_us"),
          row.getAs[Long]("max_ts_us")))
    }
  }

  // ── writes ──────────────────────────────────────────────────────────

  /** A seeded produce batch: 1–4 segments of the produced space, 3–12 new
    * entries each after the segment's tail; sequences assigned against the
    * tail, the contiguity contract validated, the batch appended, then read
    * back from the produced layout and checked segment by segment. All
    * batches of a run go to one seeded space, so every compaction after
    * the first append rewrites that space: the same work each cycle. */
  private def writeOp(c: Int, j: Int): Op = Op(Kind.Write, "produce", tracer => {
    val r = Gen.rng(seed, 200, c, j)
    val space = Gen.Spaces(Gen.rng(seed, 201).nextInt(Gen.Spaces.size))
    val all = ref.segmentsOf(space)
    val segs = Seq.fill(1 + r.nextInt(4))(all(r.nextInt(all.size))).distinct
    def log(g: String) = producedLog.getOrElse((space, g), Vector.empty)
    val recs = segs.flatMap { g =>
      var ts = log(g).lastOption.map(_._3).getOrElse(Gen.Epoch2024Us + Gen.MonthUs)
      Seq.fill(3 + r.nextInt(10)) {
        ts += 1 + r.nextInt(1000000)
        nextEventId += 1
        Row(space, g, ts, nextEventId, r.nextInt(1, 50000) / 100.0,
          s"""{"k": ${r.nextInt(100)}}""")
      }
    }
    val records = spark.createDataFrame(java.util.Arrays.asList(recs: _*), recordSchema)
    // the producer's tails: segments new to the produced layout have none
    val tail = spark.createDataFrame(java.util.Arrays.asList(segs.filter(log(_).nonEmpty)
      .map(g => Row(space, g, log(g).last._1)): _*), tailSchema)
    val batch = tracer.span("sources.assign_sequences") {
      EventLogWriter.assignSequences(records, Some(tail))
    }
    val violations = tracer.span("sources.validate_append") {
      EventLogWriter.validateAppend(batch, tail).collect()
    }
    if (violations.nonEmpty)
      Outcome(0L, Some(s"validateAppend rejected a contiguous batch: ${violations.head}"))
    else {
      tracer.span("sources.write") {
        EventLogWriter.write(batch, produced, SaveMode.Append)
      }
      // the produced model after the append: new entries in (ts, id) order
      recs.groupBy(_.getString(1)).foreach { case (g, rs) =>
        val old = log(g)
        val add = rs.sortBy(x => (x.getLong(2), x.getLong(3))).zipWithIndex.map {
          case (x, i) => (old.size + 1L + i, x.getLong(3), x.getLong(2)) }
        producedLog = producedLog.updated((space, g), old ++ add)
      }
      val back = tracer.span("api.read_back") {
        GraftStore.fromProduced(spark, produced).entries
          .filter(col("space") === space && col("segment").isin(segs: _*))
          .select("segment", "sequence", "event_id").collect()
      }
      val want = segs.sorted.flatMap(g => log(g).map(t => (g, t._1, t._2)))
      Outcome.check("produce read-back",
        back.map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSeq.sorted, want)
    }
  })

  /** Compaction: every space directory holding more than one file is
    * rewritten to one (the layout is far below the target file size). */
  private def compactOp: Op = Op(Kind.Build, "compact", tracer => {
    val audit = tracer.span("sources.compact") {
      EventLogWriter.compact(spark, produced).collect()
    }
    val spaces = producedLog.keys.map(_._1).toSeq.distinct.sorted
    Outcome(audit.length.toLong, {
      val got = audit.map(x => (x.getString(0), x.getLong(2))).toSeq.sorted
      val want = audit.map(x => (x.getString(0), math.min(1L, x.getLong(1)))).toSeq.sorted
      Outcome.diff("compact spaces", got.map(_._1), spaces)
        .orElse(Outcome.diff("compact files", got, want))
    })
  })
}

object LogServe {
  val ReadKinds: Seq[String] = Seq("consume_segment", "consume_space",
    "consume_from", "consume_multi", "peek_all", "tail", "replay_state",
    "state_as_of", "segments", "status")

  /** One entry of the reference model. */
  final case class E(space: String, segment: String, seq: Long, tsUs: Long,
      eventId: Long, value: Double, payload: String) {
    def tuple: (String, String, Long, Long, Double, String) =
      (space, segment, seq, tsUs, value, payload)
  }

  /** The log as plain Scala: sequences derived per segment by
    * (ts_us, event_id), the space order (ts_us, segment, sequence). */
  final case class Model(bySegment: Map[(String, String), IndexedSeq[E]],
      bySpace: Map[String, IndexedSeq[E]], segmentsOf: Map[String, IndexedSeq[String]])

  object Model {
    def apply(evs: Seq[Gen.Event]): Model = {
      val bySeg = evs.groupBy(e => (e.eventType, e.userId.toString)).map { case (k, es) =>
        k -> es.sortBy(e => (e.tsUs, e.eventId)).zipWithIndex.map { case (e, i) =>
          E(k._1, k._2, i + 1L, e.tsUs, e.eventId, e.value, e.props) }.toIndexedSeq
      }
      val bySpace = bySeg.values.flatten.groupBy(_.space).map { case (s, es) =>
        s -> es.toIndexedSeq.sortBy(e => (e.tsUs, e.segment, e.seq)) }
      val segs = bySeg.keys.groupBy(_._1).map { case (s, ks) =>
        s -> ks.map(_._2).toIndexedSeq.sorted }
      Model(bySeg, bySpace, segs)
    }
  }

  /** Strictly after, on the space cursor tuple (ts_us, segment, sequence). */
  def after(a: E, b: E): Boolean =
    a.tsUs > b.tsUs || (a.tsUs == b.tsUs &&
      (a.segment > b.segment || (a.segment == b.segment && a.seq > b.seq)))

  /** Replay state of one segment's entries (empty when none survive). */
  def state(es: Seq[E]): Option[(String, String, Long, Double, Long, Long, String)] =
    es.lastOption.map { last =>
      val cents = es.map(e => math.floor(e.value * 100.0 + 0.5).toLong).sum
      (last.space, last.segment, es.size.toLong, cents.toDouble / 100.0,
        last.seq, last.tsUs, last.payload)
    }

  val entryRow: Row => Any = r =>
    (r.getAs[String]("space"), r.getAs[String]("segment"), r.getAs[Long]("sequence"),
      r.getAs[Long]("ts_us"), r.getAs[Double]("value"), r.getAs[String]("payload"))

  val stateRow: Row => Any = r =>
    (r.getAs[String]("space"), r.getAs[String]("segment"), r.getAs[Long]("n_events"),
      r.getAs[Double]("balance"), r.getAs[Long]("last_sequence"),
      r.getAs[Long]("last_ts_us"), r.getAs[String]("last_payload"))

  private val recordSchema = StructType(Seq(
    StructField("space", StringType), StructField("segment", StringType),
    StructField("ts_us", LongType), StructField("event_id", LongType),
    StructField("value", DoubleType), StructField("payload", StringType)))

  private val tailSchema = StructType(Seq(
    StructField("space", StringType), StructField("segment", StringType),
    StructField("last_sequence", LongType)))
}
