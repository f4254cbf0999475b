package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.connectors.Testing
import graft.windowing.{EventClock, TumblingWindower, WindowLogicOps}

/** Per-(key, window) fold: event count, value sum and the latest creation
  * time in the window, which is where a window's emission latency starts. */
object WindowFold extends WindowLogicOps.WindowLogic[(Long, Long), (Long, Long, Long), (Long, Long, Long)] {
  def init: (Long, Long, Long) = (0L, 0L, Long.MinValue)
  def onValue(s: (Long, Long, Long), v: (Long, Long)): ((Long, Long, Long), Seq[(Long, Long, Long)]) =
    ((s._1 + 1, s._2 + v._1, math.max(s._3, v._2)), Nil)
  def onClose(s: (Long, Long, Long)): Seq[(Long, Long, Long)] = Seq(s)
  /** (value, creation ms) of an input row laid out as (key, ts, value, ...). */
  val extract: Row => (Long, Long) = r => (r.getLong(2), r.getTimestamp(1).getTime)
}

/** The streaming window workload: an open-loop generator feeding
  * `Testing.testingSource` → `windowLogicStream` (event clock, 0 s wait,
  * 1 s tumbling windows, [[WindowFold]]) on the RocksDB state store, read
  * by a `foreachBatch` sink that stamps each row's emission time.
  *
  * Events are (key, creation time = event time, value). Keys are Zipf
  * distributed over [[Keys]] keys and values uniform in 1..1000, both drawn
  * from the run's seed; creation times follow a fixed schedule starting on a
  * whole second, so the same seed assigns the same events to the same
  * windows. The generator keeps a tally of every (key, window) it produced;
  * at the end a far-future event closes every window and each one must have
  * been emitted exactly once with the tallied count and sum.
  *
  * Construction is the set-up: session already started, query start and a
  * warm-up that pushes [[WarmupEvents]] events through every stage.
  */
final class StreamWindow(spark: SparkSession, a: Main.Args, setupIndex: Int) {
  import StreamWindow._
  import spark.implicits._

  private val rng = new java.util.Random(a.seed)
  private val keyNames = Array.tabulate(Keys)(i => f"k$i%04d")
  private val zipfCdf = {
    val w = Array.tabulate(Keys)(i => 1.0 / math.pow(i + 1, ZipfS))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _ / tot).tail
  }
  private def nextKey(): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, Keys - 1)
  }

  /** (key index, window start ms) → count, sum, latest creation ms. */
  private val tally = mutable.HashMap.empty[(Int, Long), Array[Long]]
  private var maxTs = Long.MinValue
  private var added = 0L

  private val out = new ConcurrentLinkedQueue[Out]()
  @volatile private var emittedRows = 0L
  @volatile private var lastEmitMs = 0.0
  @volatile private var sinkMs = 0.0

  private val src = Testing.testingSource[(String, Timestamp, Long)](spark, Some(Session.cores))
  private val query: StreamingQuery = {
    val windows = WindowLogicOps.windowLogicStream(
      src.toDS().toDF("key", "ts", "value"), "key", EventClock("ts", "0 seconds"),
      TumblingWindower("1 second"), WindowFold.extract, WindowFold)
    val sink: (Dataset[(String, Long, Long, (Long, Long, Long))], Long) => Unit = (ds, _) => {
      val rows = ds.collect()
      val now = Clock.nowMs
      rows.foreach(r => out.add(Out(r._1, r._2, r._4._1, r._4._2, r._4._3, now)))
      if (rows.nonEmpty) { emittedRows += rows.length; lastEmitMs = now }
      sinkMs += Clock.nowMs - now
    }
    windows.writeStream.foreachBatch(sink).outputMode("append")
      .option("checkpointLocation", s"${a.work}/checkpoint-$setupIndex").start()
  }

  // Warm-up: a short backlog far in the past, drained to its last window.
  drain(second(Clock.nowMs) - 600000L, WarmupEvents, WarmupEvents / 3)

  /** Measured drains that did not finish within [[DrainTimeoutS]]. */
  private var drainsFailed = 0

  /** Live heap after a phase, through a full GC outside the timed work; the
    * time of these GCs is left out of `jvm.gc_s`. */
  private var gcOwnMs = 0L
  private def liveHeapNow(): Double = {
    val g0 = Jvm.gcMs
    val mb = Jvm.liveHeapMb()
    gcOwnMs += Jvm.gcMs - g0
    mb
  }

  def stop(): Unit = query.stop()

  /** `n` events due `rate`/s apart from `t0` ms, in schedule order. */
  private def events(t0: Double, from: Long, n: Int, rate: Double): Array[(String, Timestamp, Long)] =
    Array.tabulate(n) { j =>
      val ts = (t0 + (from + j) * 1000.0 / rate).toLong
      val k = nextKey()
      val v = 1L + rng.nextInt(1000)
      val t = tally.getOrElseUpdate((k, ts - Math.floorMod(ts, 1000L)), Array(0L, 0L, Long.MinValue))
      t(0) += 1; t(1) += v; t(2) = math.max(t(2), ts)
      maxTs = math.max(maxTs, ts)
      (keyNames(k), new Timestamp(ts), v)
    }

  private def feed(evs: Array[(String, Timestamp, Long)]): Unit = {
    src.addBatch(evs.toSeq: _*)
    added += evs.length
  }

  /** Windows the current watermark has closed: every tallied window whose
    * end is at or before the latest event time. */
  private def closedWindows: Int = tally.keysIterator.count(_._2 + 1000L <= maxTs)

  private def waitFor(what: String, timeoutS: Double)(cond: => Boolean): Boolean = {
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond && System.nanoTime() < end) Thread.sleep(2)
    if (!cond) System.err.println(s"[perfbench] timed out waiting for $what")
    cond
  }

  /** Pre-loads `n` events spanning `n / rate` s of event time from `t0` and
    * returns the seconds until every window they close is emitted, or None
    * when that takes longer than [[DrainTimeoutS]]. */
  private def drain(t0: Long, n: Int, rate: Int): Option[Double] = {
    val evs = events(t0, 0, n, rate)
    val want = closedWindows
    val s0 = Clock.nowMs
    feed(evs)
    if (waitFor("drain", DrainTimeoutS)(emittedRows >= want)) Some((lastEmitMs - s0) / 1000.0)
    else None
  }

  // ---- processed-input accounting from query progress ---------------------
  private var lastBatch = -1L
  private var processed = 0L
  private def processedNow(): Long = {
    val lp = query.lastProgress
    if (lp != null && lp.batchId > lastBatch) {
      query.recentProgress.filter(_.batchId > lastBatch).foreach { p =>
        processed += p.numInputRows
        lastBatch = math.max(lastBatch, p.batchId)
      }
    }
    processed
  }

  /** Open loop at `rate`/s for `seconds`, starting on the next whole second:
    * every tick adds the events due by now, whatever the query is doing. */
  private def openLoop(rate: Int, seconds: Double): Rung = {
    val n = (rate * seconds).toLong
    val t0 = second(Clock.nowMs) + 1000.0
    while (Clock.nowMs < t0) Thread.sleep(1)
    var next = 0L
    var bMax, bFirst, bSecond = 0L
    var lateMax = 0.0
    while (next < n) {
      val now = Clock.nowMs
      val due = math.min(n, ((now - t0) * rate / 1000.0).toLong + 1)
      if (due > next) {
        lateMax = math.max(lateMax, now - (t0 + next * 1000.0 / rate))
        feed(events(t0, next, (due - next).toInt, rate))
        next = due
      }
      val backlog = added - processedNow()
      bMax = math.max(bMax, backlog)
      if (now - t0 < seconds * 500) bFirst = math.max(bFirst, backlog)
      else bSecond = math.max(bSecond, backlog)
      Thread.sleep(TickMs)
    }
    val t1 = Clock.nowMs
    waitFor("backlog", 60)(processedNow() >= added)
    Rung(rate, seconds, n, bMax, bFirst, bSecond, (Clock.nowMs - t1) / 1000.0, lateMax, t0, t1)
  }

  def run(tracer: Option[Tracer]): Map[String, Any] = {
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    if (tracer.isDefined) spark.streams.addListener(listener)
    val before = tracer.map { t => t.settle(); t.resetPeaks(); LayerSnapshot.take(t) }
    val budget = a.seconds
    val runStart = Clock.nowMs
    val gc0 = Jvm.gcMs

    // Phase 1: drains of a fixed pre-loaded backlog, event times in the past.
    // A drain that times out fails and counts as the whole wait, so a stall
    // reads as slow, never as fast.
    val drainBase = second(Clock.nowMs) - 300000L
    val drains = (0 until Drains).map { i =>
      drain(drainBase + i * (DrainEvents / DrainRate + 2) * 1000L, DrainEvents, DrainRate)
        .getOrElse { drainsFailed += 1; DrainTimeoutS }
    }
    val tDrained = Clock.nowMs
    var liveHeap = liveHeapNow()

    // Phase 2: one fixed rate, for emission latency.
    val lat = openLoop(LatencyRate, budget * LatencyShare)
    // Phase 3: the rate ladder, ascending until the backlog grows.
    val rungs = mutable.ArrayBuffer.empty[Rung]
    val rungSeconds = budget * RungShare
    var growing = !sustained(lat)
    Ladder.foreach { r =>
      if (!growing) {
        val g = openLoop(r, rungSeconds)
        rungs += g
        growing = !sustained(g)
      }
    }
    val runEnd = Clock.nowMs
    liveHeap = math.max(liveHeap, liveHeapNow())

    // Close every window, then check each against the tally.
    val want = tally.size
    feed(Array(("flush", new Timestamp(maxTs + 5000L), 0L)))
    waitFor("final windows", 60)(emittedRows >= want)
    Thread.sleep(300)
    val got = out.asScala.toVector
    val byWin = got.filter(_.key != "flush").groupBy(o => (o.key, o.winStart))
    var bad = 0
    tally.foreach { case ((k, w), t) =>
      byWin.get((keyNames(k), w)) match {
        case Some(Vector(o)) if o.count == t(0) && o.sum == t(1) && o.maxCreated == t(2) => ()
        case _ => bad += 1
      }
    }
    val keyIdx = keyNames.zipWithIndex.toMap
    val extra = byWin.keysIterator.count { case (k, w) =>
      !keyIdx.get(k).exists(i => tally.contains((i, w)))
    }

    // Latency: windows wholly inside the latency phase and closed by its
    // own later events.
    val latSamples = got.filter(o => o.winStart >= lat.t0 && o.winStart + 1000L <= lat.t0 + lat.seconds * 1000 - 1000)
      .map(o => o.emitMs - o.maxCreated).sorted
    def pct(p: Double): Double =
      if (latSamples.isEmpty) Double.NaN else latSamples(math.min(latSamples.length - 1, (p * latSamples.length).toInt))

    val layers: Map[String, Double] = tracer match {
      case None => Map.empty
      case Some(tr) =>
        tr.settle()
        spark.streams.removeListener(listener)
        LayerSnapshot.take(tr).minus(before.get).v ++
          streamLayers(tr, progress.asScala.toVector, runStart, runEnd, lat +: rungs.toSeq) +
          ("jvm.gc_s" -> (Jvm.gcMs - gc0 - gcOwnMs) / 1000.0)
    }

    val drainMedian = Gates.median(drains)
    ListMap(
      "drain_s" -> drains,
      "drain_events" -> DrainEvents,
      "drain_eps" -> DrainEvents / drainMedian,
      "latency_rate" -> LatencyRate,
      "latency_samples" -> latSamples.length,
      "latency_p50_ms" -> pct(0.5),
      "latency_p99_ms" -> pct(0.99),
      "rungs" -> (lat +: rungs.toSeq).map(g => ListMap("rate" -> g.rate, "seconds" -> g.seconds,
        "events" -> g.events, "backlog_max" -> g.backlogMax, "backlog_first_half" -> g.backlogFirstHalf,
        "backlog_second_half" -> g.backlogSecondHalf, "lag_s" -> g.lagS, "late_max_ms" -> g.lateMaxMs,
        "sustained" -> sustained(g))),
      "sustained_eps" -> (lat +: rungs.toSeq).filter(sustained).map(_.rate).maxOption.getOrElse(0),
      "windows" -> want,
      "windows_failed" -> (bad + extra),
      "drains" -> Drains,
      "drains_failed" -> drainsFailed,
      "live_heap_mb" -> liveHeap,
      "events" -> added,
      "drain_phase_s" -> (tDrained - runStart) / 1000.0,
      "sink_ms" -> sinkMs,
      "layers" -> layers)
  }

  /** A rung is sustained when its backlog did not grow: the peak in its
    * second half stays within [[GrowthLimit]] of the first half's, and the
    * queue left at its end drains within [[LagLimitS]]. */
  private def sustained(g: Rung): Boolean =
    g.backlogSecondHalf <= GrowthLimit * math.max(g.backlogFirstHalf, g.rate / 10) && g.lagS <= LagLimitS

  private def streamLayers(tr: Tracer, ps: Vector[StreamingQueryProgress], t0: Double, t1: Double,
      phases: Seq[Rung]): Map[String, Double] = {
    val mine = ps.filter(p => p.id == query.id)
    phases.foreach { g =>
      val rung = tr.newId()
      tr.add(Span(rung, 0L, s"rung ${g.rate}/s", g.t0, g.t1, Map("rate" -> g.rate)))
      mine.filter { p =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        s >= g.t0 && s <= g.t1
      }.foreach { p =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val trig = tr.newId()
        tr.add(Span(trig, rung, s"trigger ${p.batchId}", s, s + d.getOrElse("triggerExecution", 0L),
          Map("rows" -> p.numInputRows)))
        // Phases in the order the micro-batch runs them; Spark reports
        // their durations, so their starts are laid end to end.
        var at = s
        Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
          .foreach { k => d.get(k).foreach { v => tr.add(Span(tr.newId(), trig, k, at, at + v)); at += v } }
      }
    }
    val inRun = mine.filter { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      s >= t0 && s <= t1
    }
    def dur(k: String): Seq[Double] = inRun.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    def sumState(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Double =
      inRun.map(p => p.stateOperators.map(f).sum).sum
    def lastState(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Double =
      inRun.lastOption.map(p => p.stateOperators.map(f).sum).getOrElse(0.0)
    val custom = inRun.flatMap(_.stateOperators.flatMap(_.customMetrics.asScala))
      .groupBy(_._1).map { case (k, vs) => s"state.custom.$k" -> vs.map(_._2.doubleValue).sum }
    Map(
      "trigger.count" -> inRun.length.toDouble,
      "trigger.ms_p50" -> Gates.median(dur("triggerExecution")),
      "trigger.rows_p50" -> Gates.median(inRun.map(_.numInputRows.toDouble)),
      "trigger.planning_ms" -> Gates.median(dur("queryPlanning")),
      "trigger.add_batch_ms" -> Gates.median(dur("addBatch")),
      "trigger.wal_commit_ms" -> Gates.median(dur("walCommit")),
      "trigger.commit_offsets_ms" -> Gates.median(dur("commitOffsets")),
      "source.latest_offset_ms" -> Gates.median(dur("latestOffset")),
      "source.get_batch_ms" -> Gates.median(dur("getBatch")),
      "source.backlog_max" -> phases.map(_.backlogMax.toDouble).max,
      "gen.late_ms" -> phases.map(_.lateMaxMs).max,
      "sink.write_ms" -> sinkMs,
      "state.rows_total" -> lastState(_.numRowsTotal.toDouble),
      "state.rows_updated" -> sumState(_.numRowsUpdated.toDouble),
      "state.rows_removed" -> sumState(_.numRowsRemoved.toDouble),
      "state.memory_mb" -> inRun.map(p => p.stateOperators.map(_.memoryUsedBytes.toDouble).sum).maxOption
        .getOrElse(0.0) / 1048576.0,
      "state.commit_ms" -> sumState(_.commitTimeMs.toDouble),
      "state.updates_ms" -> sumState(_.allUpdatesTimeMs.toDouble),
      "state.removals_ms" -> sumState(_.allRemovalsTimeMs.toDouble),
      "jvm.code_cache_mb" -> Jvm.codeCacheMb) ++ custom
  }
}

object StreamWindow {
  /** One emitted row with the time the sink received it. */
  final case class Out(key: String, winStart: Long, count: Long, sum: Long, maxCreated: Long,
      emitMs: Double)

  /** One open-loop phase: its rate and length, the backlog it built (peak
    * overall and in each half), how long the queue left at its end took to
    * drain, and how late the generator ran. */
  final case class Rung(rate: Int, seconds: Double, events: Long, backlogMax: Long,
      backlogFirstHalf: Long, backlogSecondHalf: Long, lagS: Double, lateMaxMs: Double,
      t0: Double, t1: Double)

  val Keys = 2000
  val ZipfS = 1.0
  val WarmupEvents = 5000
  /** Each drain pre-loads this many events spanning 4 s of event time. */
  val DrainEvents = 16000
  val DrainRate = 4000
  val Drains = 6
  val DrainTimeoutS = 60.0
  /** Fixed rate for the latency phase, events/s. */
  val LatencyRate = 2000
  /** Fixed rate ladder above the latency rate, events/s, climbed until the
    * backlog grows; the latency phase is its first rung. */
  val Ladder: Seq[Int] = Seq(6000, 12000)
  /** Shares of the run's seconds spent at the latency rate and on each
    * further rung. */
  val LatencyShare = 0.5
  val RungShare = 0.25
  val TickMs = 5L
  val GrowthLimit = 1.5
  val LagLimitS = 1.0

  /** The whole second at or before `ms`. */
  def second(ms: Double): Long = (ms.toLong / 1000L) * 1000L
}
