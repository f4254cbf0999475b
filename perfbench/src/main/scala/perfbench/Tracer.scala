package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds, the clock Spark's
  * listener events use, so benchmark spans and job/stage spans share one
  * axis. `parent` is 0 for a root span.
  */
final case class Span(id: Long, parent: Long, name: String, startMs: Double, endMs: Double,
    attrs: Map[String, Any] = Map.empty)

/** Wall clock in epoch milliseconds with nanosecond-timer resolution. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Spans and layer counters for a traced run, recorded from outside the
  * program: the benchmark times its own calls into `graft` and listens to
  * Spark through its public listener interfaces. Everything stays in memory
  * until [[spansJson]] is written at the end of the run.
  *
  * Jobs are attributed to the benchmark span that was open on the calling
  * thread through the `perfbench.span` local property, which Spark copies
  * into every job it starts from that thread (and into its broadcast and
  * subquery threads).
  */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  val SpanProp = "perfbench.span"

  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)

  /** Runs `body` as span `name` under `parent`; Spark jobs it starts on this
    * thread become children of the span. */
  def span[T](name: String, parent: Long, attrs: Map[String, Any] = Map.empty)(body: Long => T): T = {
    val id = newId()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = Clock.nowMs
    try body(id)
    finally {
      add(Span(id, parent, name, t0, Clock.nowMs, attrs))
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  // ---- scheduler / executor layer (SparkListener) -------------------------
  // Listener callbacks run on Spark's listener-bus thread; readers call
  // `settle()` first and then read under the same lock.
  import Tracer.JobRec
  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTaskTimes = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  var stagesDone = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var peakExecMem = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  /** Per completed stage with at least two tasks: (sum of task run time, max/median). */
  val stageSkew = mutable.ArrayBuffer.empty[(Long, Double)]
  private val events = new AtomicLong(0)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      events.incrementAndGet()
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      jobs(e.jobId) = JobRec(e.jobId, parent, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      events.incrementAndGet()
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      events.incrementAndGet()
      val m = e.taskMetrics
      tasks += 1
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        stageTaskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      events.incrementAndGet()
      val si = e.stageInfo
      stagesDone += 1
      val times = stageTaskTimes.remove((si.stageId, si.attemptNumber())).getOrElse(mutable.ArrayBuffer.empty)
      if (times.length >= 2) {
        val sorted = times.sorted
        val med = sorted(sorted.length / 2).toDouble
        stageSkew += ((times.sum, if (med > 0) sorted.last / med else 1.0))
      }
      val job = stageJob.get(si.stageId)
      job.flatMap(jobs.get).foreach(_.stages += 1)
      for (s <- si.submissionTime; c <- si.completionTime)
        add(Span(newId(), -1L - job.getOrElse(-1), s"stage ${si.stageId}", s.toDouble, c.toDouble,
          Map("tasks" -> si.numTasks, "job" -> job.getOrElse(-1))))
    }
  }

  // ---- Catalyst layer (QueryExecutionListener) ----------------------------
  var queryExecutions = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  private def phases(qe: QueryExecution): Unit = lock.synchronized {
    events.incrementAndGet()
    queryExecutions += 1
    val p = qe.tracker.phases
    def d(k: String): Long = p.get(k).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    analysisMs += d("analysis")
    optimizationMs += d("optimization")
    planningMs += d("planning")
  }
  /** Analysis of a gate's result plan happens when the gate builds its
    * DataFrame, before any action, so no listener sees it; the benchmark
    * adds it from the returned plan's tracker. */
  def addAnalysis(qe: QueryExecution): Unit = lock.synchronized {
    analysisMs += qe.tracker.phases.get("analysis").map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  /** Waits until the asynchronous listener buses have gone quiet, so the
    * counters cover every job the timed calls started. */
  def settle(): Unit = {
    var last = -1L
    var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      val now = events.get()
      val open = lock.synchronized(jobs.valuesIterator.exists(_.endMs < 0))
      if (now == last && !open) stable += 1 else stable = 0
      last = now
    }
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Starts the max-type counters (peak task memory, stage skew) afresh. */
  def resetPeaks(): Unit = lock.synchronized { peakExecMem = 0L; stageSkew.clear() }

  def snapshotJobs: Seq[JobRec] = lock.synchronized(jobs.values.map(_.copy()).toSeq)

  /** Job spans are emitted at the end, when every job has its end time. */
  def spansJson: Seq[Map[String, Any]] = {
    val jobSpans = snapshotJobs.map { j =>
      Span(-1L - j.id, j.parent, s"job ${j.id}", j.startMs.toDouble, j.endMs.toDouble,
        Map("stages" -> j.stages))
    }
    (spans.asScala.toSeq ++ jobSpans).sortBy(_.startMs).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs
    }
  }

  /** Milliseconds of [t0, t1] covered by no job. */
  def gapMs(t0: Double, t1: Double, js: Seq[JobRec]): Double = {
    val iv = js.filter(j => j.endMs >= t0 && j.startMs <= t1)
      .map(j => (math.max(j.startMs.toDouble, t0), math.min(j.endMs.toDouble, t1))).sortBy(_._1)
    var covered = 0.0
    var cur = t0
    iv.foreach { case (s, e) =>
      if (e > cur) { covered += e - math.max(s, cur); cur = e }
    }
    (t1 - t0) - covered
  }
}

object Tracer {
  final case class JobRec(id: Int, parent: Long, startMs: Long, var endMs: Long = -1L,
      var stages: Int = 0)
}

/** JVM-level figures that need no listener. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
    .map(_.getUsage.getUsed).sum / 1048576.0

  /** Heap in use after a full GC, in MB: the live heap. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb: Double = status("VmHWM")

  private def status(field: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def loadavg: Seq[Double] = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split("\\s+").take(3).toSeq.map(_.toDouble) finally src.close()
  }
}
