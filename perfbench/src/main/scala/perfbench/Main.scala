package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` builds this package, launches it once
  * per run and turns the record it writes into the run's metrics.
  *
  * {{{
  * perfbench.Main run <workload> <seed> <seconds> <trace 0|1> <data dir> <work dir>
  * perfbench.Main setup <workload> <seed> <data dir> <work dir>
  * perfbench.Main oracle-sql <out.json>
  * }}}
  *
  * `run` writes `<work>/record.json` (and `<work>/spans.json` when traced);
  * `setup` performs one cold set-up in a JVM of its own and writes its
  * seconds to `<work>/setup.json`; `oracle-sql` writes `SparkEntry.oracleSql`
  * for every benchmark gate.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String)

  /** Set-ups the run's own JVM performs; `setup_s` is the median of all of
    * a run's set-ups. A gate set-up is cold only once per JVM: repeated in
    * the same JVM it takes 0.3 s and follows how far the JIT has got, so
    * `run.py` launches further cold gate set-ups in JVMs of their own (see
    * `setup`). A stream set-up (session, query start, warm-up) takes seconds
    * and is repeated in the run's JVM. */
  def setupCount(streaming: Boolean): Int = if (streaming) 3 else 1

  def main(argv: Array[String]): Unit = argv.toList match {
    case "run" :: w :: seed :: secs :: trace :: data :: work :: Nil =>
      run(Args(w, seed.toLong, secs.toDouble, trace == "1", data, work))
    case "setup" :: w :: seed :: data :: work :: Nil =>
      val t0 = System.nanoTime()
      val a = Args(w, seed.toLong, 0.0, trace = false, data, work)
      val (spark, stream) = setUp(a, setupIndex = 0)
      val dt = (System.nanoTime() - t0) / 1e9
      stream.foreach(_.stop())
      spark.stop()
      Files.writeString(Paths.get(s"$work/setup.json"), Json.write(ListMap("setup_s" -> dt)))
    case "oracle-sql" :: out :: Nil =>
      val sql = graft.SparkEntry.oracleSql
      val gates = Gates.lists.values.flatten.toSeq.sorted
      Files.writeString(Paths.get(out), Json.write(ListMap(gates.map(g => g -> sql.get(g)): _*)))
    case _ =>
      System.err.println("usage: perfbench.Main run <workload> <seed> <seconds> <trace> <data> <work>" +
        " | setup <workload> <seed> <data> <work> | oracle-sql <out.json>")
      sys.exit(2)
  }

  /** One set-up: a fresh session and its warm-up, a `q_input` run for the
    * gates, query start and a warm-up drain for the stream. */
  def setUp(a: Args, setupIndex: Int): (SparkSession, Option[StreamWindow]) = {
    val streaming = a.workload == "stream_window"
    require(streaming || Gates.lists.contains(a.workload), s"unknown workload ${a.workload}")
    val spark = Session.start(a.work, streaming)
    if (streaming) (spark, Some(new StreamWindow(spark, a, setupIndex)))
    else {
      graft.SparkEntry.queries("q_input")(spark, a.data).write.format("noop").mode("overwrite").save()
      (spark, None)
    }
  }

  def run(a: Args): Unit = {
    val t0 = System.nanoTime()
    val streaming = a.workload == "stream_window"
    val loadStart = Jvm.loadavg

    // Set-up, as often as setupCount says; the last one is kept for the
    // measured phase. The first set-up starts at main, so it also carries
    // JVM and class loading.
    var spark: SparkSession = null
    var stream: Option[StreamWindow] = None
    val n = setupCount(streaming)
    val setups = (0 until n).map { i =>
      val s0 = if (i == 0) t0 else System.nanoTime()
      val (sp, st) = setUp(a, setupIndex = i)
      spark = sp
      stream = st
      val dt = (System.nanoTime() - s0) / 1e9
      if (i < n - 1) {
        stream.foreach(_.stop())
        spark.stop()
      }
      dt
    }

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val body: Map[String, Any] = stream match {
      case Some(st) => st.run(tracer)
      case None => Gates.run(spark, a, tracer)
    }
    stream.foreach(_.stop())
    tracer.foreach { t =>
      t.settle()
      t.detach()
      Files.writeString(Paths.get(s"${a.work}/spans.json"), Json.write(t.spansJson))
    }

    val rt = Runtime.getRuntime
    val record = ListMap(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "seconds" -> a.seconds,
      "trace" -> a.trace,
      "host" -> ListMap(
        "cores" -> rt.availableProcessors(),
        "spark_cores" -> Session.cores,
        "heap_mb" -> rt.maxMemory() / 1048576,
        "loadavg_start" -> loadStart,
        "loadavg_end" -> Jvm.loadavg),
      "setup_s" -> setups,
      "peak_rss_mb" -> Jvm.peakRssMb) ++ body
    spark.stop()
    Files.writeString(Paths.get(s"${a.work}/record.json"), Json.write(record))
  }
}
