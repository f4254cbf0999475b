package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Batch gate workloads: each gate is one `SparkEntry.queries` entry, timed
  * from the call that builds its DataFrame to the end of its `noop` write.
  *
  * A run is: set-up (repeated, see [[Main]]), a `q_input` calibration, one
  * untimed check pass that writes every gate's output for comparison with
  * the stored DuckDB results, then whole timed rounds over all gates until
  * the run's seconds are spent. The check pass also serves as the warm-up
  * that fills codegen and class caches, so timed reps are warm.
  */
object Gates {
  val lists: Map[String, Seq[String]] = Map(
    // Short gates from queries.CoreQueries and StatefulQueries: stateless
    // ops, the stateful_batch family and the four join modes. Variants that
    // differ only in keyed/value form (q_*_value) or min/max twins are left
    // out so a run fits its time budget with two timed rounds.
    "gates_ops" -> Seq(
      "q1_agg", "q_1brc", "q_branch", "q_enrich_broadcast", "q_filter_map", "q_flat_map_batch",
      "q_flatten", "q_json_parse", "q_merge", "q_redistribute",
      "q_collect", "q_count_final", "q_fold_final", "q_reduce_final", "q_running_agg",
      "q_stateful_map", "q_join_complete", "q_join_final", "q_join_product", "q_join_running"),
    // Iterative operators under the Rounds eager-checkpoint lifecycle.
    "gates_graph" -> Seq(
      "q_graph_pagerank", "q_graph_cc", "q_graph_scc", "q_graph_sssp", "q_graph_kcore",
      "q_graph_hits", "q_graph_betweenness", "q_graph_walk_negs"),
    // Few large jobs, bound by task CPU, shuffle and joins.
    "gates_corpus" -> Seq(
      "q_dedup_minhash", "q_dedup_ngram", "q_dedup_winnow", "q_dedup_chunk_edit",
      "q_dedup_cluster", "q_curate_full", "q_search_bm25", "q_search_phrase_batch",
      "q_text_tfidf", "q_text_bpe_apply", "q_embed_dedup"))

  final case class GateResult(name: String, reps: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty,
      builds: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty, var failed: Int = 0,
      var error: String = "")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def run(spark: SparkSession, a: Main.Args, tracer: Option[Tracer]): Map[String, Any] = {
    val gates = lists(a.workload)
    val entry = graft.SparkEntry.queries
    val rng = new scala.util.Random(a.seed)
    val results = ListMap(gates.map(g => g -> GateResult(g)): _*)
    val check = mutable.LinkedHashMap.empty[String, Any]

    // Calibration: a fixed tiny query, so a slow host shows in the record.
    val calib = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      entry("q_input")(spark, a.data).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Untimed check pass: every gate's output, for the oracle comparison.
    val tCheck = System.nanoTime()
    rng.shuffle(gates).foreach { g =>
      val c0 = System.nanoTime()
      try {
        entry(g)(spark, a.data).write.mode("overwrite").parquet(s"${a.work}/gates/$g")
        check(g) = (System.nanoTime() - c0) / 1e9
      } catch { case e: Throwable =>
        check(g) = s"threw: ${e.toString.take(300)}"
        results(g).failed += 1
        results(g).error = e.toString.take(300)
      }
      Session.release(spark)
    }
    System.gc()

    val checkS = (System.nanoTime() - tCheck) / 1e9
    tracer.foreach { t => t.settle(); t.resetPeaks() }
    val before = tracer.map(LayerSnapshot.take)
    var gcInReps = 0L
    var liveHeap = 0.0
    var rdds = 0L
    var cached = 0L
    val repSpans = mutable.ArrayBuffer.empty[(Double, Double)]
    val buildIds = mutable.HashSet.empty[Long]
    var rounds = 0
    val runSpan = tracer.map(_.newId()).getOrElse(0L)
    val tRun0 = Clock.nowMs
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    while (rounds == 0 || System.nanoTime() < deadline) {
      rng.shuffle(gates).foreach { g =>
        val r = results(g)
        val gc0 = Jvm.gcMs
        val t0 = System.nanoTime()
        val w0 = Clock.nowMs
        var tBuilt = t0
        val ok = try {
          tracer match {
            case None =>
              val df = entry(g)(spark, a.data)
              tBuilt = System.nanoTime()
              df.write.format("noop").mode("overwrite").save()
            case Some(tr) =>
              tr.span(s"rep $g", runSpan, Map("gate" -> g, "round" -> rounds)) { rep =>
                val df = tr.span("build", rep) { b => buildIds += b; entry(g)(spark, a.data) }
                tr.addAnalysis(df.queryExecution)
                tBuilt = System.nanoTime()
                tr.span("execute", rep)(_ => df.write.format("noop").mode("overwrite").save())
              }
          }
          true
        } catch { case e: Throwable =>
          r.failed += 1
          r.error = e.toString.take(300)
          false
        }
        val t1 = System.nanoTime()
        repSpans += ((w0, Clock.nowMs))
        gcInReps += Jvm.gcMs - gc0
        if (ok) { r.reps += (t1 - t0) / 1e9; r.builds += (tBuilt - t0) / 1e9 }
        if (tracer.isDefined) {
          rdds += spark.sparkContext.getPersistentRDDs.size
          cached += math.max(0, Session.cachedRelations(spark))
        }
        Session.release(spark)
        liveHeap = math.max(liveHeap, Jvm.liveHeapMb())
      }
      rounds += 1
    }
    val tRun1 = Clock.nowMs
    tracer.foreach(_.add(Span(runSpan, 0L, s"run ${a.workload}", tRun0, tRun1)))

    val layers: Map[String, Double] = tracer match {
      case None => Map.empty
      case Some(tr) =>
        tr.settle()
        val d = LayerSnapshot.take(tr).minus(before.get)
        val js = tr.snapshotJobs.filter(j => j.startMs >= tRun0 && j.endMs <= tRun1 + 1)
        val gapMs = repSpans.map { case (s, e) => tr.gapMs(s, e, js) }.sum
        val perPass = 1.0 / rounds
        val ok = results.values.filter(_.failed == 0).toSeq
        d.perPass(perPass) ++ Map(
          "entry.build_s" -> ok.map(r => median(r.builds.toSeq)).sum,
          "entry.execute_s" -> ok.map(r => median(r.reps.toSeq) - median(r.builds.toSeq)).sum,
          "entry.build_jobs" -> js.count(j => buildIds.contains(j.parent)) * perPass,
          "scheduler.gap_s" -> gapMs / 1000.0 * perPass,
          "storage.rdds_left" -> rdds * perPass,
          "storage.cached_left" -> cached * perPass,
          "jvm.gc_s" -> gcInReps / 1000.0 * perPass,
          "jvm.code_cache_mb" -> Jvm.codeCacheMb)
    }

    ListMap(
      "calibration_q_input_s" -> median(calib),
      "rounds" -> rounds,
      "check_pass_s" -> checkS,
      "timed_rounds_s" -> (tRun1 - tRun0) / 1000.0,
      "check" -> check,
      "gates" -> results.values.map { r =>
        ListMap("name" -> r.name, "reps" -> r.reps.toSeq, "builds" -> r.builds.toSeq,
          "failed" -> r.failed, "error" -> r.error)
      }.toSeq,
      "executions_per_gate" -> (rounds + 1),
      "live_heap_mb" -> liveHeap,
      "layers" -> layers)
  }
}

/** Listener counters at one instant; the difference of two covers the
  * timed rounds only. */
final case class LayerSnapshot(v: Map[String, Double]) {
  def minus(o: LayerSnapshot): LayerSnapshot =
    LayerSnapshot(v.map { case (k, x) => k -> (if (k.endsWith("peak_mem_mb") || k.endsWith("task_skew")) x else x - o.v(k)) })
  def perPass(f: Double): Map[String, Double] = v.map { case (k, x) =>
    k -> (if (k.endsWith("peak_mem_mb") || k.endsWith("task_skew")) x else x * f)
  }
}

object LayerSnapshot {
  def take(t: Tracer): LayerSnapshot = {
    val skew = {
      val w = t.stageSkew.map(_._1).sum.toDouble
      if (w > 0) t.stageSkew.map { case (tm, s) => tm * s }.sum / w else 1.0
    }
    LayerSnapshot(Map(
      "catalyst.analysis_ms" -> t.analysisMs.toDouble,
      "catalyst.optimization_ms" -> t.optimizationMs.toDouble,
      "catalyst.planning_ms" -> t.planningMs.toDouble,
      "catalyst.query_executions" -> t.queryExecutions.toDouble,
      "scheduler.jobs" -> t.snapshotJobs.size.toDouble,
      "scheduler.stages" -> t.stagesDone.toDouble,
      "scheduler.tasks" -> t.tasks.toDouble,
      "executor.task_run_s" -> t.taskRunMs / 1000.0,
      "executor.task_cpu_s" -> t.taskCpuNs / 1e9,
      "executor.task_skew" -> skew,
      "executor.peak_mem_mb" -> t.peakExecMem / 1048576.0,
      "shuffle.read_mb" -> t.shuffleReadBytes / 1048576.0,
      "shuffle.write_mb" -> t.shuffleWriteBytes / 1048576.0,
      "shuffle.fetch_wait_s" -> t.fetchWaitMs / 1000.0,
      "spill.mb" -> t.spillBytes / 1048576.0))
  }
}
