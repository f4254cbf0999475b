package perfbench

import org.apache.spark.sql.SparkSession

/** The one Spark session configuration every workload runs under: the
  * settings `graft.Bench` and `graft.Verify` use, at `local[cores]`, with all
  * scratch files under the run's work directory.
  */
object Session {
  val cores = 4

  def start(work: String, streaming: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(graft.functions.TopK.FallbackConf,
        graft.functions.TopK.RequiredFallbackThreshold.toString)
    if (streaming) b
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Releases what a gate leaves behind so the next one starts clean:
    * cached relations and persisted RDDs (eager-checkpoint rounds hand their
    * last round's blocks to the caller). The timed rounds follow it with a
    * full GC ([[Jvm.liveHeapMb]]), which also lets ContextCleaner reclaim the
    * broadcasts and shuffles whose references died.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Cached relations held by the session's CacheManager. The count is not
    * public API, so it is read reflectively; -1 when that fails. */
  def cachedRelations(spark: SparkSession): Int =
    try {
      val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
      val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).get
      f.setAccessible(true)
      f.get(cm).asInstanceOf[Iterable[_]].size
    } catch { case _: Throwable => -1 }
}
