package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-only measurement harness (not part of the driver contract, not
  * on any query path): run selected declared queries many times in one
  * warm JVM, printing per-rep wall seconds and the Spark job count per
  * rep — the discriminator the mini-bench lacks (cold JIT + ambient
  * noise swamp sub-second deltas there).
  *
  * Usage: runMain graft.Scratch <sfDir> <reps> q1[,q2,...]
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    // ad-hoc A/B configs: SCRATCH_CONF="k=v;k=v"
    val conf = sys.env.get("SCRATCH_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.contains('='))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> v
      }
    val spark = GraftSession.local(defaultCpus = 32, conf)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val detail = sys.env.get("SCRATCH_JOBS").contains("1")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (detail) {
          val site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
          starts.put(js.jobId, (System.nanoTime(), site))
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (detail) Option(starts.remove(je.jobId)).foreach {
          case (t0, site) =>
            val ms = (System.nanoTime() - t0) / 1e6
            println(f"[job] ${je.jobId}%4d $ms%8.1f ms  $site")
        }
    })
    // warm-up
    graft.operators.Reports.q04CrossNation(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    for ((name, fn) <- GraftSession.queries(Some(args(2)))) {
      for (r <- 1 to reps) {
        spark.catalog.clearCache(); System.gc()
        val j0 = jobs.get()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[scratch] $name%-40s rep$r $secs%7.3f s  jobs=${jobs.get() - j0}")
      }
    }
    spark.stop()
  }
}
