package perfbench

import java.io.File

import graft.RunLock
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point; `perfbench/run.py` builds and
  * launches it. One process, one client in a closed loop:
  *
  *   --workload full_sync|incremental_sync
  *   --seed n --seconds s --trace 0|1
  *
  * Writes the result object (see perfbench/README.md) to the file named
  * by `-Dperfbench.result`; all scratch files go under
  * `-Dperfbench.work`, which is removed on exit. Holds the run lock at
  * `-Dperfbench.lock` while it runs. */
object BenchMain {

  /** Company size: the size of the report fixtures' bulk corpus. A tick
    * already costs its Spark jobs' overhead more than its data here, and
    * runs of both workloads fit the time a benchmark run may take. */
  val DefaultVouchers = 10000
  val Workloads = Seq("full_sync", "incremental_sync")

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --flag value, got ${other.mkString(" ")}")
    }.toMap
    val o = Opts(m("workload"), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1")
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    o
  }

  def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .config("spark.graft.index.dir", new File(work, "index").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val work = new File(sys.props("perfbench.work")).getAbsoluteFile
    val out = new File(sys.props("perfbench.result"))
    work.mkdirs()
    // measurement runs must not overlap Bench or ScaleBench runs, so
    // this takes their lock (run.py passes its path, as the JVM's
    // java.io.tmpdir is redirected)
    val lock = RunLock.acquire(sys.props("perfbench.lock"))
    try {
      val spark = session(work)
      try {
        val json = run(spark, opts, work)
        java.nio.file.Files.writeString(out.toPath, json)
      } finally spark.stop()
    } finally {
      lock.close()
      Disk.delete(work)
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Level the field before each timed operation, as `Bench` does:
    * collect the previous operation's garbage and write dirty pages
    * back, so neither is billed to the next operation. */
  private def quiesce(): Unit = {
    System.gc()
    try new ProcessBuilder("sync").inheritIO().start().waitFor()
    catch { case _: java.io.IOException => }
  }

  /** CPU time the hypervisor gave to others (Linux `steal`), seconds. */
  private def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+")(8).toDouble / 100 finally src.close()
    } catch { case _: Exception => 0.0 }

  def run(spark: SparkSession, opts: Opts, work: File): String = {
    val env = new Env(spark, work,
      if (opts.workload == "incremental_sync") IncrementalSync.Tables else Set.empty)
    val wl = opts.workload match {
      case "full_sync" => new FullSync(env, opts.seed, DefaultVouchers)
      case "incremental_sync" => new IncrementalSync(env, opts.seed, DefaultVouchers)
    }
    def log(m: String) = System.err.println(s"[perfbench] ${opts.workload}: $m")
    try {
      // the traced run reports no set-up time, so it sets up once
      val setups = (1 to (if (opts.trace) 1 else wl.setupReps)).map { _ =>
        val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
      }
      log(f"setup ${setups.map(s => f"$s%.2f").mkString(" ")} s")
      val rec = if (opts.trace) Some(new Recorder(spark)) else None
      val t1 = System.nanoTime()
      val warmFailed = wl.prepare(rec)
      rec.foreach(_.roots.clear())
      log(f"prepare ${(System.nanoTime() - t1) / 1e9}%.2f s")
      val results = scala.collection.mutable.ArrayBuffer.empty[OpResult]
      // a run measures `seconds` of timed operations, so the number of
      // samples does not hinge on how long the checks between them take;
      // a traced operation also serves the reports, so there its whole
      // wall time counts
      val steal0 = stealSeconds()
      val t2 = System.nanoTime()
      var measured = 0.0
      var i = 0
      while (measured < opts.seconds) {
        quiesce()
        val t0 = System.nanoTime()
        val r = wl.op(i, rec)
        results += r
        measured += (if (rec.isDefined) (System.nanoTime() - t0) / 1e9 else r.samples.sum)
        i += 1
      }
      log(f"cpu steal while measuring ${stealSeconds() - steal0}%.2f s")
      val finishFailed = wl.finish(rec)
      val samples = results.flatMap(_.samples).toSeq
      val failed = results.map(_.failed).sum
      val errors = wl.errors
      errors.foreach(e => log(s"FAKE TALLY ERROR: $e"))
      val correct = failed == 0 && warmFailed == 0 && finishFailed == 0 && errors.isEmpty
      log(f"samples ${samples.map(x => f"$x%.3f").mkString(" ")} s, failed $failed")
      results.flatMap(_.extra.get("noop_tick_s")).headOption.foreach { _ =>
        log(f"noop_tick_s median ${median(results.flatMap(_.extra.get("noop_tick_s")).toSeq)}%.3f s")
      }
      val metrics: Seq[(String, Double, String)] = rec match {
        case None => Seq(
          ("op_s", median(samples), "s"),
          ("warehouse_mb", median(results.flatMap(_.extra.get("warehouse_mb")).toSeq), "MB"),
          ("setup_s", median(setups), "s"))
        case Some(r) =>
          val names = Reports.Names
          def of(root: String) =
            r.roots.filter(_.name == root).map(Layers.of(r, _, names)).toSeq
          val (ops, noop, pass, operators) =
            (of("op"), of("noop"), of("pass"), of("operators"))
          r.write(new File(sys.props.getOrElse("perfbench.spans",
            new File(work, "spans.json").getPath)))
          Layers.metrics(names).map { case (n, unit) =>
            val vs = n match {
              case "sync.noop_tick_s" => noop.map(_("trace.op_s"))
              case "sync.noop_tick_jobs" => noop.map(_("spark.jobs"))
              case _ if n.startsWith("reports.") => pass.map(_(n))
              case _ if n.startsWith("operators.") => operators.map(_(n))
              // an operation and the report pass after it, whose q50
              // resolves its FK through SurrogateFk
              case _ if n.startsWith("surrogatefk.") =>
                ops.map(_(n)).zipAll(pass.map(_(n)), 0.0, 0.0).map { case (a, b) => a + b }
              case _ => ops.map(_(n))
            }
            (n, if (vs.isEmpty) 0.0 else median(vs), unit)
          }
      }
      log(f"measured and checked in ${(System.nanoTime() - t2) / 1e9}%.1f s")
      metrics.foreach { case (n, v, u) => println(f"$n%-40s $v%14.6f $u") }
      val body = metrics.map { case (n, v, u) =>
        s""""$n": {"value": $v, "unit": "$u"}""" }.mkString(", ")
      s"""{"correct": $correct, "attempted": ${samples.size}, "failed": $failed, "metrics": {$body}}"""
    } finally wl.close()
  }
}
