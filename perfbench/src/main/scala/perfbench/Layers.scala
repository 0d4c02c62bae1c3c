package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** JVM counters read around one traced operation. */
final class JvmWindow {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcMs = gcs.map(_.getCollectionTime.max(0L)).sum
  private val gc0 = { heap.foreach(_.resetPeakUsage()); gcMs }
  def gcSeconds: Double = (gcMs - gc0) / 1e3
  def heapPeakMb: Double = heap.map(_.getPeakUsage.getUsed).sum / 1e6
}

/** One traced operation: its root span and the spans under it (`ids`,
  * root first), with the JVM and planning time it took. */
final case class RootRec(name: String, ids: Range, gcS: Double,
    heapPeakMb: Double, planningS: Double)

/** The per-layer metrics of the traced run, computed from the spans and
  * jobs of one operation. Every workload reports every metric; a layer
  * an operation never calls reads 0. */
object Layers {

  /** (name, unit) in output order. */
  def metrics(reports: Seq[String]): Seq[(String, String)] = {
    def s(n: String) = (n, "s")
    def c(n: String) = (n, "count")
    def mb(n: String) = (n, "MB")
    Seq(c("http.calls"), s("http.busy_s"), mb("http.response_mb"),
      s("tallyxml.tdl_s"), s("tallyxml.xml_to_tsv_s"), c("tallyxml.xml_chars"),
      s("tallyxml.tsv_to_rows_s"), c("tallyxml.rows"), mb("tallyxml.driver_mb_held"),
      s("surrogatefk.busy_s"), c("surrogatefk.spark_jobs"),
      s("source.probe_s"), s("source.diff_snapshot_s"), c("source.diff_rows"),
      s("source.incremental_rows_s"), c("source.incremental_rows"),
      s("source.voucher_numbers_s"), c("source.voucher_number_rows"),
      s("merge.self_s"), c("merge.spark_jobs"), c("merge.rows_deleted"),
      c("merge.rows_appended"),
      s("warehouse.read_s"), s("warehouse.write_s"), c("warehouse.write_calls"),
      s("warehouse.rewrite_s"), c("warehouse.rewrite_calls"),
      ("warehouse.bucket_frac", "ratio"), mb("warehouse.written_mb"),
      c("warehouse.files_written"), ("warehouse.mb_per_changed_row", "MB/row")) ++
    reports.map(r => s(s"reports.${r}_s")) ++
    Seq(c("reports.spark_jobs"), c("reports.tree_walk_jobs")) ++
    Operators.Names.map(q => s(s"operators.${q}_s")) ++
    Seq(c("operators.spark_jobs"),
      c("spark.jobs"), c("spark.stages"), c("spark.tasks"), s("spark.task_s"),
      s("spark.driver_only_s"), s("spark.planning_s"), mb("spark.shuffle_write_mb"),
      mb("spark.shuffle_read_mb"), mb("spark.spill_mb"),
      s("jvm.gc_s"), mb("jvm.heap_peak_mb"),
      s("sync.noop_tick_s"), c("sync.noop_tick_jobs"),
      s("trace.op_s"), s("trace.unattributed_s"), s("trace.count_s"))
  }

  /** Union length of [start, end] intervals, in the intervals' unit. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var reach = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { total += b - from; reach = b }
    }
    total
  }

  /** Metrics of one traced operation. */
  def of(rec: Recorder, op: RootRec, reports: Seq[String]): Map[String, Double] = {
    val ids = op.ids
    val spans = ids.map(rec.spans)
    val root = spans.head
    val inside = ids.toSet
    val kids = spans.tail.groupBy(_.parent)
    def self(s: Span) = s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum
    def named(n: String) = spans.filter(_.name == n)
    def dur(n: String) = named(n).map(_.seconds).sum
    def selfOf(n: String) = named(n).map(self).sum
    def count(n: String, k: String) = named(n).map(_.counts.getOrElse(k, 0.0)).sum
    def under(parent: String, k: String) =
      spans.filter(s => s.parent >= 0 && rec.spans(s.parent).name == parent)
        .map(_.counts.getOrElse(k, 0.0)).sum
    val jobs = rec.synchronized(rec.jobs.values.filter(j => inside(j.span)).toSeq)
    def spanName(j: JobRec) = rec.spans(j.span).name
    val fk = jobs.filter(_.fk)
    val fkBusy = covered(fk.map(j => (j.startMs, j.endMs))) / 1e3
    val reportJobs = jobs.filter(j => spanName(j).startsWith("reports."))
    val operatorJobs = jobs.filter(j => spanName(j).startsWith("operators."))
    val deleted = count("merge", "rows_deleted")
    val appended = count("merge", "rows_appended")
    val written = (count("warehouse.write", "written_bytes") +
      count("warehouse.rewrite", "written_bytes")) / 1e6
    val present = count("warehouse.rewrite", "buckets_present")
    val rootMs = (root.startMs, root.endMs)
    Map(
      "http.calls" -> named("http").size.toDouble,
      "http.busy_s" -> selfOf("http"),
      "http.response_mb" -> count("http", "response_chars") * 2 / 1e6,
      "tallyxml.tdl_s" -> selfOf("tallyxml.tdl"),
      "tallyxml.xml_to_tsv_s" -> selfOf("tallyxml.xml_to_tsv"),
      "tallyxml.xml_chars" -> count("http", "response_chars"),
      "tallyxml.tsv_to_rows_s" -> selfOf("tallyxml.tsv_to_rows"),
      "tallyxml.rows" -> count("http", "rows"),
      "tallyxml.driver_mb_held" ->
        (spans.map(_.counts.getOrElse("held_chars", 0.0)) :+ 0.0).max * 2 / 1e6,
      "surrogatefk.busy_s" -> fkBusy,
      "surrogatefk.spark_jobs" -> fk.size.toDouble,
      "source.probe_s" -> dur("source.probe"),
      "source.diff_snapshot_s" -> dur("source.diff_snapshot"),
      "source.diff_rows" -> under("source.diff_snapshot", "rows"),
      "source.incremental_rows_s" -> dur("source.incremental_rows"),
      "source.incremental_rows" -> under("source.incremental_rows", "rows"),
      "source.voucher_numbers_s" -> dur("source.voucher_numbers"),
      "source.voucher_number_rows" -> under("source.voucher_numbers", "rows"),
      "merge.self_s" -> (selfOf("merge") - fkBusy).max(0.0),
      "merge.spark_jobs" -> jobs.count(j => !j.fk && spanName(j) == "merge").toDouble,
      "merge.rows_deleted" -> deleted,
      "merge.rows_appended" -> appended,
      "warehouse.read_s" -> dur("warehouse.read"),
      "warehouse.write_s" -> dur("warehouse.write"),
      "warehouse.write_calls" -> named("warehouse.write").size.toDouble,
      "warehouse.rewrite_s" -> dur("warehouse.rewrite"),
      "warehouse.rewrite_calls" -> named("warehouse.rewrite").size.toDouble,
      "warehouse.bucket_frac" ->
        (if (present > 0) count("warehouse.rewrite", "buckets_rewritten") / present else 0.0),
      "warehouse.written_mb" -> written,
      "warehouse.files_written" ->
        (count("warehouse.write", "files") + count("warehouse.rewrite", "files")),
      "warehouse.mb_per_changed_row" ->
        (if (deleted + appended > 0) written / (deleted + appended) else 0.0),
      "reports.spark_jobs" -> reportJobs.size.toDouble,
      "reports.tree_walk_jobs" -> reportJobs.count(j =>
        Reports.TreeWalks(spanName(j).stripPrefix("reports."))).toDouble,
      "operators.spark_jobs" -> operatorJobs.size.toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> jobs.map(_.stages).sum.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.task_s" -> jobs.map(_.taskMs).sum / 1e3,
      "spark.driver_only_s" -> (root.seconds - covered(jobs.map(j =>
        (j.startMs.max(rootMs._1), j.endMs.min(rootMs._2)))) / 1e3).max(0.0),
      "spark.planning_s" -> op.planningS,
      "spark.shuffle_write_mb" -> jobs.map(_.shuffleWrite).sum / 1e6,
      "spark.shuffle_read_mb" -> jobs.map(_.shuffleRead).sum / 1e6,
      "spark.spill_mb" -> jobs.map(_.spill).sum / 1e6,
      "jvm.gc_s" -> op.gcS,
      "jvm.heap_peak_mb" -> op.heapPeakMb,
      "trace.op_s" -> root.seconds,
      "trace.unattributed_s" -> self(root),
      "trace.count_s" -> dur("trace.count")) ++
    reports.map(r => s"reports.${r}_s" -> dur(s"reports.$r")) ++
    Operators.Names.map(q => s"operators.${q}_s" -> dur(s"operators.$q"))
  }
}
