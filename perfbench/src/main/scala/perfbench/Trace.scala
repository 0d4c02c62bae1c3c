package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import graft.sources.{TableSpec, TallyXml}
import graft.tally.{TallySource, Warehouse, XmlTallySource}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call into a layer. `counts` holds the work
  * the call did (rows, bytes, files). */
final class Span(val id: Int, val parent: Int, val name: String,
    val start: Long) {
  var end: Long = -1L
  // wall clock, to line spans up with the listener's job times
  val startMs: Long = System.currentTimeMillis()
  var endMs: Long = -1L
  val counts: mutable.Map[String, Double] = mutable.Map.empty
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
  def seconds: Double = (end - start) / 1e9
}

/** A Spark job as the listener saw it, attributed to the span that was
  * open on the submitting thread. `fk` marks jobs whose SQL plan holds
  * SurrogateFk's lookup join, the one layer with no call seam. */
final class JobRec(val span: Int, val startMs: Long, val fk: Boolean) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
}

/** In-memory span recorder for the traced run. Spans nest on the driver
  * thread; the open span's id travels to Spark as a thread-local
  * property, so each job is charged to the call that submitted it. The
  * recorder writes its spans out when the benchmark ends. */
final class Recorder(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  val jobs: mutable.Map[Int, JobRec] = mutable.Map.empty
  private val stageJob = mutable.Map.empty[Int, Int]
  private val fkExec = mutable.Map.empty[Long, Boolean]
  private var planningMs = 0L
  private val Prop = "perfbench.span"

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Recorder.this.synchronized {
        val fk = s.physicalPlanDescription.contains("__fkn_") ||
          s.rootExecutionId.exists(r => fkExec.getOrElse(r, false))
        fkExec(s.executionId) = fk
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Recorder.this.synchronized {
        val props = Option(e.properties)
        val span = props.flatMap(p => Option(p.getProperty(Prop)))
          .map(_.toInt).getOrElse(-1)
        val fk = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .exists(id => fkExec.getOrElse(id.toLong, false))
        jobs(e.jobId) = new JobRec(span, e.time, fk)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Recorder.this.synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Recorder.this.synchronized {
        val info = e.stageInfo
        stageJob.get(info.stageId).flatMap(jobs.get).foreach { j =>
          j.stages += 1
          j.tasks += info.numTasks
          Option(info.taskMetrics).foreach { m =>
            j.taskMs += m.executorRunTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }
  private val planning = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Recorder.this.synchronized {
        planningMs += qe.tracker.phases.valuesIterator.map(_.durationMs).sum
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  sc.addSparkListener(listener)
  spark.listenerManager.register(planning)

  def detach(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planning)
  }

  /** Wait until Spark has delivered the events of everything run so far. */
  def drain(): Unit = org.apache.spark.BenchListenerBus.drain(sc)

  def planningSeconds: Double = synchronized(planningMs / 1e3)

  private def setProp(): Unit =
    sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)

  def open(name: String): Span = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
      System.nanoTime())
    spans += s
    stack ::= s
    setProp()
    s
  }

  def close(s: Span): Unit = {
    s.end = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    require(stack.headOption.contains(s), s"span ${s.name} closed out of order")
    stack = stack.tail
    setProp()
  }

  def span[T](name: String)(body: Span => T): T = {
    val s = open(name)
    try body(s) finally close(s)
  }

  val roots: mutable.ArrayBuffer[RootRec] = mutable.ArrayBuffer.empty

  /** Trace one operation as a root span. Spark's events of the work
    * before it and of the operation itself are drained at its edges, so
    * its jobs and planning time are complete when its metrics are read. */
  def root[T](name: String)(body: => T): T = {
    drain()
    val p0 = planningSeconds
    val jvm = new JvmWindow
    val first = spans.size
    val r = span(name)(_ => body)
    val (gc, heap) = (jvm.gcSeconds, jvm.heapPeakMb)
    drain()
    roots += RootRec(name, first until spans.size, gc, heap, planningSeconds - p0)
    r
  }

  /** Add children named `before` and `after` covering the gaps before
    * the first and after the last child of `s` — used where a layer's
    * call runs two steps with no seam between them (TDL build before
    * the transport, XML parsing after it, inside one `XmlTallySource`
    * call). */
  def splitEdges(s: Span, before: String, after: String): Unit = {
    val kids = spans.view.drop(s.id + 1).filter(_.parent == s.id).toSeq
    if (kids.nonEmpty) {
      val now = System.nanoTime()
      val b = new Span(spans.size, s.id, before, s.start)
      b.end = kids.head.start
      spans += b
      val a = new Span(spans.size, s.id, after, kids.last.end)
      a.end = now
      spans += a
    }
  }

  def write(out: File): Unit = {
    out.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      w.println("{\"spans\": [")
      w.println(spans.map { s =>
        val counts = s.counts.map { case (k, v) => s"\"$k\": $v" }.mkString(", ")
        s"""  {"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
          s""""start_ns": ${s.start}, "end_ns": ${s.end}, "counts": {$counts}}"""
      }.mkString(",\n"))
      w.println("], \"jobs\": [")
      w.println(synchronized(jobs.toSeq.sortBy(_._1)).map { case (id, j) =>
        s"""  {"job": $id, "span": ${j.span}, "fk": ${j.fk}, "start_ms": ${j.startMs}, """ +
          s""""end_ms": ${j.endMs}, "stages": ${j.stages}, "tasks": ${j.tasks}, """ +
          s""""task_ms": ${j.taskMs}}"""
      }.mkString(",\n"))
      w.println("]}")
    } finally w.close()
  }
}

/** Pass-through transport that records each Tally exchange as an
  * `http` span with the response's size and row count. With
  * `measureTsv` it also computes the TSV the loader will derive, for
  * the driver-memory figure; that work runs in a `trace.count` span,
  * which the run reports as tracing overhead. */
final class TracedTransport(rec: Recorder, inner: String => String,
    measureTsv: Boolean) extends (String => String) {
  def apply(tdl: String): String = {
    val (resp, http) = rec.span("http")(s => (inner(tdl), s))
    rec.span("trace.count") { _ =>
      http.add("response_chars", resp.length)
      http.add("rows", TraceCounts.rows(resp))
      if (measureTsv) {
        val tsv = TallyXml.xmlToTsv(resp)
        http.add("held_chars", TraceCounts.heldChars(resp, tsv))
      }
    }
    resp
  }
}

object TraceCounts {
  /** Rows in a Tally response: every row opens with its first field. */
  def rows(resp: String): Long = {
    var n = 0L; var i = resp.indexOf("<F01>")
    while (i >= 0) { n += 1; i = resp.indexOf("<F01>", i + 5) }
    n
  }

  /** Characters the driver holds at once for one extract: the response,
    * the TSV and its split lines. */
  def heldChars(resp: String, tsv: String): Double =
    resp.length.toDouble + tsv.length + tsv.split("\r\n").iterator.map(_.length).sum

  def files(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f))

  /** Parquet files under `dir` that no other snapshot links to: the
    * ones the last write created. */
  def freshParquet(dir: File): Seq[File] =
    files(dir).filter(f => f.getName.endsWith(".parquet") &&
      Files.getAttribute(f.toPath, "unix:nlink").asInstanceOf[Int] == 1)
}

/** [[TallySource]] decorator: one span per call. */
final class TracedSource(rec: Recorder, inner: XmlTallySource)
    extends TallySource {
  private def extract[T](name: String)(body: => T): T =
    rec.span(name) { s =>
      val r = body
      rec.splitEdges(s, "tallyxml.tdl", "tallyxml.xml_to_tsv")
      r
    }
  def lastAlterIdMaster: Long = extract("source.probe")(inner.lastAlterIdMaster)
  def lastAlterIdTransaction: Long =
    extract("source.probe")(inner.lastAlterIdTransaction)
  def diffSnapshot(spec: TableSpec): DataFrame =
    extract("source.diff_snapshot")(inner.diffSnapshot(spec))
  def incrementalRows(spec: TableSpec, since: Long): DataFrame =
    extract("source.incremental_rows")(inner.incrementalRows(spec, since))
  def voucherNumbers(): DataFrame =
    extract("source.voucher_numbers")(inner.voucherNumbers())
}

/** [[Warehouse]] decorator: one span per call, with the files and bytes
  * each write produced. `rewritePartitions` delegates to the wrapped
  * warehouse, so partition-level rewrites behave exactly as untraced.
  * `liveDir` names the directory holding a table's live files. */
final class TracedWarehouse(rec: Recorder, inner: Warehouse,
    liveDir: String => File) extends Warehouse {
  def read(table: String): DataFrame =
    rec.span("warehouse.read")(_ => inner.read(table))
  def exists(table: String): Boolean = inner.exists(table)

  def write(table: String, df: DataFrame): Unit =
    rec.span("warehouse.write") { s =>
      inner.write(table, df)
      rec.span("trace.count")(_ => countWritten(s, table))
    }

  override def rewritePartitions(table: String, keys: DataFrame,
      transform: DataFrame => DataFrame): Unit =
    rec.span("warehouse.rewrite") { s =>
      val before = rec.span("trace.count")(_ => liveDir(table).getCanonicalPath)
      val present = rec.span("trace.count")(_ => buckets(new File(before)).size.max(1))
      inner.rewritePartitions(table, keys, transform)
      rec.span("trace.count") { _ =>
        s.add("buckets_present", present)
        val live = liveDir(table)
        if (live.getCanonicalPath != before) {
          val fresh = countWritten(s, table)
          val parts = buckets(live)
          s.add("buckets_rewritten",
            if (parts.isEmpty) 1 else parts.count(fresh.contains))
        }
      }
    }

  private def buckets(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("_pt="))

  /** Count the parquet files this call wrote: files of the live table
    * that no other snapshot links to. Returns their directories. */
  private def countWritten(s: Span, table: String): Set[File] = {
    val fresh = TraceCounts.freshParquet(liveDir(table))
    s.add("files", fresh.size)
    s.add("written_bytes", fresh.iterator.map(_.length).sum.toDouble)
    fresh.map(_.getParentFile).toSet
  }
}

