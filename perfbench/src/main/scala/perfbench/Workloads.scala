package perfbench

import java.io.File
import java.nio.file.{Files, LinkOption}

import graft.Main
import graft.sources.{SpecLoader, TableSpec, TallyHttp, TallyXml}
import graft.tally.{MergeJob, ParquetWarehouse, PartitionedParquetWarehouse,
  XmlTallySource}
import org.apache.spark.sql.SparkSession

/** What one operation produced: its timed samples (one per sync, one per
  * report), how many of them gave a wrong result, and side figures. */
final case class OpResult(samples: Seq[Double], failed: Int,
    extra: Map[String, Double] = Map.empty)

/** Inputs every workload shares: the session, a private work directory
  * and the export definition the syncs run — `company.yaml`, or only its
  * tables named in `only`. */
final class Env(val spark: SparkSession, val work: File,
    only: Set[String] = Set.empty) {
  private val yaml = {
    val text = new String(getClass.getResourceAsStream(
      "/perfbench/company.yaml").readAllBytes(), "UTF-8")
    if (only.isEmpty) text
    else {
      val y = new org.yaml.snakeyaml.Yaml()
      val root = y.load[java.util.Map[String, java.util.List[java.util.Map[String, Any]]]](text)
      root.values().forEach(_.removeIf(t => !only(String.valueOf(t.get("name")))))
      y.dump(root)
    }
  }
  val yamlFile: File = new File(work, "company.yaml")
  Files.writeString(yamlFile.toPath, yaml)
  val (masters, transactions) = SpecLoader.load(yaml)
  val specs: Seq[TableSpec] = masters ++ transactions
  /** The report programs, bound to this definition's accounting table. */
  lazy val reports: Seq[(String, graft.tally.TallyTables => org.apache.spark.sql.DataFrame)] =
    Reports.entries(specs.find(_.name == "trn_accounting").get)
  private val defaults = Main.Config()

  def config(fake: FakeTally, dir: File, mode: String): Main.Config =
    defaults.copy(server = fake.host, port = fake.port, schema = dir.getPath,
      definition = yamlFile.getPath, syncMode = mode)

  /** The TDL requests a full sync sends, one per table. */
  def fullRequests: Seq[String] = specs.map(s => TallyXml.substituteParams(
    TallyXml.generateTdl(s, defaults.company), defaults.fromDate,
    defaults.toDate, defaults.company))

  def http(fake: FakeTally): TallyHttp = new TallyHttp(fake.host, fake.port)
}

object Disk {
  def delete(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(delete)
    f.delete()
  }

  /** Copy a tree as hard links: a restored warehouse shares its files
    * with the original, which stays untouched because the warehouse
    * never rewrites a file in place. */
  def linkCopy(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty[File])
        .foreach(f => linkCopy(f, new File(dst, f.getName)))
    } else Files.createLink(dst.toPath, src.toPath)

  /** On-disk size of a tree, counting each inode once. */
  def mb(dir: File): Double = {
    val seen = scala.collection.mutable.Set.empty[Any]
    TraceCounts.files(dir).iterator.filter { f =>
      seen.add(Files.getAttribute(f.toPath, "unix:ino", LinkOption.NOFOLLOW_LINKS))
    }.map(_.length).sum / 1e6
  }
}

/** One benchmark workload. `setup` builds its inputs from scratch
  * (generator, fake render, warehouse bootstrap); `op` runs one timed
  * operation, traced when a recorder is given, and checks its output
  * outside the timed region. Operations leave their warehouses in place
  * until the run ends, so deleting thousands of files never overlaps the
  * next timed operation. */
abstract class Workload(env: Env, seed: Long, vouchers: Int)
    extends AutoCloseable {
  protected val spark: SparkSession = env.spark
  protected var company: Company = _
  protected var fake: FakeTally = _

  def setup(): Unit = {
    close()
    company = Company.generate(seed, vouchers)
    fake = new FakeTally(company)
    fake.prerender(env.fullRequests)
  }

  def op(i: Int, rec: Option[Recorder]): OpResult

  /** How many times a run sets up; `setup_s` is their median. */
  def setupReps: Int = 5

  /** Untimed work between set-up and measurement: the references the
    * checks compare with, and whatever warm-up the workload needs. */
  def prepare(rec: Option[Recorder]): Int

  /** Untimed work after measurement, checked like an operation: returns
    * the number of wrong results. */
  def finish(rec: Option[Recorder]): Int = 0

  /** Problems the fake saw; any of them makes the run incorrect. */
  def errors: List[String] = Option(fake).map(_.errors).getOrElse(Nil)

  def close(): Unit = Option(fake).foreach(_.close())

  protected def time[T](body: => T): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  protected def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  protected def tables(dir: File, partitioned: Boolean) = {
    val wh = if (partitioned) new PartitionedParquetWarehouse(spark, dir.getPath)
      else new ParquetWarehouse(spark, dir.getPath)
    env.specs.map(s => s.name -> wh.read(s.name)).toMap
  }

  protected def verify(what: String, got: Map[String, String],
      want: Map[String, String]): Int = {
    val bad = Checks.mismatches(got, want)
    bad.foreach(t => log(s"CHECK FAILED: $what: table $t: got ${got.get(t)} want ${want.get(t)}"))
    if (bad.isEmpty) 0 else 1
  }
}

/** `full_sync`: `Main.run --graft-sync full` into a fresh parquet
  * directory over the real HTTP transport — the paper's own ETL path.
  * The traced run then serves the report programs from the result, and
  * after measuring runs the `SparkEntry` operators once ([[Operators]]). */
final class FullSync(env: Env, seed: Long, vouchers: Int)
    extends Workload(env, seed, vouchers) {
  private lazy val expected =
    Checks.digests(Expected.tables(spark, company, env.specs))

  private def corpus = new File(env.work, "corpus")

  /** One untimed sync: JIT warm-up, as every later sync runs warm. The
    * traced run also computes the reports' reference rows, writes the
    * operator corpus and runs the operators once, which builds the
    * indexes and staged arrivals they keep under the index directory. */
  def prepare(rec: Option[Recorder]): Int = {
    val warm = if (rec.isDefined) {
      prepareReports()
      Disk.delete(corpus)
      Operators.writeCorpus(spark, corpus)
      operatorPass(Operators.Names.map(n => n -> Operators.run(spark, corpus, n)), "warm-up")
    } else 0
    warm + op(-1, None).failed
  }

  /** The traced operator pass, a root span of its own. */
  override def finish(rec: Option[Recorder]): Int = rec.map { r =>
    operatorPass(r.root("operators")(Operators.Names.map(n =>
      n -> r.span(s"operators.$n")(_ => Operators.run(spark, corpus, n)))), "traced pass")
  }.getOrElse(0)

  /** The number of entries whose rows differ from their pinned hash. */
  private def operatorPass(rows: Seq[(String, Array[org.apache.spark.sql.Row])],
      what: String): Int = rows.count { case (name, got) =>
    val hash = Checks.rowsHash(got)
    val bad = !Operators.pinned.get(name).contains(hash)
    if (bad) log(s"CHECK FAILED: operator $name in the $what: rows hash to $hash, " +
      s"pinned ${Operators.pinned.getOrElse(name, "nothing")}")
    bad
  }

  def op(i: Int, rec: Option[Recorder]): OpResult = {
    val dir = new File(env.work, s"full-$i")
    val secs = time(rec match {
      case None => Main.run(spark, env.config(fake, dir, "full"))
      case Some(r) => r.root("op")(traced(r, dir))
    })
    val mb = Disk.mb(dir)
    val loaded = tables(dir, partitioned = false)
    val failed = verify(s"full sync $i", Checks.digests(loaded), expected) +
      rec.map(reportPass(_, loaded, s"full sync $i")).getOrElse(0)
    OpResult(Seq(secs), failed, Map("warehouse_mb" -> mb))
  }

  private var expectedReports: Map[String, String] = _

  /** Each report over the generator's own tables, the reference for
    * [[reportPass]]. */
  private def prepareReports(): Unit = {
    val t = Reports.tables(Expected.tables(spark, company, env.specs)
      .map { case (n, df) => n -> df.localCheckpoint(eager = true) })
    expectedReports = env.reports.map { case (name, f) =>
      name -> Checks.rowsHash(f(t).collect()) }.toMap
  }

  /** Serve the 18 report programs once from `wh`'s tables, as a root
    * span of its own, so the traced run measures the report layer. A
    * loader round trip must leave every report's rows unchanged: returns
    * the number of reports whose rows differ from the generator's. */
  private def reportPass(r: Recorder, wh: Map[String, org.apache.spark.sql.DataFrame],
      what: String): Int = {
    val t = Reports.tables(wh)
    val rows = r.root("pass")(env.reports.map { case (name, f) =>
      name -> r.span(s"reports.$name")(_ => f(t).collect()) })
    rows.count { case (name, got) =>
      val bad = expectedReports(name) != Checks.rowsHash(got)
      if (bad) log(s"CHECK FAILED: report $name after $what: rows differ from the generator's")
      bad
    }
  }

  /** `Main.run`'s full path has no seam between its steps, so the
    * traced run calls the same public functions in the same order. */
  private def traced(r: Recorder, dir: File): Unit = {
    val cfg = env.config(fake, dir, "full")
    val transport = new TracedTransport(r, env.http(fake).post, measureTsv = false)
    val wh = new TracedWarehouse(r, new ParquetWarehouse(spark, dir.getPath),
      t => new File(dir, t))
    env.specs.foreach { spec =>
      val tdl = r.span("tallyxml.tdl")(_ => TallyXml.substituteParams(
        TallyXml.generateTdl(spec, cfg.company), cfg.fromDate, cfg.toDate,
        cfg.company))
      val xml = transport(tdl)
      val tsv = r.span("tallyxml.xml_to_tsv")(_ => TallyXml.xmlToTsv(xml))
      val df = r.span("tallyxml.tsv_to_rows") { s =>
        val df = TallyXml.tsvToDataFrame(spark, tsv, spec)
        r.span("trace.count")(_ => s.add("held_chars", TraceCounts.heldChars(xml, tsv)))
        df
      }
      wh.write(spec.name, df)
    }
  }
}

/** `incremental_sync`: restore the bootstrapped warehouse, apply one
  * seeded change batch at the fake, run one change-carrying tick of
  * `Main.run --graft-sync incremental`, then one tick with no change.
  * The sync definition holds the four tables the merge's mechanisms
  * need (see [[IncrementalSync.Tables]]). */
final class IncrementalSync(env: Env, seed: Long, vouchers: Int)
    extends Workload(env, seed, vouchers) {
  private var changed: Company = _
  private def base = new File(env.work, "base")

  override def setup(): Unit = {
    super.setup()
    changed = Company.changeBatch(company, seed)
    Disk.delete(base)
    Main.run(spark, env.config(fake, base, "incremental"))
  }

  /** The law `IncrementalSyncCliSpec` checks: after the merge, the
    * warehouse equals a full load of the source's current state. The
    * reference is the generator's own tables for that state — what a
    * full load produces, as `full_sync` checks on every run — rather than
    * a second full load through HTTP, which would cost as much as the
    * tick itself. */
  private var expected: Map[String, String] = _

  /** A set-up bootstraps a warehouse and costs a sixth of a run; the
    * time a run may take leaves room for one. */
  override def setupReps: Int = 1

  /** The references the checks compare with, and one untimed operation
    * that warms the JIT and Spark's code-generation cache (a cold tick
    * varies by a third from run to run) and has the fake render the
    * responses to every request the timed ticks send, which restore the
    * same warehouse and so send the same requests. */
  def prepare(rec: Option[Recorder]): Int = {
    expected = Checks.digests(Expected.tables(spark, changed, env.specs))
    op(-1, None).failed
  }

  def op(i: Int, rec: Option[Recorder]): OpResult = {
    val dir = new File(env.work, s"tick-$i")
    Disk.linkCopy(base, dir)
    fake.company = changed
    val (tick, noop) =
      try rec match {
        case None =>
          val cfg = env.config(fake, dir, "incremental")
          (time(Main.run(spark, cfg)), time(Main.run(spark, cfg)))
        case Some(r) =>
          (time(r.root("op")(traced(r, dir))), time(r.root("noop")(traced(r, dir))))
      } finally fake.company = company
    val mb = Disk.mb(dir)
    val failed = verify(s"incremental tick $i",
      Checks.digests(tables(dir, partitioned = true)), expected)
    OpResult(Seq(tick), failed, Map("warehouse_mb" -> mb, "noop_tick_s" -> noop))
  }

  /** One tick as `Main.run`'s incremental mode runs it (`SyncRunner.
    * incremental` over tables that all exist), with the transport,
    * source and warehouse wrapped in tracing decorators. */
  private def traced(r: Recorder, dir: File): Unit = {
    val cfg = env.config(fake, dir, "incremental")
    val wh = new PartitionedParquetWarehouse(spark, dir.getPath)
    val source = new TracedSource(r, new XmlTallySource(spark,
      new TracedTransport(r, env.http(fake).post, measureTsv = true),
      cfg.fromDate, cfg.toDate, cfg.company,
      voucherSpec = env.transactions.find(_.name == "trn_voucher")))
    val warehouse = new TracedWarehouse(r, wh, t => new File(wh.currentPath(t)))
    require(env.specs.forall(s => wh.exists(s.name)), "bootstrap incomplete")
    r.span("merge") { s =>
      val report = new MergeJob(spark, env.masters, env.transactions, source,
        warehouse).run()
      s.add("rows_deleted", report.deletedByTable.values.sum.toDouble)
      s.add("rows_appended", report.appendedByTable.values.sum.toDouble)
    }
  }
}

object IncrementalSync {
  /** The tables the incremental definition syncs: the ledger rename and
    * its cascade updates, the auto-numbered voucher type, vouchers with
    * their cascade-deleted ledger entries and surrogate FKs. A tick's
    * cost is about its Spark jobs, which grow with the tables it
    * merges; the full definition's tick does not fit a run's time. */
  val Tables: Set[String] = Set("mst_ledger", "mst_vouchertype",
    "trn_voucher", "trn_accounting")
}
