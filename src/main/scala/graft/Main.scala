package graft

import graft.server.GraftServer
import graft.sources.{Emitters, SpecLoader, SqlScript, TableSpec, TallyHttp,
  TallyXml}
import graft.tally.{ContinuousSync, MergeJob, ParquetWarehouse,
  PartitionedParquetWarehouse, XmlTallySource}
import java.util.concurrent.CancellationException
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI entry point with the reference's flag surface
  * (docs/commandline-options.md: `--parent-child value` overrides) —
  * the full-sync pipeline: YAML specs → TDL extract → normalize →
  * sink, plus TSV-file replay mode for offline runs.
  *
  * Supported flags (reference-compatible subset):
  *   --tally-server / --tally-port / --tally-company
  *   --tally-fromdate / --tally-todate  (yyyyMMdd or auto)
  *   --tally-master / --tally-transaction  (true|false)
  *   --tally-truncate       (false = append to existing tables — the
  *                           reference's year-by-year full-sync
  *                           pattern, docs/commandline-options.md
  *                           scenario 04)
  *   --database-technology  (parquet|csv|json)
  *   --database-schema      (output directory)
  *   --graft-definition     (YAML spec path)
  *   --graft-replay         (dir of <table>.data TSV files instead of
  *                           a live Tally server; full sync only)
  *   --graft-sync           (full|incremental — reference config.json
  *                           `sync`; incremental drives the MergeJob
  *                           against a bucketed parquet warehouse)
  *   --graft-frequency      (minutes between sync ticks; 0 = run once.
  *                           The reference's continuous mode,
  *                           src/index.mts:51-89)
  *   --graft-iterations     (tick bound for --graft-frequency; -1 =
  *                           forever, the reference default)
  *   --graft-postimport     (SQL script run against the parquet
  *                           warehouse after a full sync — the
  *                           reference's post-import-scripts/, S16)
  *   --graft-server-port    (start the GUI/server mode instead of a
  *                           one-shot sync; reference src/server.mts)
  *   --graft-bind           (server bind address; defaults to
  *                           127.0.0.1 — the endpoints are
  *                           unauthenticated, so non-loopback
  *                           exposure is an explicit opt-in)
  *   --graft-config         (config JSON served by /loadconfig —
  *                           reference ./config.json)
  *   --graft-companies      (CSV with header `schema,company` — one
  *                           sync per row into its own schema, the
  *                           reference's multi-company pattern:
  *                           platform/powershell/
  *                           sync-multiple-company.ps1 + scenario 03)
  *
  * A full sync loads its tables concurrently, where the reference
  * loads them one after another (src/tally.mts:337); an incremental
  * sync loads the tables its warehouse lacks the same way, after the
  * merge. Each table runs extract → XML→TSV → typed rows → write on
  * one worker of a fixed pool of `min(tables, available driver cores)`
  * threads named `graft-sync-<n>`. A worker's own work (response
  * decode, the XML→TSV regex chain, the local relation build) runs on
  * the driver, so driver cores bound the pool. Every Tally request of
  * a run, live or injected, passes through one lock, so Tally still
  * sees one request at a time, as the reference sends them; one
  * table's conversion and write overlap the next table's request. The
  * price is driver memory: up to pool-size tables' responses and TSVs
  * are held at once, not one (streaming the response into rows is
  * ROADMAP Direction B.2). A table that fails fails the sync with its
  * own exception, after the tables already in flight have finished;
  * queued tables never start, and no request is sent after the
  * failure, so a hung Tally fails the sync after one timeout.
  */
object Main {

  final case class Config(
      server: String = "localhost", port: Int = 9000,
      company: Option[String] = None,
      fromDate: String = "20230401", toDate: String = "20240331",
      syncMaster: Boolean = true, syncTransaction: Boolean = true,
      truncate: Boolean = true,
      technology: String = "parquet", schema: String = "./warehouse",
      definition: String = "tally-export-config.yaml",
      replayDir: Option[String] = None,
      syncMode: String = "full",
      frequencyMinutes: Int = 0,
      iterations: Int = -1,
      postImport: Option[String] = None,
      serverPort: Option[Int] = None,
      bindHost: String = "127.0.0.1",
      configFile: String = "config.json",
      companiesCsv: Option[String] = None)

  def parseArgs(args: Array[String]): Config = {
    val m = args.sliding(2, 2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case Array(k, _) =>
        throw new IllegalArgumentException(s"expected a --flag, got $k")
      case Array(k) =>
        throw new IllegalArgumentException(s"flag $k is missing its value")
    }.toMap
    Config(
      server = m.getOrElse("tally-server", "localhost"),
      port = m.get("tally-port").map(_.toInt).getOrElse(9000),
      company = m.get("tally-company"),
      fromDate = m.getOrElse("tally-fromdate", "20230401"),
      toDate = m.getOrElse("tally-todate", "20240331"),
      syncMaster = m.get("tally-master").forall(_.toBoolean),
      syncTransaction = m.get("tally-transaction").forall(_.toBoolean),
      truncate = m.get("tally-truncate").forall(_.toBoolean),
      technology = m.getOrElse("database-technology", "parquet"),
      schema = m.getOrElse("database-schema", "./warehouse"),
      definition = m.getOrElse("graft-definition", "tally-export-config.yaml"),
      replayDir = m.get("graft-replay"),
      syncMode = m.getOrElse("graft-sync", "full"),
      frequencyMinutes = m.get("graft-frequency").map(_.toInt).getOrElse(0),
      iterations = m.get("graft-iterations").map(_.toInt).getOrElse(-1),
      postImport = m.get("graft-postimport"),
      serverPort = m.get("graft-server-port").map(_.toInt),
      bindHost = m.getOrElse("graft-bind", "127.0.0.1"),
      configFile = m.getOrElse("graft-config", "config.json"),
      companiesCsv = m.get("graft-companies"))
  }

  /** Overlay a `/sync`-posted config onto a base Config. Accepts the
    * reference config.json's section-qualified keys (`tally.server`,
    * `database.schema` — see GraftServer.flatJson), this CLI's flag
    * names, and bare keys, in that precedence order. */
  private[graft] def merged(base: Config, m: Map[String, String]): Config = {
    def k(keys: String*): Option[String] = keys.collectFirst {
      case key if m.contains(key) => m(key)
    }
    base.copy(
      server = k("tally.server", "tally-server", "server")
        .getOrElse(base.server),
      port = k("tally.port", "tally-port", "port")
        .map(_.toInt).getOrElse(base.port),
      company = k("tally.company", "tally-company", "company")
        .filter(_.nonEmpty).orElse(base.company),
      fromDate = k("tally.fromdate", "tally-fromdate", "fromdate")
        .getOrElse(base.fromDate),
      toDate = k("tally.todate", "tally-todate", "todate")
        .getOrElse(base.toDate),
      syncMaster = k("tally.master", "tally-master", "master")
        .map(_.toBoolean).getOrElse(base.syncMaster),
      syncTransaction =
        k("tally.transaction", "tally-transaction", "transaction")
          .map(_.toBoolean).getOrElse(base.syncTransaction),
      technology =
        k("database.technology", "database-technology", "technology")
          .getOrElse(base.technology),
      schema = k("database.schema", "database-schema", "schema")
        .getOrElse(base.schema),
      definition = k("tally.definition", "graft-definition", "definition")
        .getOrElse(base.definition),
      syncMode = k("tally.sync", "graft-sync", "sync")
        .getOrElse(base.syncMode))
  }

  /** Server mode (reference src/server.mts): endpoints over a live
    * Tally transport; `/sync` runs [[run]] with the posted config
    * overlaid on the CLI's. Returned so callers (tests) can stop it;
    * [[main]] blocks forever. */
  def startServer(spark: SparkSession, cfg: Config,
      transportOverride: Option[String => String] = None): GraftServer = {
    val path = java.nio.file.Paths.get(cfg.configFile)
    if (!java.nio.file.Files.exists(path))
      java.nio.file.Files.write(path, "{}".getBytes("UTF-8"))
    val transport = transportOverride.getOrElse(
      new TallyHttp(cfg.server, cfg.port).post(_))
    lazy val srv: GraftServer = new GraftServer(
      cfg.serverPort.getOrElse(0),
      transport,
      posted => {
        val c = merged(cfg, posted)
        srv.log(s"sync started: mode=${c.syncMode} schema=${c.schema}")
        run(spark, c, transportOverride)
        srv.log("sync finished")
      },
      path,
      cfg.bindHost)
    srv.start()
    srv
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-sync")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (cfg.serverPort.isDefined) {
      val srv = startServer(spark, cfg)
      println(s"[graft] server started on http://localhost:${srv.boundPort}")
      synchronized { wait() } // serve until killed
    } else try run(spark, cfg) finally spark.stop()
  }

  /** `transportOverride` injects a canned Tally (tests / offline
    * replay of full request-response traces); `sleep` injects the
    * continuous-mode wait. */
  def run(spark: SparkSession, cfg: Config,
      transportOverride: Option[String => String] = None,
      sleep: Long => Unit = Thread.sleep): Unit = {
    // multi-company mode: one sync per CSV row, each into its own
    // schema (the reference drives this with an external loop over
    // `node index.mjs --database-schema ... --tally-company ...`)
    cfg.companiesCsv.foreach { csvPath =>
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(csvPath))
      require(!lines.isEmpty && lines.get(0).trim == "schema,company",
        s"$csvPath must start with the header `schema,company`")
      lines.stream().skip(1).forEach { line =>
        if (line.trim.nonEmpty) {
          val parts = line.split(",", 2).map(_.trim)
          require(parts.length == 2 && parts(0).nonEmpty,
            s"$csvPath: expected `schema,company`, got: $line")
          val Array(schema, company) = parts
          println(s"[graft] syncing company '$company' -> schema $schema")
          run(spark, cfg.copy(schema = schema,
            company = Some(company).filter(_.nonEmpty),
            companiesCsv = None), transportOverride, sleep)
        }
      }
      return
    }
    val yamlText = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(cfg.definition)), "UTF-8")
    val (masters, transactions) = SpecLoader.load(yamlText)
    val m = if (cfg.syncMaster) masters else Nil
    val t = if (cfg.syncTransaction) transactions else Nil
    val specs = m ++ t

    val tally: String => String = transportOverride.getOrElse(
      cfg.replayDir match {
        case Some(_) => identity // replay mode bypasses HTTP entirely
        case None => new TallyHttp(cfg.server, cfg.port).post
      })
    // one Tally request in flight per run, whichever worker sends it.
    // The run's first failure is kept: once it is set, a request not
    // yet sent fails without reaching Tally, and a request that fails
    // sets it before the lock lets the next one out
    val failure = new AtomicReference[Throwable]
    val requestLock = new Object
    val transport: String => String = request => requestLock.synchronized {
      if (failure.get != null)
        throw new CancellationException("not sent: a table already failed")
      try tally(request)
      catch { case e: Throwable => failure.compareAndSet(null, e); throw e }
    }

    if (cfg.syncMode == "incremental") {
      // the reference restricts incremental sync to real databases
      // (src/tally.mts:89); here the analog is the bucketed parquet
      // warehouse — partition-level rewrites need partitioned tables
      require(cfg.technology == "parquet",
        s"incremental sync requires parquet, not ${cfg.technology}")
      // replay files hold whole tables; the merge's probes and filtered
      // extracts need a live Tally
      require(cfg.replayDir.isEmpty,
        "incremental sync needs a live Tally, not --graft-replay")
      val warehouse = new PartitionedParquetWarehouse(spark, cfg.schema)
      def existing(specs: Seq[TableSpec]) =
        specs.filter(s => warehouse.exists(s.name))
      def tick() = {
        // fresh source per tick: the watermark probe memoizes per
        // sync run (reference calls updateLastAlterId at the top of
        // every incremental pass, src/tally.mts:113)
        val source = new XmlTallySource(spark, transport,
          cfg.fromDate, cfg.toDate, cfg.company,
          voucherSpec = transactions.find(_.name == "trn_voucher"))
        // merge the tables the warehouse holds, then load the missing
        // ones whole (the reference instead refuses and asks for a full
        // sync first, docs/incremental-sync.md). The order matters: a
        // freshly loaded table carries live alterids, and letting it
        // into the merge's max-watermark would raise the `$AlterID > n`
        // floor past changes the stale tables still need to pull
        val r = new MergeJob(spark, existing(m), existing(t), source,
          warehouse).run()
        loadTables(spark, cfg, specs.filterNot(s => warehouse.exists(s.name)),
          transport, failure)((spec, df) => warehouse.write(spec.name, df))
        println(s"[graft] incremental sync: $r")
        r
      }
      if (cfg.frequencyMinutes > 0)
        ContinuousSync.run(() => tick(),
          cfg.frequencyMinutes * 60000L, cfg.iterations, sleep)
      else tick()
      return
    }

    loadTables(spark, cfg, specs, transport, failure)(sink(spark, cfg, _, _))

    // post-import script (S16): the reference's user-supplied SQL step
    // after a sync (post-import-scripts/), run against the warehouse
    cfg.postImport.foreach { scriptPath =>
      require(cfg.technology == "parquet",
        s"--graft-postimport needs a parquet warehouse, not ${cfg.technology}")
      val script = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(scriptPath)), "UTF-8")
      val n = SqlScript.runOnParquetDir(spark, cfg.schema, script)
      println(s"[graft] post-import: $n statements from $scriptPath")
    }
  }

  /** The one whole-table loader, for the full sync and the incremental
    * bootstrap: each spec's table is extracted from Tally (or read from
    * its replay file), converted to rows and handed to `write`, on the
    * `graft-sync-<n>` pool the object doc describes. A table that fails
    * sets the run's `failure`, under which `transport` sends nothing
    * more, and cancels the specs not yet started; once the tables in
    * flight have finished, the first failure is rethrown. Every worker
    * has ended when this returns or throws, so nothing of the load
    * still writes after it. No specs, no pool. */
  private def loadTables(spark: SparkSession, cfg: Config,
      specs: Seq[TableSpec], transport: String => String,
      failure: AtomicReference[Throwable])(
      write: (TableSpec, DataFrame) => Unit): Unit = if (specs.nonEmpty) {
    def load(spec: TableSpec): Unit = {
      val sc = spark.sparkContext
      sc.setJobDescription(s"sync ${spec.name}")
      try {
        val df: DataFrame = cfg.replayDir match {
          case Some(dir) =>
            val tsv = new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(s"$dir/${spec.name}.data")), "UTF-8")
            // .data files carry a header line (src/tally.mts:551-552)
            val body = tsv.split("\r\n").drop(1).mkString("\r\n")
            TallyXml.tsvToDataFrame(spark, body, spec)
          case None =>
            TallyXml.extract(spark, spec, transport,
              cfg.fromDate, cfg.toDate, cfg.company)
        }
        write(spec, df)
      } catch { case e: Throwable => failure.compareAndSet(null, e); throw e }
      finally sc.setJobDescription(null)
      println(s"[graft] synced ${spec.name}")
    }
    val size = math.min(specs.size, Runtime.getRuntime.availableProcessors)
    val workers = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(size,
      (r: Runnable) => {
        val t = new Thread(r, s"graft-sync-${workers.size + 1}")
        workers.add(t)
        t
      })
    val done = new java.util.concurrent.ExecutorCompletionService[Unit](pool)
    val futures = specs.map(spec => done.submit(() => load(spec)))
    try specs.foreach(_ => done.take().get())
    catch { case e: Throwable =>
      futures.foreach(_.cancel(false))
      // a refused request can complete before the failure that caused it
      throw Option(failure.get).getOrElse(e)
    } finally {
      pool.shutdown()
      workers.forEach(_.join())
    }
  }

  private def sink(spark: SparkSession, cfg: Config, spec: TableSpec,
      df: DataFrame): Unit = {
    // --tally-truncate false = append (reference scenario 04: master
    // sync once, then push each year's transactions into the same
    // tables without clearing)
    val mode = if (cfg.truncate) "overwrite" else "append"
    cfg.technology match {
      case "parquet" =>
        if (cfg.truncate)
          new ParquetWarehouse(spark, cfg.schema).write(spec.name, df)
        else df.write.mode("append").parquet(s"${cfg.schema}/${spec.name}")
      case "csv" =>
        Emitters.writeCsvDir(df, s"${cfg.schema}/${spec.name}", mode)
      case "json" =>
        Emitters.writeJsonDir(df, s"${cfg.schema}/${spec.name}", mode)
      case "orc" =>
        Emitters.writeOrcDir(df, s"${cfg.schema}/${spec.name}", mode)
      case other =>
        throw new IllegalArgumentException(s"unsupported sink: $other")
    }
  }
}
