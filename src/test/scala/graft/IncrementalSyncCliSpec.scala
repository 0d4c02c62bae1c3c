package graft

import graft.tally.PartitionedParquetWarehouse
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end incremental sync through the CLI (SURVEY §5.5; the
  * reference's flagship feature, src/tally.mts:88-307): a [[FakeTally]]
  * serves v1 state, the CLI bootstraps a bucketed warehouse, the fake
  * mutates to v2 (delete / modify / insert / master rename /
  * mid-sequence voucher insert), a second CLI run merges — and the
  * result must equal a full re-sync of v2 into a fresh warehouse. */
class IncrementalSyncCliSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val yaml =
    """master:
      |  - name: mst_ledger
      |    collection: Ledger
      |    nature: Primary
      |    fields:
      |      - {name: guid, field: Guid, type: text}
      |      - {name: alterid, field: AlterId, type: number}
      |      - {name: name, field: Name, type: text}
      |    cascade_update:
      |      - table: trn_accounting
      |        field: ledger
      |  - name: mst_vouchertype
      |    collection: VoucherType
      |    nature: Primary
      |    fields:
      |      - {name: guid, field: Guid, type: text}
      |      - {name: alterid, field: AlterId, type: number}
      |      - {name: name, field: Name, type: text}
      |      - {name: numbering_method, field: NumberingMethod, type: text}
      |transaction:
      |  - name: trn_voucher
      |    collection: Voucher
      |    nature: Primary
      |    fields:
      |      - {name: guid, field: Guid, type: text}
      |      - {name: alterid, field: AlterId, type: number}
      |      - {name: date, field: Date, type: date}
      |      - {name: voucher_number, field: VoucherNumber, type: text}
      |    cascade_delete:
      |      - table: trn_accounting
      |        field: guid
      |  - name: trn_accounting
      |    collection: Voucher.AllLedgerEntries
      |    nature: Derived
      |    fields:
      |      - {name: guid, field: Guid, type: text}
      |      - {name: ledger, field: LedgerName, type: text}
      |      - {name: _ledger, field: $Guid:Ledger:$LedgerName, type: text}
      |      - {name: amount, field: Amount, type: amount}
      |""".stripMargin

  private def row(kv: (String, String)*): Map[String, String] = kv.toMap

  private def v1(fake: FakeTally): Unit = {
    fake.masterAlterId = 1L; fake.txnAlterId = 1L
    fake.tables = Map(
      "Ledger" -> Seq(
        row("Guid" -> "lg1", "AlterId" -> "1", "Name" -> "Cash"),
        row("Guid" -> "lg2", "AlterId" -> "1", "Name" -> "Sales"),
        row("Guid" -> "lg3", "AlterId" -> "1", "Name" -> "Old Ledger")),
      "VoucherType" -> Seq(
        row("Guid" -> "vt1", "AlterId" -> "1", "Name" -> "Sales",
          "NumberingMethod" -> "Automatic")),
      "Voucher" -> Seq(
        row("Guid" -> "v1", "AlterId" -> "1", "Date" -> "2020-04-10",
          "VoucherNumber" -> "1"),
        row("Guid" -> "v2", "AlterId" -> "1", "Date" -> "2020-05-01",
          "VoucherNumber" -> "2"),
        row("Guid" -> "v4", "AlterId" -> "1", "Date" -> "2020-06-01",
          "VoucherNumber" -> "3")),
      "Voucher.AllLedgerEntries" -> Seq(
        row("Guid" -> "v1", "AlterId" -> "1", "LedgerName" -> "Cash",
          "Amount" -> "-100.00"),
        row("Guid" -> "v2", "AlterId" -> "1", "LedgerName" -> "Old Ledger",
          "Amount" -> "100.00"),
        row("Guid" -> "v4", "AlterId" -> "1", "LedgerName" -> "Sales",
          "Amount" -> "70.00")))
  }

  /** lg3 deleted, lg2 renamed, lg4 added; v2 deleted, v1 modified, v3
    * inserted before v1 (shifts auto numbers), v4 untouched. */
  private def v2(fake: FakeTally): Unit = {
    fake.masterAlterId = 2L; fake.txnAlterId = 2L
    fake.tables = Map(
      "Ledger" -> Seq(
        row("Guid" -> "lg1", "AlterId" -> "1", "Name" -> "Cash"),
        row("Guid" -> "lg2", "AlterId" -> "2", "Name" -> "Sales Local"),
        row("Guid" -> "lg4", "AlterId" -> "2", "Name" -> "Bank")),
      "VoucherType" -> Seq(
        row("Guid" -> "vt1", "AlterId" -> "1", "Name" -> "Sales",
          "NumberingMethod" -> "Automatic")),
      "Voucher" -> Seq(
        row("Guid" -> "v1", "AlterId" -> "2", "Date" -> "2020-04-10",
          "VoucherNumber" -> "2"),
        row("Guid" -> "v3", "AlterId" -> "2", "Date" -> "2020-04-01",
          "VoucherNumber" -> "1"),
        row("Guid" -> "v4", "AlterId" -> "1", "Date" -> "2020-06-01",
          "VoucherNumber" -> "4")),
      "Voucher.AllLedgerEntries" -> Seq(
        row("Guid" -> "v1", "AlterId" -> "2", "LedgerName" -> "Cash",
          "Amount" -> "-120.00"),
        row("Guid" -> "v3", "AlterId" -> "2", "LedgerName" -> "Bank",
          "Amount" -> "-50.00"),
        row("Guid" -> "v4", "AlterId" -> "1", "LedgerName" -> "Sales Local",
          "Amount" -> "70.00")))
  }

  /** After v2: lg1 renamed (its entry follows), v4 re-dated with a new
    * amount. */
  private def v3(fake: FakeTally): Unit = {
    v2(fake)
    fake.masterAlterId = 3L; fake.txnAlterId = 3L
    def edit(collection: String)(
        change: PartialFunction[String, Seq[(String, String)]]) =
      collection -> fake.tables(collection)
        .map(r => r ++ change.applyOrElse(r("Guid"), (_: String) => Nil))
    fake.tables = fake.tables ++ Seq(
      edit("Ledger") { case "lg1" => Seq("AlterId" -> "3", "Name" -> "Cash Box") },
      edit("Voucher") { case "v4" => Seq("AlterId" -> "3", "Date" -> "2020-06-02") },
      edit("Voucher.AllLedgerEntries") {
        case "v1" => Seq("LedgerName" -> "Cash Box")
        case "v4" => Seq("AlterId" -> "3", "Amount" -> "75.00")
      })
  }

  /** Serves `fake` over loopback HTTP for the duration of `body`, so
    * the sync runs the live [[graft.sources.TallyHttp]] transport. A
    * request matching `fails` is answered with HTTP 500 and an empty
    * envelope. Returns how many requests failed. */
  private def served(fake: FakeTally, fails: String => Boolean)(
      body: Int => Unit): Int = {
    val failed = new java.util.concurrent.atomic.AtomicInteger
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", exchange => {
      val request = new String(exchange.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_16LE)
      val (status, answer) =
        if (fails(request)) {
          failed.incrementAndGet()
          (500, "<ENVELOPE></ENVELOPE>")
        } else (200, fake.transport(request))
      val bytes = answer.getBytes(StandardCharsets.UTF_16LE)
      exchange.sendResponseHeaders(status, bytes.length.toLong)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try body(server.getAddress.getPort) finally server.stop(0)
    failed.get
  }

  private val tables = Seq("mst_ledger", "mst_vouchertype", "trn_voucher",
    "trn_accounting")

  private def cfg(dir: String): Main.Config = Main.Config(
    technology = "parquet", schema = s"$dir/wh",
    definition = s"$dir/spec.yaml", syncMode = "incremental")

  private def writeSpec(dir: String): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/spec.yaml"), yaml)

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("CLI incremental sync ≡ full re-sync across all mutation kinds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-incr").toString
    writeSpec(dir)
    val fake = new FakeTally

    // bootstrap: first incremental run = full load of every table
    v1(fake)
    Main.run(spark, cfg(dir), transportOverride = Some(fake.transport))
    val wh = new PartitionedParquetWarehouse(spark, s"$dir/wh")
    assert(wh.read("mst_ledger").count() == 3)
    assert(wh.read("trn_accounting")
      .filter(org.apache.spark.sql.functions.col("_ledger") === "lg3")
      .count() == 1) // lookup FK resolved at load

    // mutate Tally to v2, merge incrementally through the CLI
    v2(fake)
    fake.requests = Nil
    Main.run(spark, cfg(dir), transportOverride = Some(fake.transport))
    // the append extracts carried the injected AlterID floor
    assert(fake.requests.exists(_.contains("$AlterID > 1")))

    // full re-sync of v2 into a fresh warehouse = ground truth
    val dir2 = java.nio.file.Files.createTempDirectory("graft-full").toString
    writeSpec(dir2)
    Main.run(spark, cfg(dir2), transportOverride = Some(fake.transport))
    val full = new PartitionedParquetWarehouse(spark, s"$dir2/wh")

    Seq("mst_ledger", "mst_vouchertype", "trn_voucher", "trn_accounting")
      .foreach { t =>
        assert(sorted(wh.read(t)) == sorted(full.read(t)),
          s"table $t diverged from full re-sync")
      }

    // the subtle cases, asserted explicitly:
    val acc = wh.read("trn_accounting").collect()
      .map(r => r.getAs[String]("guid") -> r.getAs[String]("ledger")).toMap
    assert(acc("v4") == "Sales Local") // cascade rename on untouched row
    val nums = wh.read("trn_voucher").collect()
      .map(r => r.getAs[String]("guid") ->
        r.getAs[String]("voucher_number")).toMap
    assert(nums == Map("v1" -> "2", "v3" -> "1", "v4" -> "4")) // renumbered
  }

  test("the bootstrap loads missing tables on the sync pool, one request in flight") {
    val dir = java.nio.file.Files.createTempDirectory("graft-boot").toString
    writeSpec(dir)
    val fake = new FakeTally
    v1(fake)
    val inFlight = new java.util.concurrent.atomic.AtomicInteger
    val peak = new java.util.concurrent.atomic.AtomicInteger
    val extractCallers = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val counted: String => String = { request =>
      peak.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      // whole-table extracts: neither the probe nor a `$AlterID >` pull
      if (!request.contains("AlterIdProbe") && !request.contains("$AlterID >"))
        extractCallers.add(Thread.currentThread.getName)
      try { Thread.sleep(20); fake.transport(request) }
      finally inFlight.decrementAndGet()
    }
    Main.run(spark, cfg(dir), transportOverride = Some(counted))
    assert(peak.get == 1)
    assert(extractCallers.size == 4, s"extracts from $extractCallers")
    assert(extractCallers.stream().allMatch(_.startsWith("graft-sync-")),
      s"extracts from $extractCallers")

    Main.run(spark, cfg(dir).copy(syncMode = "full", schema = s"$dir/full"),
      transportOverride = Some(fake.transport))
    val wh = new PartitionedParquetWarehouse(spark, s"$dir/wh")
    Seq("mst_ledger", "mst_vouchertype", "trn_voucher", "trn_accounting")
      .foreach { t =>
        assert(sorted(wh.read(t)) == sorted(spark.read.parquet(s"$dir/full/$t")),
          s"table $t differs from a full load")
      }
  }

  test("a tick against Tally with no open company fails and keeps every table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-closed").toString
    writeSpec(dir)
    val fake = new FakeTally
    v1(fake)
    Main.run(spark, cfg(dir), transportOverride = Some(fake.transport))
    val wh = new PartitionedParquetWarehouse(spark, s"$dir/wh")
    val before = tables.map(t => t -> sorted(wh.read(t))).toMap
    // a closed company answers every report, the probe included, empty
    val e = intercept[IllegalStateException](
      Main.run(spark, cfg(dir), transportOverride = Some(_ => "")))
    assert(e.getMessage.contains("no open company"), e.getMessage)
    tables.foreach { t =>
      assert(sorted(wh.read(t)) == before(t), s"table $t changed")
    }
  }

  test("a tick that Tally answers with HTTP 500 fails and keeps every table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-500tick").toString
    writeSpec(dir)
    val fake = new FakeTally
    v1(fake)
    Main.run(spark, cfg(dir), transportOverride = Some(fake.transport))
    val wh = new PartitionedParquetWarehouse(spark, s"$dir/wh")
    val before = tables.map(t => t -> sorted(wh.read(t))).toMap
    v2(fake)
    // the ledger's (guid, alterid) diff snapshot; read as an empty
    // snapshot, it would mark every stored ledger deleted
    val failed = served(fake,
        _.contains("<TYPE>Ledger</TYPE><FETCH>AlterId</FETCH>")) { port =>
      val e = intercept[java.io.IOException](Main.run(spark,
        cfg(dir).copy(server = "127.0.0.1", port = port)))
      assert(e.getMessage.contains("HTTP 500"), e.getMessage)
    }
    assert(failed == 1)
    tables.foreach { t =>
      assert(sorted(wh.read(t)) == before(t), s"table $t changed")
    }
  }

  test("a full sync that Tally answers with HTTP 500 fails and writes no empty table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-500full").toString
    writeSpec(dir)
    val fake = new FakeTally
    v1(fake)
    val failed = served(fake, _.contains("<TYPE>Ledger</TYPE>")) { port =>
      val e = intercept[java.io.IOException](Main.run(spark,
        cfg(dir).copy(syncMode = "full", server = "127.0.0.1", port = port)))
      assert(e.getMessage.contains("HTTP 500"), e.getMessage)
    }
    assert(failed == 1)
    assert(!new java.io.File(s"$dir/wh/mst_ledger").exists())
    tables.filter(t => new java.io.File(s"$dir/wh/$t").exists()).foreach { t =>
      assert(spark.read.parquet(s"$dir/wh/$t").count() > 0, s"table $t is empty")
    }
  }

  test("ticks after a full sync retire its flat layout like any old version") {
    val dir = java.nio.file.Files.createTempDirectory("graft-flat").toString
    writeSpec(dir)
    val fake = new FakeTally
    v1(fake)
    Main.run(spark, cfg(dir).copy(syncMode = "full"),
      transportOverride = Some(fake.transport))
    v2(fake)
    Main.run(spark, cfg(dir), transportOverride = Some(fake.transport))
    v3(fake)
    Main.run(spark, cfg(dir), transportOverride = Some(fake.transport))

    def layout(t: String) = new java.io.File(s"$dir/wh/$t").list().toSet
    // rewritten by both ticks: the pointer and at most two versions
    Seq("mst_ledger", "trn_voucher", "trn_accounting").foreach { t =>
      val entries = layout(t)
      assert(entries("CURRENT") && entries.size <= 3 &&
        (entries - "CURRENT").forall(_.matches("v\\d+")),
        s"table $t holds $entries")
    }
    // no tick changed it: still the full sync's flat table
    assert(!layout("mst_vouchertype")("CURRENT"))

    val dir2 = java.nio.file.Files.createTempDirectory("graft-flat-full").toString
    writeSpec(dir2)
    Main.run(spark, cfg(dir2), transportOverride = Some(fake.transport))
    val wh = new PartitionedParquetWarehouse(spark, s"$dir/wh")
    val full = new PartitionedParquetWarehouse(spark, s"$dir2/wh")
    tables.foreach { t =>
      assert(sorted(wh.read(t)) == sorted(full.read(t)),
        s"table $t diverged from full re-sync")
    }
  }

  test("incremental sync refuses replay mode and writes nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-replay").toString
    writeSpec(dir)
    val e = intercept[IllegalArgumentException](
      Main.run(spark, cfg(dir).copy(replayDir = Some(dir))))
    assert(e.getMessage.contains("--graft-replay"))
    val written = Option(new java.io.File(s"$dir/wh").list()).toSeq.flatten
    assert(written.isEmpty, s"tables written: $written")
  }

  test("continuous mode ticks the merge and honors the no-change gate") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cont").toString
    writeSpec(dir)
    val fake = new FakeTally
    v1(fake)
    var sleeps = 0
    Main.run(spark,
      cfg(dir).copy(frequencyMinutes = 5, iterations = 2),
      transportOverride = Some(fake.transport),
      sleep = _ => sleeps += 1)
    assert(sleeps == 1) // two ticks, one wait between
    // tick 1 bootstrapped; tick 2 found no change (same alterids)
    assert(new PartitionedParquetWarehouse(spark, s"$dir/wh")
      .read("mst_ledger").count() == 3)
  }
}
