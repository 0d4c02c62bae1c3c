package graft

import graft.tally.PartitionedParquetWarehouse
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
    val tables = Seq("mst_ledger", "mst_vouchertype", "trn_voucher",
      "trn_accounting")
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
