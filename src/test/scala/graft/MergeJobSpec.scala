package graft

import graft.functions.TallyTypes._
import graft.sources.{CascadeSpec, FieldSpec, TableSpec}
import graft.tally._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental-sync scenario tests (SURVEY §5.5): the invariant is
  * incremental merge ≡ full resync, across delete / modify / insert /
  * master-rename cascade / auto-number renumbering — the reference's
  * subtlest logic (src/tally.mts:88-307). */
class MergeJobSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val ledgerSpec = TableSpec("mst_ledger", "Ledger", "Primary",
    fields = Seq(FieldSpec("guid", "Guid", TText),
      FieldSpec("name", "Name", TText)),
    cascadeUpdate = Seq(CascadeSpec("trn_accounting", Map("ledger" -> "name"))))
  private val voucherSpec = TableSpec("trn_voucher", "Voucher", "Primary",
    fields = Seq(FieldSpec("guid", "Guid", TText)),
    cascadeDelete = Seq(CascadeSpec("trn_accounting", Map("guid" -> "guid"))))
  private val accountingSpec = TableSpec("trn_accounting",
    "Voucher.AllLedgerEntries", "Derived",
    fields = Seq(FieldSpec("guid", "Guid", TText)))

  // ── V1: warehouse state after the initial full load ────────────────
  private def v1Ledgers = Seq(
    ("lg1", "Cash", 1L), ("lg2", "Sales", 1L), ("lg3", "Old Ledger", 1L))
    .toDF("guid", "name", "alterid")
  private def v1Vouchers = Seq(
    ("v1", "2020-04-10", "Sales", "1", 1L),
    ("v2", "2020-05-01", "Sales", "2", 1L),
    ("v4", "2020-06-01", "Sales", "3", 1L))
    .toDF("guid", "date", "voucher_type", "voucher_number", "alterid")
  private def v1Accounting = Seq(
    ("v1", "Cash", -100.0, "lg1", 1L),
    ("v2", "Old Ledger", 100.0, "lg3", 1L),
    ("v4", "Sales", 70.0, "lg2", 1L))
    .toDF("guid", "ledger", "amount", "_ledger", "alterid")
  private def vtypes = Seq(("Sales", "Automatic")).toDF("name", "numbering_method")

  // ── V2: live Tally state (lg3 deleted, lg2 renamed, lg4 added;
  //        v2 deleted, v1 modified, v3 inserted before v1 → renumber) ─
  private def v2Ledgers = Seq(
    ("lg1", "Cash", 1L), ("lg2", "Sales Local", 2L), ("lg4", "Bank", 2L))
    .toDF("guid", "name", "alterid")
  private def v2Vouchers = Seq(
    ("v1", "2020-04-10", "Sales", "2", 2L),
    ("v3", "2020-04-01", "Sales", "1", 2L),
    ("v4", "2020-06-01", "Sales", "4", 1L))
    .toDF("guid", "date", "voucher_type", "voucher_number", "alterid")
  private def v2Accounting = Seq(
    ("v1", "Cash", -120.0, "lg1", 2L),
    ("v3", "Bank", -50.0, "lg4", 2L),
    ("v4", "Sales Local", 70.0, "lg2", 1L))
    .toDF("guid", "ledger", "amount", "_ledger", "alterid")

  private class V2Source extends TallySource {
    val lastAlterIdMaster = 2L
    val lastAlterIdTransaction = 2L
    def diffSnapshot(spec: TableSpec): DataFrame = spec.name match {
      case "mst_ledger" => v2Ledgers.select($"guid", $"alterid")
      case "trn_voucher" => v2Vouchers.select($"guid", $"alterid")
    }
    def incrementalRows(spec: TableSpec, since: Long): DataFrame =
      (spec.name match {
        case "mst_ledger" => v2Ledgers
        case "trn_voucher" => v2Vouchers
        case "trn_accounting" => v2Accounting
      }).filter($"alterid" > since)
    def voucherNumbers(): DataFrame =
      v2Vouchers.select($"guid", $"voucher_number")
  }

  private def seeded[W <: Warehouse](w: W): W = {
    w.write("mst_ledger", v1Ledgers)
    w.write("trn_voucher", v1Vouchers)
    w.write("trn_accounting", v1Accounting)
    w.write("mst_vouchertype", vtypes)
    w
  }

  private def seededWarehouse(): MemoryWarehouse = seeded(new MemoryWarehouse)

  /** Counts the `rewritePartitions` calls per table; everything else
    * goes straight to the wrapped warehouse. */
  private class CountingWarehouse(inner: Warehouse) extends Warehouse {
    val rewrites = scala.collection.mutable.Map[String, Int]()
    def read(table: String): DataFrame = inner.read(table)
    def write(table: String, df: DataFrame): Unit = inner.write(table, df)
    def exists(table: String): Boolean = inner.exists(table)
    override def rewritePartitions(table: String, keys: DataFrame,
        transform: DataFrame => DataFrame): Unit = {
      rewrites(table) = rewrites.getOrElse(table, 0) + 1
      inner.rewritePartitions(table, keys, transform)
    }
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("incremental merge ≡ full resync across all mutation kinds") {
    val w = seededWarehouse()
    val report = new MergeJob(spark, Seq(ledgerSpec),
      Seq(voucherSpec, accountingSpec), new V2Source, w).run()

    assert(report.masterChanged && report.transactionChanged)
    assert(report.deletedByTable("mst_ledger") == 2) // lg3 gone + lg2 changed
    assert(report.deletedByTable("trn_voucher") == 2) // v2 gone + v1 changed
    assert(report.renumbered)

    assert(sorted(w.read("mst_ledger")) == sorted(v2Ledgers))
    assert(sorted(w.read("trn_voucher")) == sorted(v2Vouchers))
    assert(sorted(w.read("trn_accounting")) == sorted(v2Accounting))
  }

  test("cascade update rewrites denormalized names on untouched rows") {
    val w = seededWarehouse()
    new MergeJob(spark, Seq(ledgerSpec),
      Seq(voucherSpec, accountingSpec), new V2Source, w).run()
    // v4 was never re-extracted (alterid 1) yet its ledger name follows
    val v4 = w.read("trn_accounting").filter($"guid" === "v4").head()
    assert(v4.getAs[String]("ledger") == "Sales Local")
  }

  test("renumbering shifts voucher numbers after mid-sequence insert") {
    val w = seededWarehouse()
    new MergeJob(spark, Seq(ledgerSpec),
      Seq(voucherSpec, accountingSpec), new V2Source, w).run()
    val nums = w.read("trn_voucher").collect()
      .map(r => r.getAs[String]("guid") -> r.getAs[String]("voucher_number"))
      .toMap
    assert(nums == Map("v1" -> "2", "v3" -> "1", "v4" -> "4"))
  }

  test("watermark short-circuit: unchanged source → no-op") {
    val w = seededWarehouse()
    val idleSource = new V2Source {
      override val lastAlterIdMaster = 1L
      override val lastAlterIdTransaction = 1L
    }
    val report = new MergeJob(spark, Seq(ledgerSpec),
      Seq(voucherSpec, accountingSpec), idleSource, w).run()
    assert(!report.masterChanged && !report.transactionChanged)
    assert(sorted(w.read("mst_ledger")) == sorted(v1Ledgers))
  }

  test("continuous sync polls with the change gate") {
    val w = seededWarehouse()
    var calls = 0
    val reports = ContinuousSync.run(() => {
      calls += 1
      new MergeJob(spark, Seq(ledgerSpec),
        Seq(voucherSpec, accountingSpec),
        if (calls == 1) new V2Source else new V2Source {
          override val lastAlterIdMaster = 2L
          override val lastAlterIdTransaction = 2L
        }, w).run()
    }, intervalMillis = 1, maxIterations = 3, sleep = _ => ())
    assert(reports.length == 3)
    assert(reports.head.masterChanged)
    // after first sync the warehouse watermark catches up → no-ops
    assert(!reports(1).masterChanged && !reports(2).transactionChanged)
  }

  test("masters-only sync works without a trn_voucher table") {
    val w = new MemoryWarehouse
    w.write("mst_ledger", v1Ledgers)
    val report = new MergeJob(spark, Seq(ledgerSpec), Nil,
      new V2Source, w).run()
    assert(report.masterChanged)
    assert(sorted(w.read("mst_ledger")) == sorted(v2Ledgers))
  }

  test("surrogate FKs resolve at merge time and feed the cascade update") {
    // P15: the source extract carries NO _ledger column — the merge
    // job must resolve it against the (already-synced) warehouse
    // masters via broadcast lookup, and the cascade update must then
    // flow through the engine-resolved column
    val fkAccountingSpec = TableSpec("trn_accounting",
      "Voucher.AllLedgerEntries", "Derived",
      fields = Seq(FieldSpec("guid", "Guid", TText),
        FieldSpec("ledger", "LedgerName", TText),
        FieldSpec("_ledger", "$Guid:Ledger:$LedgerName", TCustom)))
    val w = seededWarehouse()
    val src = new V2Source {
      override def incrementalRows(spec: TableSpec, since: Long): DataFrame =
        spec.name match {
          case "trn_accounting" =>
            v2Accounting.drop("_ledger").filter($"alterid" > since)
          case _ => super.incrementalRows(spec, since)
        }
    }
    new MergeJob(spark, Seq(ledgerSpec),
      Seq(voucherSpec, fkAccountingSpec), src, w).run()
    val fks = w.read("trn_accounting").collect()
      .map(r => r.getAs[String]("guid") -> r.getAs[String]("_ledger")).toMap
    // v1 (re-extracted) and v3 (new) were resolved by the engine
    // against the post-sync masters; v4 kept its stored FK
    assert(fks == Map("v1" -> "lg1", "v3" -> "lg4", "v4" -> "lg2"))
    val v4 = w.read("trn_accounting").filter($"guid" === "v4").head()
    assert(v4.getAs[String]("ledger") == "Sales Local")
  }

  test("a tick rewrites each table once and writes one file per bucket") {
    // two buckets for three rows per table: every bucket a rewrite
    // touches mixes rows from several input partitions
    val partitioned = new PartitionedParquetWarehouse(spark,
      tempDir("graft-once"), buckets = 2)
    Seq(seededWarehouse(), seeded(partitioned)).foreach { inner =>
      val w = new CountingWarehouse(inner)
      new MergeJob(spark, Seq(ledgerSpec),
        Seq(voucherSpec, accountingSpec), new V2Source, w).run()
      assert(w.rewrites.toMap == Map("mst_ledger" -> 1, "trn_voucher" -> 1,
        "trn_accounting" -> 1), s"rewrites on ${inner.getClass.getSimpleName}")
      assert(sorted(w.read("mst_ledger")) == sorted(v2Ledgers))
      assert(sorted(w.read("trn_voucher")) == sorted(v2Vouchers))
      assert(sorted(w.read("trn_accounting")) == sorted(v2Accounting))
    }
    Seq("mst_ledger", "trn_voucher", "trn_accounting").foreach { t =>
      val buckets = new java.io.File(partitioned.currentPath(t)).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("_pt="))
      assert(buckets.nonEmpty, s"$t is not bucketed")
      buckets.foreach { b =>
        val files = b.listFiles().count(_.getName.endsWith(".parquet"))
        assert(files == 1, s"$t/${b.getName} holds $files parquet files")
      }
    }
  }

  test("a tick that fails before it ends publishes nothing, and the next tick converges") {
    val w = seeded(new PartitionedParquetWarehouse(spark,
      tempDir("graft-fail"), buckets = 4))
    val tables = Seq("mst_ledger", "trn_voucher", "trn_accounting")
    def state = tables.map(t => t -> (w.currentPath(t), sorted(w.read(t))))
    val before = state
    // the renumber re-pull is the last source call of a tick, after
    // every delete, append and cascade step has run
    val failing = new V2Source {
      override def voucherNumbers(): DataFrame =
        throw new IllegalStateException("re-pull failed")
    }
    val e = intercept[IllegalStateException](new MergeJob(spark,
      Seq(ledgerSpec), Seq(voucherSpec, accountingSpec), failing, w).run())
    assert(e.getMessage == "re-pull failed")
    assert(state == before)
    // the retry sees the old watermarks and redoes the whole merge,
    // the ledger rename's cascade to unchanged v4 included
    new MergeJob(spark, Seq(ledgerSpec), Seq(voucherSpec, accountingSpec),
      new V2Source, w).run()
    assert(sorted(w.read("mst_ledger")) == sorted(v2Ledgers))
    assert(sorted(w.read("trn_voucher")) == sorted(v2Vouchers))
    assert(sorted(w.read("trn_accounting")) == sorted(v2Accounting))
  }

  test("partitioned warehouse: untouched partitions survive the sync byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pwh").toString
    val w = new PartitionedParquetWarehouse(spark, dir, buckets = 64)
    w.write("mst_ledger", v1Ledgers)
    w.write("trn_voucher", v1Vouchers)
    w.write("trn_accounting", v1Accounting)
    w.write("mst_vouchertype", vtypes)

    // lg1 is the untouched witness: not deleted, not re-extracted.
    // Its bucket must differ from every touched ledger's bucket for
    // the byte-identity assertion to be meaningful
    def bucket(g: String): Long =
      Seq(g).toDF("guid").select(pmod(xxhash64($"guid"), lit(64L)))
        .head().getLong(0)
    val untouchedPt = bucket("lg1")
    val touchedPts = Seq("lg2", "lg3", "lg4").map(bucket).toSet
    assert(!touchedPts.contains(untouchedPt),
      s"fixture collision: lg1 shares bucket $untouchedPt — pick other guids")

    def snapshot(pt: Long): Map[String, (Long, String)] = {
      val d = new java.io.File(s"${w.currentPath("mst_ledger")}/_pt=$pt")
      d.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(bytes).map("%02x".format(_)).mkString
        f.getName -> (f.length(), md5)
      }.toMap
    }
    val before = snapshot(untouchedPt)
    assert(before.nonEmpty)

    new MergeJob(spark, Seq(ledgerSpec),
      Seq(voucherSpec, accountingSpec), new V2Source, w).run()

    // merge result is still exactly the V2 state…
    assert(sorted(w.read("mst_ledger")) == sorted(v2Ledgers))
    assert(sorted(w.read("trn_voucher")) == sorted(v2Vouchers))
    assert(sorted(w.read("trn_accounting")) == sorted(v2Accounting))
    // …and the untouched partition's files were never rewritten
    assert(snapshot(untouchedPt) == before,
      "untouched partition was rewritten by the sync")
  }

  test("concurrent reader sees only complete snapshots during partitioned rewrites") {
    // The round-8 caveat: dynamic partition overwrite replaced live
    // files in place, so a reader overlapping a rewrite could see a
    // torn table (missing files / mixed halves). The versioned layout
    // must make every read resolve to a complete snapshot: the sum of
    // `value` is 400·10^i for whichever commit i the read lands on —
    // any other sum (or an exception) is a torn read.
    val dir = java.nio.file.Files.createTempDirectory("graft-cwh").toString
    // retention 4: the reader loop must never lose a resolved version
    // to GC across the 3 commits (the keep-N contract under test is
    // snapshot atomicity, not retention-window sizing)
    val w = new PartitionedParquetWarehouse(spark, dir, buckets = 4,
      retainVersions = 4)
    val base = (0 until 400).map(i => (s"g$i", 1L)).toDF("guid", "value")
    w.write("t", base)
    val validSums = (0 to 3).map(i => 400L * math.pow(10, i).toLong).toSet
    @volatile var failure: Option[String] = None
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop && failure.isEmpty) {
        try {
          val r = w.read("t")
            .agg(count(lit(1)).as("n"), sum($"value").as("s")).head()
          val n = r.getAs[Long]("n"); val s = r.getAs[Long]("s")
          if (n != 400 || !validSums.contains(s))
            failure = Some(s"torn read: n=$n sum=$s")
        } catch { case e: Exception => failure = Some(e.toString) }
      }
    })
    reader.start()
    try {
      val allKeys = (0 until 400).map(i => s"g$i").toDF("guid")
      (1 to 3).foreach { _ =>
        w.rewritePartitions("t", allKeys,
          df => df.withColumn("value", $"value" * 10L))
      }
    } finally { stop = true; reader.join(30000) }
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(w.read("t").agg(sum($"value")).head().getLong(0) == 400000L)
  }

  test("parquet warehouse swap-write survives read-write cycles") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val w = new ParquetWarehouse(spark, dir)
    w.write("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val filtered = w.read("t").filter($"id" === 1)
    w.write("t", filtered) // writes output derived from its own input
    assert(w.read("t").collect().map(_.getInt(0)).toSeq == Seq(1))
  }
}
