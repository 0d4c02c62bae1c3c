package perfbench

import java.math.{BigDecimal => JBig}
import java.time.LocalDate

import graft.functions.TallyTypes._
import graft.operators.{Hierarchy, SurrogateFk}
import graft.sources.TableSpec
import graft.tally.{TallyReports, TallyTables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The tables a correct load of `company` holds, built straight from the
  * generator's objects with the spec's types — independent of the
  * loader's XML and TSV parsing, which is what the checks test. */
object Expected {
  def tables(spark: SparkSession, company: Company,
      specs: Seq[TableSpec]): Map[String, DataFrame] =
    specs.map(spec => spec.name -> table(spark, company, spec)).toMap

  def table(spark: SparkSession, company: Company, spec: TableSpec): DataFrame = {
    val fields = spec.fields.map { f =>
      (Tdl.eval(if (f.field.startsWith("$")) f.field else "$" + f.field, company),
        f.ftype)
    }
    val rows = company.route(spec.collection).flatMap { case (obj, lines) =>
      lines.map(line => Row.fromSeq(fields.map { case (ev, t) => typed(ev(line, obj), t) }))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), spec.schema)
  }

  private def typed(v: Any, t: FieldType): Any = (v, t) match {
    case (null, _) => null
    case (d: LocalDate, TDate) => java.sql.Date.valueOf(d)
    case (b: Boolean, TLogical) => b
    case (n: Long, TNumber) => JBig.valueOf(n).setScale(4)
    case (n: JBig, TAmount) => n.setScale(2)
    case (n: JBig, TNumber | TQuantity | TRate) => n.setScale(4)
    case (r: Rate, TRate) => r.value.setScale(4)
    case (s: String, TText | TCustom) => s
    case (x, _) => throw new IllegalStateException(s"no $t value for $x")
  }
}

/** Output checks. They run outside the timed region. */
object Checks {

  /** Row count and an order-independent sum of row hashes over every
    * column (sorted by name): equal digests mean equal row multisets,
    * up to hash collisions. */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000")))
    val r = df.select(xxhash64(concat_ws("\u0001", cols.toIndexedSeq: _*))
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }

  def digests(tables: Map[String, DataFrame]): Map[String, String] =
    tables.map { case (t, df) => t -> digest(df) }

  /** Names of the tables whose digests differ. */
  def mismatches(got: Map[String, String], want: Map[String, String]): Seq[String] =
    (got.keySet ++ want.keySet).toSeq.sorted.filter(t => got.get(t) != want.get(t))

  /** Hash of a report's rows, sorted so it does not depend on the
    * order the rows arrive in. */
  def rowsHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.iterator.map(_.mkString("\u0001")).toArray.sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** The 18 `TallyReportQueries` programs, bound to any table bundle with
  * the arguments that object gives them. */
object Reports {
  private val Fy = ("2020-04-01", "2021-03-31")

  /** Reports read logical columns as the 0/1 integers of the reference
    * DDL; the loaded warehouse holds booleans, so both it and the
    * expected tables cast at this boundary, as FullSyncIntegrationSpec
    * does. */
  def tables(read: String => DataFrame): TallyTables = {
    def ints(df: DataFrame, cols: String*): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("int")))
    TallyTables(
      mstGroup = ints(read("mst_group"), "is_revenue", "is_deemedpositive",
        "affects_gross_profit"),
      mstLedger = ints(read("mst_ledger"), "is_revenue"),
      mstVouchertype = ints(read("mst_vouchertype"), "affects_stock"),
      mstStockItem = read("mst_stock_item"),
      mstOpeningBatchAllocation = read("mst_opening_batch_allocation"),
      trnClosingstockLedger = read("trn_closingstock_ledger"),
      trnVoucher = ints(read("trn_voucher"), "is_invoice",
        "is_accounting_voucher", "is_inventory_voucher", "is_order_voucher"),
      trnAccounting = read("trn_accounting"),
      trnInventory = read("trn_inventory"))
  }

  /** The tree-walk reports: their cost is one Spark job round per level. */
  val TreeWalks = Set("q36_tally_group_tree_parent_child",
    "q37_tally_group_tree_children_parent", "q114_tally_group_closure")

  /** The entry names (q50's spec is only read when q50 runs). */
  val Names: Seq[String] = entries(null).map(_._1)

  /** `accountingSpec` is the definition's `trn_accounting`, whose
    * surrogate-FK field q50 resolves. */
  def entries(accountingSpec: TableSpec): Seq[(String, TallyTables => DataFrame)] = Seq(
    "q32_tally_trial_balance" -> (t => TallyReports.trialBalance(t, Fy._1, Fy._2)),
    "q33_tally_account_ledger" -> (t => TallyReports.accountLedger(t, "Cash", Fy._1, Fy._2)),
    "q34_tally_accounting_voucher_view" -> (t => TallyReports.accountingVoucherView(t)),
    "q35_tally_daily_cash_movement" -> (t => TallyReports.dailyCashMovement(t, Fy._1, Fy._2)),
    "q36_tally_group_tree_parent_child" -> (t =>
      TallyReports.groupTreeParentChild(t, "Loans & Advances (Asset)")),
    "q37_tally_group_tree_children_parent" -> (t =>
      TallyReports.groupTreeChildrenParent(t, s"BG ${Company.ForestGroups - 1}")),
    "q114_tally_group_closure" -> (t => Hierarchy.closure(
        t.mstGroup.select(col("parent"), col("name").as("child"))
          .filter(col("parent") =!= ""))
      .orderBy("ancestor", "descendant", "depth")),
    "q38_tally_profit_loss" -> (t => TallyReports.profitLoss(t)),
    "q39_tally_sales_daily" -> (t => TallyReports.salesDaily(t, Fy._1, Fy._2)),
    "q40_tally_sales_monthly" -> (t => TallyReports.salesMonthly(t, Fy._1, Fy._2)),
    "q41_tally_purchase_daily" -> (t => TallyReports.purchaseDaily(t, Fy._1, Fy._2)),
    "q42_tally_purchase_monthly" -> (t => TallyReports.purchaseMonthly(t, Fy._1, Fy._2)),
    "q43_tally_sales_register" -> (t => TallyReports.salesRegister(t)),
    "q44_tally_purchase_register" -> (t => TallyReports.purchaseRegister(t)),
    "q45_tally_stock_summary" -> (t => TallyReports.stockSummary(t)),
    "q46_tally_stock_voucher_view" -> (t => TallyReports.stockVoucherView(t)),
    "q49_tally_forex_register" -> (t => TallyReports.forexRegister(t)),
    // as TallyReportQueries' q50 does, the engine resolves `_ledger`
    // itself: the extract's server-resolved column is dropped first, so
    // SurrogateFk's join runs instead of passing the column through
    "q50_tally_fk_register" -> (t => TallyReports.fkRegister(t,
      SurrogateFk.enrich(t.trnAccounting.drop("_ledger"), accountingSpec,
        { case "mst_ledger" => Some(t.mstLedger); case _ => None }))))
}
