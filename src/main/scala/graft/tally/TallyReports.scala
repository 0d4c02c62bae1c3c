package graft.tally

import graft.operators.Hierarchy
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The Tally-shaped table bundle every report reads. In a warehouse
  * deployment each member is a parquet table partitioned by its natural
  * key (vouchers by date, children co-bucketed with `trn_voucher` on
  * guid so the fact-fact joins are shuffle-free). */
final case class TallyTables(
    mstGroup: DataFrame,
    mstLedger: DataFrame,
    mstVouchertype: DataFrame,
    mstStockItem: DataFrame,
    mstOpeningBatchAllocation: DataFrame,
    trnClosingstockLedger: DataFrame,
    trnVoucher: DataFrame,
    trnAccounting: DataFrame,
    trnInventory: DataFrame)

/** The reference's 15-report query surface (SURVEY §2.4), re-expressed
  * as DataFrame programs. Semantics derive from the SQL under
  * `reports/mssql` in the reference (cited per function); the plans
  * are Spark-first: dimension joins broadcast, conditional aggregation
  * via sum(when), recursive date CTEs become `sequence()`, recursive
  * group traversal becomes an iterative self-join loop, and every
  * report ends with a deterministic total ORDER BY.
  *
  * Conventions (docs/data-structure.md:68-80): amount debit < 0,
  * credit > 0; quantity inward > 0, outward < 0. Accounting effects
  * exclude order+inventory vouchers (docs/data-structure.md:203).
  *
  * `tracking_number` nuance: the reference mixes `= ''`
  * (stock-voucher-view.sql:16) and `IS NULL` (stock-summary.sql:10)
  * for "workflow not used"; per docs/data-structure.md:252 blank means
  * unused, so these reports treat blank-or-null uniformly as
  * no-workflow.
  */
object TallyReports {

  /** Edge representation: exact DECIMAL internals, rounded-DOUBLE
    * output (engine-independent; see [[graft.operators.Reports]]). */
  private def fin2(c: Column): Column = round(c.cast("double"), 6)
  private val dec0: Column = lit(0).cast("decimal(17,2)")
  private def isBlank(c: Column): Column = c.isNull || c === ""

  /** Accounting-effect rows: trn_accounting ⋈ trn_voucher with the
    * order/inventory exclusion (docs/data-structure.md:203-215). */
  private def accountingEffects(t: TallyTables): DataFrame =
    t.trnAccounting.as("a").join(t.trnVoucher.as("v"), col("a.guid") === col("v.guid"))
      .filter(col("v.is_order_voucher") === 0 &&
        col("v.is_inventory_voucher") === 0)

  // ── trial-balance.sql ──────────────────────────────────────────────
  /** Per-ledger opening / debit / credit / closing for a period.
    * Opening folds pre-period activity for non-revenue ledgers only
    * (trial-balance.sql:23-27). */
  def trialBalance(t: TallyTables, fromDate: String, toDate: String): DataFrame = {
    val eff = accountingEffects(t)
    val op = eff.filter(col("v.date") < lit(fromDate))
      .groupBy(col("a.ledger").as("ledger"))
      .agg(sum(col("a.amount")).as("op_amount"))
    val curr = eff.filter(col("v.date").between(lit(fromDate), lit(toDate)))
      .groupBy(col("a.ledger").as("ledger"))
      .agg(
        sum(when(col("a.amount") < 0, abs(col("a.amount"))).otherwise(dec0))
          .as("debit"),
        sum(when(col("a.amount") > 0, col("a.amount")).otherwise(dec0))
          .as("credit"))
    val l = t.mstLedger
    val opening = when(l("is_revenue") === 0,
      l("opening_balance") + coalesce(col("op_amount"), dec0))
      .otherwise(dec0)
    val debit = coalesce(col("debit"), dec0)
    val credit = coalesce(col("credit"), dec0)
    l.join(op, l("name") === op("ledger"), "left")
      .join(curr, l("name") === curr("ledger"), "left")
      .select(l("name"),
        fin2(opening).as("opening"),
        fin2(debit).as("debit"),
        fin2(credit).as("credit"),
        fin2(when(l("is_revenue") === 0, opening + credit - debit)
          .otherwise(credit - debit)).as("closing"))
      .orderBy(col("name"))
  }

  // ── account-ledger.sql ─────────────────────────────────────────────
  /** Statement of one ledger with per-voucher contra-ledger list.
    * The reference's string_agg is unordered; ours sorts for
    * determinism (SURVEY §7.4). A contra voucher whose legs are all on
    * the target ledger drops out (inner join to the entry list) —
    * faithful to account-ledger.sql:20-26. */
  def accountLedger(t: TallyTables, ledger: String,
      fromDate: String, toDate: String): DataFrame = {
    val vch = t.trnAccounting.as("a")
      .join(t.trnVoucher.as("v"), col("a.guid") === col("v.guid"))
      .filter(col("a.ledger") === ledger &&
        col("v.is_accounting_voucher") === 1 &&
        col("v.date").between(lit(fromDate), lit(toDate)))
      .select(col("v.guid").as("guid"), col("v.date").as("date"),
        col("v.voucher_number").as("voucher_number"),
        col("v.voucher_type").as("voucher_type"),
        col("v.narration").as("narration"),
        when(col("a.amount") < 0, -col("a.amount")).otherwise(dec0).as("debit"),
        when(col("a.amount") > 0, col("a.amount")).otherwise(dec0).as("credit"))
    val entries = t.trnVoucher.as("v")
      .join(t.trnAccounting.as("a"),
        col("a.guid") === col("v.guid") && col("a.ledger") =!= ledger)
      .join(vch.select(col("guid")).distinct().as("sel"),
        col("v.guid") === col("sel.guid"), "left_semi")
      .filter(col("v.is_order_voucher") === 0 &&
        col("v.is_inventory_voucher") === 0)
      .groupBy(col("v.guid").as("eguid"))
      .agg(array_join(array_sort(collect_list(col("a.ledger"))), ",")
        .as("ledgers"))
    vch.join(entries, vch("guid") === entries("eguid"))
      .select(col("date"), col("voucher_number"), col("voucher_type"),
        col("ledgers"), fin2(col("debit")).as("debit"),
        fin2(col("credit")).as("credit"), col("narration"))
      .orderBy(col("date"), col("voucher_number"), col("debit"))
  }

  // ── accounting-voucher-view.sql ────────────────────────────────────
  /** Synthetic opening rows (dated 2000-01-01) stitched onto the
    * accounting transaction stream with primary-group enrichment. */
  def accountingVoucherView(t: TallyTables): DataFrame = {
    val l = t.mstLedger.as("l")
    val g = t.mstGroup.as("g")
    val opening = l.join(broadcast(g), col("l.parent") === col("g.name"))
      .filter(col("l.opening_balance") =!= 0)
      .select(to_date(lit("2000-01-01")).as("date"),
        lit("Opening Balance").as("voucher_type"),
        lit("").as("voucher_number"),
        col("l.name").as("ledger"),
        fin2(col("l.opening_balance")).as("amount"),
        lit("").as("party_name"),
        col("g.primary_group").as("primary_group"),
        lit("Opening Balance").as("voucher_category"))
    val txns = accountingEffects(t)
      .join(broadcast(t.mstVouchertype.as("vt")),
        col("v.voucher_type") === col("vt.name"))
      .join(l, col("a.ledger") === col("l.name"))
      .join(broadcast(g), col("l.parent") === col("g.name"))
      .select(to_date(col("v.date")).as("date"),
        col("v.voucher_type").as("voucher_type"),
        col("v.voucher_number").as("voucher_number"),
        col("a.ledger").as("ledger"),
        fin2(col("a.amount")).as("amount"),
        col("v.party_name").as("party_name"),
        col("g.primary_group").as("primary_group"),
        col("vt.parent").as("voucher_category"))
    opening.unionByName(txns)
      .orderBy(col("date"), col("ledger"), col("amount"),
        col("voucher_number"))
  }

  // ── daily-cash-movement.sql ────────────────────────────────────────
  /** Gap-filled daily receipt/payment over cash ledgers; voucher-type
    * and group matches are case-insensitive (MSSQL collation
    * semantics in the reference). */
  def dailyCashMovement(t: TallyTables, fromDate: String,
      toDate: String): DataFrame = {
    val cal = t.trnVoucher.sparkSession.range(1)
      .select(explode(sequence(to_date(lit(fromDate)),
        to_date(lit(toDate)))).as("date"))
    val mov = t.trnAccounting.as("a")
      .join(t.trnVoucher.as("v"), col("a.guid") === col("v.guid"))
      .join(broadcast(t.mstLedger.as("l")), col("a.ledger") === col("l.name"))
      .join(broadcast(t.mstGroup.as("g")), col("l.parent") === col("g.name"))
      .join(broadcast(t.mstVouchertype.as("vt")),
        col("v.voucher_type") === col("vt.name"))
      .filter(lower(col("g.primary_group")) === "cash-in-hand" &&
        lower(col("vt.parent")).isin("receipt", "payment", "contra"))
      .groupBy(col("v.date").as("mdate"))
      .agg(
        sum(when(col("a.amount") < 0, -col("a.amount")).otherwise(dec0))
          .as("receipt"),
        sum(when(col("a.amount") > 0, col("a.amount")).otherwise(dec0))
          .as("payment"))
    cal.join(mov, cal("date") === col("mdate"), "left")
      .select(cal("date"),
        fin2(coalesce(col("receipt"), dec0)).as("receipt"),
        fin2(coalesce(col("payment"), dec0)).as("payment"))
      .orderBy(col("date"))
  }

  // ── group-tree-parent-child.sql / group-tree-children-parent.sql ───
  /** Descendant traversal: the group row plus every group below it. */
  def groupTreeParentChild(t: TallyTables, group: String): DataFrame =
    treeWalk(t, group, downward = true)

  /** Ancestor traversal: the group row plus the chain up to the root. */
  def groupTreeChildrenParent(t: TallyTables, group: String): DataFrame =
    treeWalk(t, group, downward = false)

  private def treeWalk(t: TallyTables, group: String,
      downward: Boolean): DataFrame = {
    // materialize the edge table once — mstGroup's lineage (the
    // handcrafted VALUES union the generated bulk forest) would
    // otherwise be replanned and re-derived at EVERY level of the
    // walk; the loop then joins cached blocks (guide §2.4/§5)
    val g = t.mstGroup.select(col("name"), col("parent"))
      .localCheckpoint(eager = true)
    Hierarchy.frontierWalk(g.filter(col("name") === group), 500)(f =>
      (if (downward)
        g.as("e").join(f.as("f"), col("e.parent") === col("f.name"))
      else
        g.as("e").join(f.as("f"), col("e.name") === col("f.parent")))
        .select(col("e.name").as("name"), col("e.parent").as("parent")))
      .orderBy(col("name"))
  }

  // ── profit-loss.sql ────────────────────────────────────────────────
  /** Income/expense balances per revenue ledger plus synthetic
    * opening/closing stock lines; nature classification via
    * CASE-over-MAX (profit-loss.sql:42-43); closing stock takes the
    * latest snapshot per ledger via row_number (profit-loss.sql:32). */
  def profitLoss(t: TallyTables): DataFrame = {
    val groupBal = t.trnAccounting.as("a")
      .join(t.trnVoucher.as("v"), col("a.guid") === col("v.guid"))
      .join(broadcast(t.mstVouchertype.as("vt")),
        col("v.voucher_type") === col("vt.name"))
      .join(broadcast(t.mstLedger.as("l")), col("a.ledger") === col("l.name"))
      .join(broadcast(t.mstGroup.as("g")), col("l.parent") === col("g.name"))
      .filter(col("g.is_revenue") === 1 && col("v.is_order_voucher") === 0 &&
        col("v.is_inventory_voucher") === 0 && col("vt.affects_stock") === 0)
      .groupBy(col("g.primary_group").as("group"), col("l.name").as("ledger"))
      .agg(
        when(max(col("g.is_deemedpositive")) === 1, "expense")
          .otherwise("income").as("nature"),
        when(max(col("g.affects_gross_profit")) === 1, "Y").otherwise("N")
          .as("affects_gross_profit"),
        fin2(sum(col("a.amount"))).as("balance"))
    val openingStock = t.mstLedger.as("l")
      .join(broadcast(t.mstGroup.as("g")), col("l.parent") === col("g.name"))
      .filter(col("g.primary_group") === "Stock-in-hand")
      .agg(fin2(sum(col("l.opening_balance"))).as("balance"))
      .select(lit("Opening Stock").as("group"),
        lit("Opening Stock").as("ledger"), lit("expense").as("nature"),
        lit("Y").as("affects_gross_profit"), col("balance"))
    val w = Window.partitionBy(col("ledger")).orderBy(col("stock_date").desc)
    val closingStock = t.trnClosingstockLedger
      .withColumn("ctr", row_number().over(w))
      .filter(col("ctr") === 1)
      .agg(fin2(-sum(col("stock_value"))).as("balance"))
      .select(lit("Closing Stock").as("group"),
        lit("Closing Stock").as("ledger"), lit("income").as("nature"),
        lit("Y").as("affects_gross_profit"), col("balance"))
    groupBal.unionByName(openingStock).unionByName(closingStock)
      .orderBy(col("group"), col("ledger"))
  }

  // ── sales-daily.sql / purchase-daily.sql ───────────────────────────
  /** Gap-filled daily totals for one primary group. `negate` flips the
    * sign (purchases are debits); `excludeNonAccounting` mirrors the
    * reference asymmetry: purchase-daily filters order/inventory
    * vouchers, sales-daily does not (sales-daily.sql:18 vs
    * purchase-daily.sql:19 — faithfully preserved). */
  def dailyByGroup(t: TallyTables, primaryGroup: String, fromDate: String,
      toDate: String, negate: Boolean,
      excludeNonAccounting: Boolean): DataFrame = {
    val cal = t.trnVoucher.sparkSession.range(1)
      .select(explode(sequence(to_date(lit(fromDate)),
        to_date(lit(toDate)))).as("date"))
    val base = t.trnAccounting.as("a")
      .join(t.trnVoucher.as("v"), col("a.guid") === col("v.guid"))
      .join(broadcast(t.mstLedger.as("l")), col("a.ledger") === col("l.name"))
      .join(broadcast(t.mstGroup.as("g")), col("l.parent") === col("g.name"))
      .filter(col("g.primary_group") === primaryGroup &&
        col("v.date") >= lit(fromDate) && col("v.date") <= lit(toDate))
    val filtered = if (excludeNonAccounting)
      base.filter(col("v.is_order_voucher") === 0 &&
        col("v.is_inventory_voucher") === 0)
    else base
    val daily = filtered.groupBy(col("v.date").as("mdate"))
      .agg(sum(col("a.amount")).as("amount"))
    val amt = coalesce(if (negate) -col("amount") else col("amount"), dec0)
    cal.join(daily, cal("date") === col("mdate"), "left")
      .select(cal("date"), fin2(amt).as("amount"))
      .orderBy(col("date"))
  }

  def salesDaily(t: TallyTables, fromDate: String, toDate: String): DataFrame =
    dailyByGroup(t, "Sales Accounts", fromDate, toDate,
      negate = false, excludeNonAccounting = false)

  def purchaseDaily(t: TallyTables, fromDate: String, toDate: String): DataFrame =
    dailyByGroup(t, "Purchase Accounts", fromDate, toDate,
      negate = true, excludeNonAccounting = true)

  // ── sales-monthly.sql / purchase-monthly.sql ───────────────────────
  /** Month roll-up of the daily series, keeping empty months. */
  def monthlyByGroup(t: TallyTables, primaryGroup: String, fromDate: String,
      toDate: String, negate: Boolean,
      excludeNonAccounting: Boolean): DataFrame =
    dailyByGroup(t, primaryGroup, fromDate, toDate, negate,
      excludeNonAccounting)
      .groupBy(year(col("date")).as("year"), month(col("date")).as("month"))
      // the daily `amount` is an edge-rounded double (exact 2-dp value);
      // re-cast to DECIMAL so the month roll-up stays order-independent
      .agg(fin2(sum(col("amount").cast("decimal(18,6)"))).as("amount"))
      .orderBy(col("year"), col("month"))

  def salesMonthly(t: TallyTables, fromDate: String, toDate: String): DataFrame =
    monthlyByGroup(t, "Sales Accounts", fromDate, toDate,
      negate = false, excludeNonAccounting = false)

  def purchaseMonthly(t: TallyTables, fromDate: String, toDate: String): DataFrame =
    monthlyByGroup(t, "Purchase Accounts", fromDate, toDate,
      negate = true, excludeNonAccounting = true)

  // ── sales-register.sql / purchase-register.sql ─────────────────────
  /** Line-grain register: voucher joined to its party ledger (second
    * alias of mst_ledger) with the self-join inequality
    * `a.ledger <> v.party_name` (sales-register.sql:14-16). */
  def register(t: TallyTables, vtParent: String, negate: Boolean): DataFrame = {
    val amt = if (negate) -col("a.amount") else col("a.amount")
    t.trnAccounting.as("a")
      .join(t.trnVoucher.as("v"), col("a.guid") === col("v.guid"))
      .join(broadcast(t.mstVouchertype.as("vt")),
        col("v.voucher_type") === col("vt.name"))
      .join(broadcast(t.mstLedger.as("l")), col("a.ledger") === col("l.name"))
      .join(broadcast(t.mstLedger.as("z")),
        col("v.party_name") === col("z.name"))
      .filter(col("vt.parent") === vtParent &&
        col("a.ledger") =!= col("v.party_name"))
      .select(to_date(col("v.date")).as("date"),
        col("v.voucher_number").as("voucher_number"),
        col("v.voucher_type").as("voucher_type"),
        col("v.party_name").as("party_name"),
        col("z.gstn").as("gstn"),
        col("a.ledger").as("ledger"),
        fin2(amt).as("amount"))
      .orderBy(col("date"), col("voucher_number"), col("ledger"),
        col("amount"))
  }

  def salesRegister(t: TallyTables): DataFrame =
    register(t, "Sales", negate = false)

  def purchaseRegister(t: TallyTables): DataFrame =
    register(t, "Purchase", negate = true)

  // ── stock-summary.sql ──────────────────────────────────────────────
  /** Per-item opening/in/out/closing with tracking-number
    * reconciliation across the three workflow styles
    * (docs/data-structure.md:217-258): blank tracking counts directly;
    * tracked rows count the invoice side when note==invoice (strict
    * workflow) or the note side when the note is unmatched (partial).
    */
  def stockSummary(t: TallyTables): DataFrame = {
    val inv = t.trnInventory.as("i")
      .join(t.trnVoucher.as("v"), col("i.guid") === col("v.guid"))
      .join(broadcast(t.mstVouchertype.as("vt")),
        col("v.voucher_type") === col("vt.name"))
    val isNote = col("vt.parent").isin("Receipt Note", "Delivery Note")
    val reco = inv.filter(!isBlank(col("i.tracking_number")))
      .groupBy(col("i.item").as("ritem"),
        col("i.tracking_number").as("rtrack"))
      .agg(
        sum(when(isNote, abs(col("i.quantity")))
          .otherwise(lit(0).cast("decimal(15,4)"))).as("note"),
        sum(when(!isNote, abs(col("i.quantity")))
          .otherwise(lit(0).cast("decimal(15,4)"))).as("invoice"))
    val effects = inv
      .join(reco, col("i.item") === col("ritem") &&
        col("i.tracking_number") === col("rtrack"), "left")
      .filter(col("v.is_order_voucher") === 0 &&
        (isBlank(col("i.tracking_number")) ||
          (!isNote && col("note") === col("invoice")) ||
          (isNote && col("note") > col("invoice"))))
      .groupBy(col("i.item").as("eitem"))
      .agg(
        sum(when(col("i.quantity") > 0, col("i.quantity"))
          .otherwise(lit(0).cast("decimal(15,4)"))).as("in_qty"),
        sum(when(col("i.quantity") < 0, -col("i.quantity"))
          .otherwise(lit(0).cast("decimal(15,4)"))).as("out_qty"))
    val s = t.mstStockItem
    val zero4 = lit(0).cast("decimal(15,4)")
    def fin4(c: Column) = round(c.cast("double"), 6)
    s.join(effects, s("name") === col("eitem"), "left")
      .select(s("name"), s("parent"), s("uom"),
        fin4(s("opening_balance")).as("op_qty"),
        fin4(coalesce(col("in_qty"), zero4)).as("in_qty"),
        fin4(coalesce(col("out_qty"), zero4)).as("out_qty"),
        fin4(s("opening_balance") + coalesce(col("in_qty"), zero4) -
          coalesce(col("out_qty"), zero4)).as("clo_bal"))
      .orderBy(col("name"))
  }

  // ── stock-voucher-view.sql ─────────────────────────────────────────
  /** Inventory movement view: batch-allocation opening rows plus
    * deduplicated inventory rows — first voucher per (tracking, item)
    * wins, blank tracking passes through
    * (stock-voucher-view.sql:16-21). Tie-break on guid added for
    * determinism. */
  def stockVoucherView(t: TallyTables): DataFrame = {
    val opening = t.mstOpeningBatchAllocation
      .select(to_date(lit("2000-01-01")).as("date"),
        lit("").as("voucher_number"),
        lit("Opening Balance").as("voucher_type"),
        col("item"),
        round(col("opening_balance").cast("double"), 6).as("quantity"),
        fin2(col("opening_value")).as("amount"),
        col("godown"))
    val w = Window.partitionBy(col("i.tracking_number"), col("i.item"))
      .orderBy(col("v.date"), col("v.guid"))
    val txns = t.trnInventory.as("i")
      .join(t.trnVoucher.as("v"), col("i.guid") === col("v.guid"))
      .filter(col("v.is_order_voucher") === 0)
      .withColumn("repetition",
        when(isBlank(col("i.tracking_number")), lit(1))
          .otherwise(row_number().over(w)))
      .filter(col("repetition") === 1)
      .select(to_date(col("v.date")).as("date"),
        col("v.voucher_number").as("voucher_number"),
        col("v.voucher_type").as("voucher_type"),
        col("i.item").as("item"),
        round(col("i.quantity").cast("double"), 6).as("quantity"),
        fin2(col("i.amount")).as("amount"),
        col("i.godown").as("godown"))
    opening.unionByName(txns)
      .orderBy(col("date"), col("item"), col("voucher_number"))
  }

  // ── forex register (P10) ───────────────────────────────────────────
  /** Multi-currency accounting rows (reference
    * tally-export-config.yaml:466-470: `amount_forex` carries the
    * `$$ForexValue` with the same debit-negative sign resolution,
    * `currency` the `$$Currency` symbol): every line whose currency is
    * foreign (forex value ≠ 0), with the implied exchange rate. */
  def forexRegister(t: TallyTables): DataFrame =
    t.trnAccounting.as("a")
      .join(t.trnVoucher.as("v"), col("a.guid") === col("v.guid"))
      .filter(col("a.amount_forex") =!= 0)
      .select(to_date(col("v.date")).as("date"),
        col("v.voucher_number").as("voucher_number"),
        col("v.voucher_type").as("voucher_type"),
        col("a.ledger").as("ledger"),
        fin2(col("a.amount")).as("amount"),
        fin2(col("a.amount_forex")).as("amount_forex"),
        col("a.currency").as("currency"),
        // implied base-per-forex rate; both sides share sign so the
        // ratio is positive. Double division (not decimal): IEEE is
        // engine-identical, while decimal-division result scales are
        // not (Spark and DuckDB pick different quotient scales)
        round(col("a.amount").cast("double") /
          col("a.amount_forex").cast("double"), 6).as("exchange_rate"))
      .orderBy(col("date"), col("voucher_number"), col("ledger"))

  // ── surrogate-FK consumption (P15) ─────────────────────────────────
  /** Per-group balances joined THROUGH the surrogate `_ledger` guid
    * column (reference incremental schema: children carry `_fk`
    * columns resolved at extract time; queries join guid = _fk instead
    * of name = name). `accounting` must already carry `_ledger` — see
    * [[graft.operators.SurrogateFk.enrich]]. */
  def fkRegister(t: TallyTables, accounting: DataFrame): DataFrame =
    accounting.as("a")
      .join(t.trnVoucher.as("v"), col("a.guid") === col("v.guid"))
      .filter(col("v.is_order_voucher") === 0 &&
        col("v.is_inventory_voucher") === 0)
      .join(broadcast(t.mstLedger.as("l")),
        col("a._ledger") === col("l.guid"))
      .groupBy(col("l.parent").as("ledger_group"))
      .agg(
        fin2(sum(when(col("a.amount") < 0, -col("a.amount"))
          .otherwise(dec0))).as("debit"),
        fin2(sum(when(col("a.amount") > 0, col("a.amount"))
          .otherwise(dec0))).as("credit"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("ledger_group"))
}
