package perfbench

import java.math.{BigDecimal => JBig}
import java.time.LocalDate
import java.util.SplittableRandom

/** A Tally attribute value that renders as `<number>/<unit>` — Tally's
  * rate text, which the loader's rate normalizer strips to the number. */
final case class Rate(value: JBig, unit: String)

final case class Group(guid: String, alterId: Long, name: String,
    parent: String, primary: String, isRevenue: Boolean,
    deemedPositive: Boolean, affectsGrossProfit: Boolean)

final case class Ledger(guid: String, alterId: Long, name: String,
    parent: String, opening: JBig, isRevenue: Boolean, gstn: String)

final case class VoucherType(guid: String, alterId: Long, name: String,
    parent: String, numbering: String, affectsStock: Boolean)

final case class StockItem(guid: String, alterId: Long, name: String,
    parent: String, uom: String, openingQty: JBig, openingValue: JBig)

final case class ClosingValue(date: LocalDate, amount: JBig)

final case class Leg(ledger: String, amount: JBig, forex: JBig,
    currency: String)

final case class InvLine(item: String, qty: JBig, rate: JBig, amount: JBig,
    godown: String, tracking: String)

/** One voucher. `ledger` fields hold ledger GUIDs, so a ledger rename
  * shows in every voucher that references it (as it does in Tally);
  * `seq` orders vouchers of one date for auto-numbering. */
final case class Voucher(guid: String, alterId: Long, seq: Long,
    date: LocalDate, vtype: String, manualNumber: String, party: String,
    narration: String, isInvoice: Boolean, isAccounting: Boolean,
    isInventory: Boolean, isOrder: Boolean, refDate: Option[LocalDate],
    legs: Vector[Leg], inv: Vector[InvLine])

/** A Tally company as the fake server holds it. Every table the export
  * definition reads is derived from these objects by [[route]], which
  * both the fake's renderer and the expected DataFrames consume. */
final case class Company(groups: Vector[Group], ledgers: Vector[Ledger],
    vtypes: Vector[VoucherType], items: Vector[StockItem],
    closing: Map[String, Vector[ClosingValue]], vouchers: Vector[Voucher]) {

  type Row = Map[String, Any]

  lazy val ledgerByGuid: Map[String, Ledger] =
    ledgers.iterator.map(l => l.guid -> l).toMap

  def masterAlterId: Long = (groups.map(_.alterId) ++ ledgers.map(_.alterId) ++
    vtypes.map(_.alterId) ++ items.map(_.alterId)).max
  def voucherAlterId: Long = vouchers.iterator.map(_.alterId).max

  private def ledgerName(guid: String): String =
    ledgerByGuid.get(guid).map(_.name).getOrElse("")

  /** Auto-numbered voucher numbers: the rank of a voucher within its
    * type by (date, seq), so an earlier-dated insert shifts the numbers
    * of every later voucher of that type. */
  lazy val voucherNumber: Map[String, String] = {
    val auto = vtypes.filter(_.numbering == "Automatic").map(_.name).toSet
    val numbered = vouchers.filter(v => auto(v.vtype)).groupBy(_.vtype)
      .valuesIterator.flatMap(_.sortBy(v => (v.date.toEpochDay, v.seq))
        .iterator.zipWithIndex.map { case (v, i) => v.guid -> (i + 1).toString })
    numbered.toMap
  }

  /** Attribute rows of the top-level objects per collection. */
  lazy val objects: Map[String, IndexedSeq[Row]] = Map(
    "Group" -> groups.map(g => Map("Guid" -> g.guid, "AlterId" -> g.alterId,
      "Name" -> g.name, "Parent" -> g.parent, "_PrimaryGroup" -> g.primary,
      "IsRevenue" -> g.isRevenue, "IsDeemedPositive" -> g.deemedPositive,
      "AffectsGrossProfit" -> g.affectsGrossProfit)),
    "Ledger" -> ledgers.map(l => Map("Guid" -> l.guid, "AlterId" -> l.alterId,
      "Name" -> l.name, "Parent" -> l.parent, "OpeningBalance" -> l.opening,
      "IsRevenue" -> l.isRevenue, "PartyGSTIN" -> l.gstn)),
    "VoucherType" -> vtypes.map(t => Map("Guid" -> t.guid,
      "AlterId" -> t.alterId, "Name" -> t.name, "Parent" -> t.parent,
      "NumberingMethod" -> t.numbering, "AffectsStock" -> t.affectsStock)),
    "StockItem" -> items.map(s => Map("Guid" -> s.guid, "AlterId" -> s.alterId,
      "Name" -> s.name, "Parent" -> s.parent, "BaseUnits" -> s.uom,
      "OpeningBalance" -> s.openingQty, "OpeningValue" -> s.openingValue)),
    "Voucher" -> vouchers.map(v => Map("Guid" -> v.guid,
      "AlterId" -> v.alterId, "Date" -> v.date, "VoucherTypeName" -> v.vtype,
      "VoucherNumber" -> voucherNumber.getOrElse(v.guid, v.manualNumber),
      "PartyLedgerName" -> ledgerName(v.party), "Narration" -> v.narration,
      "IsInvoice" -> v.isInvoice, "IsAccountingVoucher" -> v.isAccounting,
      "IsInventoryVoucher" -> v.isInventory, "IsOrderVoucher" -> v.isOrder,
      "ReferenceDate" -> v.refDate.orNull)))

  /** Child lines of a `Parent.Children` route, aligned with
    * `objects(Parent)`. A line reads attributes it lacks (the voucher
    * `Guid` of a ledger entry) from its parent, and `..X` from it too. */
  private lazy val children: Map[String, IndexedSeq[IndexedSeq[Row]]] = Map(
    "Ledger.LedgerClosingValues" -> ledgers.map(l =>
      closing.getOrElse(l.guid, Vector.empty).map(c =>
        Map[String, Any]("Date" -> c.date, "Amount" -> c.amount))),
    "StockItem.BatchAllocations" -> items.map(s =>
      if (s.openingQty.signum == 0) IndexedSeq.empty
      else IndexedSeq(Map[String, Any]("OpeningBalance" -> s.openingQty,
        "OpeningValue" -> s.openingValue, "GodownName" -> "Main"))),
    "Voucher.AllLedgerEntries" -> vouchers.map(_.legs.map(g =>
      Map[String, Any]("LedgerName" -> ledgerName(g.ledger),
        "Amount" -> g.amount, "AmountForex" -> g.forex,
        "Currency" -> g.currency))),
    "Voucher.AllInventoryEntries" -> vouchers.map(_.inv.map(i =>
      Map[String, Any]("StockItemName" -> i.item, "ActualQty" -> i.qty,
        "Rate" -> Rate(i.rate, "Nos"), "Amount" -> i.amount,
        "GodownName" -> i.godown, "TrackingNumber" -> i.tracking))))

  /** Objects of a collection route, each with the lines it exports: the
    * object itself for a top-level route, its children otherwise. */
  def route(path: String): IndexedSeq[(Row, IndexedSeq[Row])] = {
    val top = objects.getOrElse(path.takeWhile(_ != '.'),
      throw new IllegalArgumentException(s"unknown collection $path"))
    if (!path.contains('.')) top.map(r => r -> IndexedSeq(r))
    else top.zip(children.getOrElse(path,
      throw new IllegalArgumentException(s"unknown collection $path")))
  }

  /** Name → GUID for the `$Guid:<Collection>:$<NameField>` lookups the
    * export definition's surrogate-FK fields use. */
  lazy val guidByName: Map[String, Map[String, String]] =
    Map(
      "Group" -> groups.map(g => g.name -> g.guid).toMap,
      "Ledger" -> ledgers.map(l => l.name -> l.guid).toMap,
      "VoucherType" -> vtypes.map(t => t.name -> t.guid).toMap,
      "StockItem" -> items.map(s => s.name -> s.guid).toMap)
}

/** Seeded generator of the benchmark's Tally company and of the change
  * batches applied to it. The same seed and size give the same company. */
object Company {

  private def amt(cents: Long): JBig = JBig.valueOf(cents, 2)
  private def qty(units: Long): JBig = JBig.valueOf(units).setScale(4)

  val FyStart: LocalDate = LocalDate.of(2020, 4, 1)

  // (name, parent, numbering, affects stock, share of vouchers in ‰)
  private val VoucherTypes = Seq(
    ("Sales", "Sales", "Automatic", false, 300),
    ("Purchase", "Purchase", "Manual", false, 200),
    ("Receipt", "Receipt", "Manual", false, 150),
    ("Payment", "Payment", "Manual", false, 150),
    ("Contra", "Contra", "Manual", false, 50),
    ("Delivery Note", "Delivery Note", "Manual", true, 50),
    ("Receipt Note", "Receipt Note", "Manual", true, 50),
    ("Sales Order", "Sales Order", "Manual", false, 50))

  private val Prefix = Map("Purchase" -> "PU", "Receipt" -> "RC",
    "Payment" -> "PY", "Contra" -> "CT", "Delivery Note" -> "DN",
    "Receipt Note" -> "RN", "Sales Order" -> "SO")

  // the handcrafted groups of the report fixtures, plus the ledgers'
  // extra primaries: (name, parent, primary, revenue, deemed +, GP)
  private val BaseGroups = Seq(
    ("Sales Accounts", "", "Sales Accounts", true, false, true),
    ("Purchase Accounts", "", "Purchase Accounts", true, true, true),
    ("Cash-in-hand", "", "Cash-in-hand", false, true, false),
    ("Bank Accounts", "", "Bank Accounts", false, true, false),
    ("Duties & Taxes", "", "Duties & Taxes", false, false, false),
    ("Sundry Debtors", "", "Sundry Debtors", false, true, false),
    ("Sundry Creditors", "", "Sundry Creditors", false, false, false),
    ("Stock-in-hand", "", "Stock-in-hand", false, true, false),
    ("Indirect Expenses", "", "Indirect Expenses", true, true, false),
    ("Loans & Advances (Asset)", "", "Loans & Advances (Asset)", false,
      true, false),
    ("Advances", "Loans & Advances (Asset)", "Loans & Advances (Asset)",
      false, true, false),
    ("Staff Advances", "Advances", "Loans & Advances (Asset)", false, true,
      false),
    ("Field Advances", "Staff Advances", "Loans & Advances (Asset)", false,
      true, false),
    ("Temp Advances", "Field Advances", "Loans & Advances (Asset)", false,
      true, false))

  /** Size of the deep group forest, as in the report fixtures: chains
    * of `ForestChains` hang under Staff Advances. */
  val ForestGroups = 280
  val ForestChains = 40
  val Parties = 400
  val Items = 40

  // (name, group, revenue)
  private val BaseLedgers = Seq(
    ("Cash", "Cash-in-hand", false), ("Bank", "Bank Accounts", false),
    ("Sales Local", "Sales Accounts", true),
    ("Sales Export", "Sales Accounts", true),
    ("Purchase Local", "Purchase Accounts", true),
    ("Purchase Import", "Purchase Accounts", true),
    ("Output GST", "Duties & Taxes", false),
    ("Input GST", "Duties & Taxes", false),
    ("Stock Ledger", "Stock-in-hand", false),
    ("Rent", "Indirect Expenses", true))

  /** Party names carry the characters the XML edge must escape and
    * round-trip: `&`, `'`, `"`, `<`, `>` and non-ASCII letters. */
  def partyName(j: Int): String = j % 10 match {
    case 3 => s"Mehta & Sons $j"
    case 5 => s"D'Souza Traders $j"
    case 7 => s"Müller \"Prime\" $j"
    case 9 => s"<Alpha> Corp $j"
    case _ => s"Party $j"
  }

  private def guid(kind: String, i: Long, rnd: SplittableRandom): String =
    f"${rnd.nextInt() & 0x7fffffff}%08x-$kind-$i"

  def generate(seed: Long, vouchers: Int): Company = {
    val rnd = new SplittableRandom(seed)
    var alter = 0L
    def nextAlter(): Long = { alter += 1; alter }

    val groups = (BaseGroups.zipWithIndex.map { case ((n, p, pg, r, d, gp), i) =>
      Group(guid("grp", i, rnd), nextAlter(), n, p, pg, r, d, gp)
    } ++ (0 until ForestGroups).map { g =>
      val parent = if (g < ForestChains) "Staff Advances"
        else s"BG ${g - ForestChains}"
      Group(guid("grp", BaseGroups.size + g, rnd), nextAlter(), s"BG $g",
        parent, "Loans & Advances (Asset)", false, true, false)
    }).toVector

    val base = BaseLedgers.zipWithIndex.map { case ((n, p, r), i) =>
      val opening = if (r) amt(0) else amt(rnd.nextLong(-500000L, 500000L))
      Ledger(guid("led", i, rnd), nextAlter(), n, p, opening, r, "")
    }
    val parties = (0 until Parties).map { j =>
      Ledger(guid("led", BaseLedgers.size + j, rnd), nextAlter(), partyName(j),
        if (j % 2 == 0) "Sundry Debtors" else "Sundry Creditors",
        amt(rnd.nextLong(-250000L, 250000L)), false,
        if (j % 3 == 0) f"27AAACP${1000 + j}%04dQ1Z5" else "")
    }
    val ledgers = (base ++ parties).toVector

    val vtypes = VoucherTypes.zipWithIndex.map { case ((n, p, num, st, _), i) =>
      VoucherType(guid("vt", i, rnd), nextAlter(), n, p, num, st)
    }.toVector

    val items = (0 until Items).map { j =>
      val q = if (j % 4 == 3) 0L else rnd.nextLong(1L, 60L)
      val rate = rnd.nextLong(5000L, 50000L)
      StockItem(guid("itm", j, rnd), nextAlter(), f"Item $j%02d",
        if (j % 2 == 0) "Components" else "Finished", "Nos", qty(q),
        amt(-q * rate))
    }.toVector

    val stockLedger = ledgers.find(_.name == "Stock Ledger").get.guid
    val closing = Map(stockLedger -> Seq("2020-06-30", "2020-09-30",
      "2020-12-31", "2021-03-31").map(d => ClosingValue(LocalDate.parse(d),
        amt(rnd.nextLong(100000L, 9000000L)))).toVector)

    val company = Company(groups, ledgers, vtypes, items, closing, Vector.empty)
    val gen = new VoucherGen(company, rnd)
    val vs = (0 until vouchers).map(i =>
      gen.voucher(i.toLong, nextAlter(), gen.pickType(), gen.pickDate()))
    company.copy(vouchers = vs.toVector)
  }

  /** One seeded change batch — what a Tally user does between two
    * sync ticks: 50 vouchers deleted, edited or inserted (one insert
    * dated early in the year on the auto-numbered Sales type, so later
    * Sales numbers shift), one party ledger renamed and one new party
    * ledger with a voucher against it. */
  def changeBatch(c: Company, seed: Long): Company = {
    val rnd = new SplittableRandom(seed ^ 0x5deece66dL)
    var alter = math.max(c.masterAlterId, c.voucherAlterId)
    def nextAlter(): Long = { alter += 1; alter }

    val parties = c.ledgers.filter(l => l.parent.startsWith("Sundry"))
    val used = c.vouchers.iterator.map(_.party).toSet
    val renamed = parties.filter(l => used(l.guid))(rnd.nextInt(
      parties.count(l => used(l.guid))))
    val fresh = Ledger(guid("led", c.ledgers.size.toLong, rnd), 0L,
      s"New Party ${rnd.nextInt(1000)}", "Sundry Debtors", amt(0), false, "")
    val ledgers = c.ledgers.map(l =>
      if (l.guid == renamed.guid) l.copy(alterId = nextAlter(),
        name = l.name + " Renamed") else l) :+ fresh.copy(alterId = nextAlter())
    val withLedgers = c.copy(ledgers = ledgers)

    // two deletes, two edits and two inserts per voucher type, so every
    // batch reaches the same tables whatever the seed
    val byType = c.vouchers.indices.groupBy(i => c.vouchers(i).vtype)
    val picks = VoucherTypes.map(_._1).flatMap { t =>
      val idx = byType(t)
      rnd.ints(0, idx.size).distinct().limit(4L).toArray.map(idx(_)).toSeq
    }.grouped(2).toSeq
    val deleted = picks.indices.filter(_ % 2 == 0).flatMap(picks(_))
      .map(c.vouchers(_).guid).toSet
    val edited = picks.indices.filter(_ % 2 == 1).flatMap(picks(_))
      .map(c.vouchers(_).guid).toSet
    val gen = new VoucherGen(withLedgers, rnd)
    val kept = c.vouchers.filterNot(v => deleted(v.guid)).map { v =>
      if (!edited(v.guid)) v
      else gen.voucher(v.seq, nextAlter(), v.vtype, v.date).copy(
        guid = v.guid, manualNumber = v.manualNumber,
        narration = v.narration + " (edited)")
    }
    val seq0 = c.vouchers.iterator.map(_.seq).max + 1
    val types = VoucherTypes.map(_._1).flatMap(t => Seq(t, t))
    val added = Seq(
      gen.voucher(seq0, nextAlter(), "Sales", FyStart.plusDays(2)),
      gen.voucher(seq0 + 1, nextAlter(), "Sales", gen.pickDate())
        .copy(party = fresh.guid)) ++
      types.zipWithIndex.map { case (t, k) =>
        gen.voucher(seq0 + 2 + k, nextAlter(), t, gen.pickDate()) }
    withLedgers.copy(vouchers = kept ++ added)
  }

  /** Voucher law shared by the generator and the change batches. */
  private final class VoucherGen(c: Company, rnd: SplittableRandom) {
    private def ledger(n: String) = c.ledgers.find(_.name == n).get.guid
    private val cash = ledger("Cash"); private val bank = ledger("Bank")
    private val salesLocal = ledger("Sales Local")
    private val salesExport = ledger("Sales Export")
    private val purchaseLocal = ledger("Purchase Local")
    private val purchaseImport = ledger("Purchase Import")
    private val outGst = ledger("Output GST"); private val inGst = ledger("Input GST")
    private val debtors = c.ledgers.filter(_.parent == "Sundry Debtors").map(_.guid)
    private val creditors = c.ledgers.filter(_.parent == "Sundry Creditors").map(_.guid)
    private val items = c.items
    // open delivery/receipt notes waiting for their invoice: the strict
    // note + invoice tracking pairs the stock reports reconcile
    private val openOut = scala.collection.mutable.Queue[InvLine]()
    private val openIn = scala.collection.mutable.Queue[InvLine]()

    def pickType(): String = {
      var r = rnd.nextInt(1000)
      VoucherTypes.find { t => r -= t._5; r < 0 }.get._1
    }

    def pickDate(): LocalDate =
      if (rnd.nextInt(20) == 0) FyStart.minusDays(1L + rnd.nextInt(30))
      else FyStart.plusDays(rnd.nextInt(365).toLong)

    private def cents(): Long = rnd.nextLong(10000L, 10000000L)
    private def local(g: String, a: Long) = Leg(g, amt(a), amt(0), "₹")

    private def invLine(out: Boolean, tracking: String): InvLine = {
      val it = items(rnd.nextInt(items.size))
      val q = rnd.nextLong(1L, 40L)
      val rate = rnd.nextLong(5000L, 50000L)
      val sign = if (out) -1L else 1L
      InvLine(it.name, qty(sign * q), amt(rate).setScale(4), amt(-sign * q * rate),
        "Main", tracking)
    }

    def voucher(seq: Long, alterId: Long, vtype: String,
        date: LocalDate): Voucher = {
      val a = cents()
      val forex = rnd.nextInt(10) == 0
      val withTax = rnd.nextInt(5) == 0
      val tax = a * 18 / 100
      def gst(taxLedger: String, sign: Long) =
        if (withTax) Vector(local(taxLedger, sign * tax)) else Vector.empty
      val total = if (withTax) a + tax else a
      def inventory(out: Boolean): Vector[InvLine] =
        if (rnd.nextInt(10) >= 3) Vector.empty else Vector(invLine(out, ""))
      val (party, legs, inv) = vtype match {
        case "Sales" =>
          val p = debtors(rnd.nextInt(debtors.size))
          val legs =
            if (forex) { val f = a / 80
              Vector(Leg(p, amt(-a), amt(-f), "$"), Leg(salesExport, amt(a), amt(f), "$")) }
            else Vector(local(p, -total), local(salesLocal, a)) ++ gst(outGst, 1)
          (p, legs, matched(out = true).getOrElse(inventory(out = true)))
        case "Purchase" =>
          val p = creditors(rnd.nextInt(creditors.size))
          val legs =
            if (forex) { val f = a / 90
              Vector(Leg(purchaseImport, amt(-a), amt(-f), "€"), Leg(p, amt(a), amt(f), "€")) }
            else Vector(local(purchaseLocal, -a)) ++ gst(inGst, -1) :+ local(p, total)
          (p, legs, matched(out = false).getOrElse(inventory(out = false)))
        case "Receipt" =>
          val p = debtors(rnd.nextInt(debtors.size))
          (p, Vector(local(if (rnd.nextBoolean()) cash else bank, -a), local(p, a)),
            Vector.empty)
        case "Payment" =>
          val p = creditors(rnd.nextInt(creditors.size))
          (p, Vector(local(p, -a), local(if (rnd.nextBoolean()) cash else bank, a)),
            Vector.empty)
        case "Contra" =>
          // one in five moves cash to itself: both legs on one ledger
          val from = if (rnd.nextInt(5) == 0) cash else bank
          ("", Vector(local(from, -a), local(cash, a)), Vector.empty)
        case "Delivery Note" =>
          val l = invLine(out = true, s"T$seq")
          if (rnd.nextBoolean()) openOut.enqueue(l)
          (debtors(rnd.nextInt(debtors.size)), Vector.empty, Vector(l))
        case "Receipt Note" =>
          val l = invLine(out = false, s"R$seq")
          if (rnd.nextBoolean()) openIn.enqueue(l)
          (creditors(rnd.nextInt(creditors.size)), Vector.empty, Vector(l))
        case "Sales Order" =>
          val p = debtors(rnd.nextInt(debtors.size))
          (p, Vector(local(p, -a), local(salesLocal, a)), Vector(invLine(out = true, "")))
      }
      val isInvoice = vtype == "Sales" || vtype == "Purchase"
      val isInventory = vtype == "Delivery Note" || vtype == "Receipt Note"
      val isOrder = vtype == "Sales Order"
      val refDate =
        if (isInvoice && rnd.nextInt(5) == 0) Some(date.minusDays(rnd.nextInt(10).toLong))
        else None
      Voucher(guid("vch", seq, rnd), alterId, seq, date, vtype,
        Prefix.get(vtype).map(p => s"$p-$seq").getOrElse(""), party,
        s"${vtype.toLowerCase} entry $seq", isInvoice,
        !isInventory && !isOrder, isInventory, isOrder, refDate, legs, inv)
    }

    /** The invoice half of an open note: same item, quantity and
      * tracking number, so the pair reconciles. */
    private def matched(out: Boolean): Option[Vector[InvLine]] = {
      val open = if (out) openOut else openIn
      if (open.nonEmpty && rnd.nextInt(3) == 0) Some(Vector(open.dequeue()))
      else None
    }
  }
}
