package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CompanySpec extends AnyFunSuite {

  test("the generator is deterministic per seed") {
    assert(Company.generate(7, 500) == Company.generate(7, 500))
    assert(Company.generate(7, 500) != Company.generate(8, 500))
    val c = Company.generate(7, 500)
    assert(Company.changeBatch(c, 7) == Company.changeBatch(c, 7))
    assert(Company.changeBatch(c, 7) != Company.changeBatch(c, 8))
  }

  test("the company has the shape the reports need") {
    val c = Company.generate(3, 2000)
    assert(c.vouchers.size == 2000)
    assert(c.vouchers.map(_.vtype).distinct.size == 8)
    assert(c.groups.size == 14 + Company.ForestGroups)
    assert(c.ledgers.count(_.parent.startsWith("Sundry")) == Company.Parties)
    assert(c.vouchers.exists(_.isOrder) && c.vouchers.exists(_.isInventory))
    assert(c.vouchers.exists(_.legs.exists(_.currency != "₹"))) // forex share
    assert(c.vouchers.map(_.legs.size).sum > 3600)
    // strict note + invoice pairs share a tracking number
    val tracked = c.vouchers.flatMap(v => v.inv.filter(_.tracking.nonEmpty)
      .map(_.tracking -> v.isInventory))
    assert(tracked.groupBy(_._1).values.exists(_.map(_._2).toSet == Set(true, false)))
  }

  test("a change batch deletes, edits and inserts about 50 vouchers, " +
    "renames a ledger and shifts auto numbers") {
    val a = Company.generate(5, 3000)
    val b = Company.changeBatch(a, 5)
    val before = a.vouchers.map(v => v.guid -> v).toMap
    val after = b.vouchers.map(v => v.guid -> v).toMap
    val deleted = before.keySet -- after.keySet
    val inserted = after.keySet -- before.keySet
    val edited = (before.keySet & after.keySet).filter(g => before(g) != after(g))
    assert(deleted.size == 16 && edited.size == 16 && inserted.size == 18)
    assert(b.voucherAlterId > a.voucherAlterId && b.masterAlterId > a.masterAlterId)
    assert(a.ledgers.map(_.name).toSet != b.ledgers.map(_.name).toSet)
    // the early Sales insert renumbers untouched Sales vouchers
    val untouched = before.keySet -- deleted -- edited
    assert(untouched.exists(g => a.voucherNumber.get(g) != b.voucherNumber.get(g)))
  }
}
