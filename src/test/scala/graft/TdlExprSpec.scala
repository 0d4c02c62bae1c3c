package graft

import graft.functions.TdlExpr
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §7.3 P15: the cross-collection lookup shape that
  * [[graft.operators.SurrogateFk]] resolves. */
class TdlExprSpec extends AnyFunSuite {

  test("lookupPattern parses the P15 surrogate-FK shape") {
    assert(TdlExpr.lookupPattern("$Guid:Ledger:$LedgerName")
      .contains(TdlExpr.Lookup("Guid", "Ledger", "LedgerName")))
    assert(TdlExpr.lookupPattern("$Parent").isEmpty)
  }
}
