package perfbench

import graft.sources.{TallyHttp, TallyXml}
import graft.tally.XmlTallySource
import org.scalatest.funsuite.AnyFunSuite

class FakeTallySpec extends AnyFunSuite {
  private lazy val env = BenchSession.env
  private lazy val spark = BenchSession.spark
  private val company = Company.generate(11, 400)

  private def vouchers = env.transactions.find(_.name == "trn_voucher").get

  test("the fake honours $AlterID > n") {
    val fake = new FakeTally(company)
    try {
      val floor = company.vouchers.map(_.alterId).sorted.apply(300)
      val tdl = TallyXml.generateTdl(vouchers.copy(
        filters = Seq(s"$$AlterID > $floor")))
      val rows = TraceCounts.rows(fake.respondText(tdl))
      assert(rows == company.vouchers.count(_.alterId > floor))
      assert(rows == 99)
    } finally fake.close()
  }

  test("the fake honours the auto-numbering filter") {
    val fake = new FakeTally(company)
    try {
      val numbers = new XmlTallySource(spark, fake.respondText,
        voucherSpec = Some(vouchers)).voucherNumbers().collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val sales = company.vouchers.filter(_.vtype == "Sales")
      assert(numbers.keySet == sales.map(_.guid).toSet)
      assert(numbers == company.voucherNumber)
    } finally fake.close()
  }

  test("the fake answers over HTTP with the bytes it renders, " +
    "and every table loads back to the generator's rows") {
    val fake = new FakeTally(company)
    try {
      val http = new TallyHttp(fake.host, fake.port)
      assert(http.ping())
      env.specs.foreach { spec =>
        val tdl = TallyXml.generateTdl(spec)
        val resp = http.post(tdl)
        assert(resp == fake.respondText(tdl))
        val loaded = TallyXml.tsvToDataFrame(spark, TallyXml.xmlToTsv(resp), spec)
        assert(Checks.digest(loaded) ==
          Checks.digest(Expected.table(spark, company, spec)), spec.name)
      }
      // the quirks the loader must undo are really in the responses
      val all = env.specs.map(s => fake.respondText(TallyXml.generateTdl(s))).mkString
      Seq("\r\n", " \t ", "&amp;", "&apos;", "&quot;", "&lt;", "&#13;&#10;",
        "<FLDBLANK></FLDBLANK>", "ñ", "(-)", "/Nos").foreach(q =>
        assert(all.contains(q), q))
      assert(fake.errors.isEmpty)
    } finally fake.close()
  }
}
