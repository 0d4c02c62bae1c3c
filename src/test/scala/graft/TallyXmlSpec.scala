package graft

import graft.functions.TallyTypes._
import graft.sources.{FieldSpec, SpecLoader, TableSpec, TallyXml}
import org.scalatest.funsuite.AnyFunSuite

class TallyXmlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val ledgerSpec = TableSpec(
    name = "mst_ledger",
    collection = "Ledger",
    nature = "Primary",
    fields = Seq(
      FieldSpec("guid", "Guid", TText),
      FieldSpec("name", "Name", TText),
      FieldSpec("is_revenue", "IsRevenue", TLogical),
      FieldSpec("opening_balance", "OpeningBalance", TAmount),
      FieldSpec("created_date", "CreatedDate", TDate)),
    filters = Seq("NOT $IsCancelled"),
    fetch = Seq("Name", "OpeningBalance"))

  test("TDL generation: PART/LINE per level, FIELD per column, FILTER") {
    val tdl = TallyXml.generateTdl(ledgerSpec)
    assert(tdl.contains("<PART NAME=\"MyPart01\">"))
    assert(tdl.contains("<FIELDS>Fld01,Fld02,Fld03,Fld04,Fld05</FIELDS>"))
    assert(tdl.contains("<TYPE>Ledger</TYPE>"))
    assert(tdl.contains("<FETCH>Name,OpeningBalance</FETCH>"))
    assert(tdl.contains("<FILTER>Fltr01</FILTER>"))
    assert(tdl.contains("NOT $IsCancelled</SYSTEM>"))
    // type templates
    assert(tdl.contains("<SET>$Guid</SET>"))
    assert(tdl.contains("if $IsRevenue then 1 else 0"))
    assert(tdl.contains("$$IsDebit:$OpeningBalance"))
    assert(tdl.contains("$$StrByCharCode:241"))
  }

  test("nested collection path explodes one PART per level") {
    val nested = ledgerSpec.copy(
      collection = "Voucher.AllInventoryEntries.BatchAllocations")
    val tdl = TallyXml.generateTdl(nested)
    assert(tdl.contains("MyPart03"))
    assert(tdl.contains("<EXPLODE>MyPart02</EXPLODE>"))
    assert(tdl.contains("<TYPE>Voucher</TYPE>"))
    assert(tdl.contains("MyLine02 : AllInventoryEntries"))
  }

  test("parameter substitution binds dates and escapes company") {
    val out = TallyXml.substituteParams(
      "<SVFROMDATE>{fromDate}</SVFROMDATE><X>{targetCompany}</X>",
      "20230401", "20240331", Some("A & B <Ltd>"))
    assert(out.contains("20230401"))
    assert(out.contains("A &amp; B &lt;Ltd&gt;"))
  }

  test("XML→TSV rewrites: rows, tabs, entities, blank tags") {
    val xml = "<ENVELOPE>\r\n" +
      "<F01>g-001</F01><F02>Cash &amp; Bank</F02><F03>1</F03>" +
      "<F04>-500.00</F04><F05>2024-01-15</F05>\r\n" +
      "<F01>g-002</F01><F02>Sales &lt;North&gt;</F02><F03>0</F03>" +
      "<F04>(-)250.50</F04><F05>ñ</F05>\r\n" +
      "<FLDBLANK></FLDBLANK></ENVELOPE>"
    val tsv = TallyXml.xmlToTsv(xml)
    val lines = tsv.split("\r\n").filter(_.nonEmpty)
    assert(lines.length == 2)
    assert(lines(0) == "g-001\tCash & Bank\t1\t-500.00\t2024-01-15")
    assert(lines(1) == "g-002\tSales <North>\t0\t(-)250.50\tñ")
  }

  test("typed parse end-to-end: canned transport → typed DataFrame") {
    val canned = "<ENVELOPE>\r\n" +
      "<F01>g-001</F01><F02>Cash</F02><F03>1</F03>" +
      "<F04>-500.00</F04><F05>2024-01-15</F05>\r\n" +
      "<F01>g-002</F01><F02>Sales</F02><F03>0</F03>" +
      "<F04>(-)250.50</F04><F05>ñ</F05>\r\n</ENVELOPE>"
    val df = TallyXml.extract(spark, ledgerSpec, _ => canned)
    assert(df.schema.map(f => (f.name, f.dataType)) ==
      ledgerSpec.schema.map(f => (f.name, f.dataType)))
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[java.math.BigDecimal]("opening_balance")
      .doubleValue() == -500.0)
    assert(rows(1).getAs[java.math.BigDecimal]("opening_balance")
      .doubleValue() == -250.5) // (-) fixup applied
    assert(rows(1).getAs[java.sql.Date]("created_date") == null)
    assert(rows(0).getAs[Boolean]("is_revenue"))
  }

  test("short rows (trailing blanks omitted) parse as empty, not crash") {
    val canned = "<ENVELOPE>\r\n" +
      "<F01>g-001</F01><F02>Cash</F02>\r\n" + // only 2 of 5 fields
      "</ENVELOPE>"
    val rows = TallyXml.extract(spark, ledgerSpec, _ => canned).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("name") == "Cash")
    assert(rows(0).isNullAt(rows(0).fieldIndex("is_revenue")))
    assert(rows(0).isNullAt(rows(0).fieldIndex("created_date")))
  }

  test("malformed numeric/date values parse to null (ANSI-safe)") {
    val canned = "<ENVELOPE>\r\n" +
      "<F01>g-001</F01><F02>Cash</F02><F03>garbage</F03>" +
      "<F04>not-a-number</F04><F05>2024/03/31</F05>\r\n</ENVELOPE>"
    val r = TallyXml.extract(spark, ledgerSpec, _ => canned).head()
    assert(r.isNullAt(r.fieldIndex("is_revenue")))
    assert(r.isNullAt(r.fieldIndex("opening_balance")))
    assert(r.isNullAt(r.fieldIndex("created_date")))
  }

  test("SpecLoader parses reference-format YAML") {
    val yamlText =
      """master:
        |  - name: mst_group
        |    collection: Group
        |    nature: Primary
        |    fields:
        |      - name: guid
        |        field: Guid
        |        type: text
        |      - name: opening
        |        field: OpeningBalance
        |        type: amount
        |    fetch:
        |      - OpeningBalance
        |    filters:
        |      - NOT $IsCancelled
        |    cascade_update:
        |      - table: mst_ledger
        |        parent: name
        |transaction:
        |  - name: trn_voucher
        |    collection: Voucher
        |    fields:
        |      - name: date
        |        field: Date
        |        type: date
        |""".stripMargin
    val (masters, txns) = SpecLoader.load(yamlText)
    assert(masters.length == 1 && txns.length == 1)
    val g = masters.head
    assert(g.name == "mst_group" && g.nature == "Primary")
    assert(g.fields.map(_.ftype) == Seq(TText, TAmount))
    assert(g.filters == Seq("NOT $IsCancelled"))
    assert(g.cascadeUpdate.head.table == "mst_ledger")
    assert(g.cascadeUpdate.head.fields == Map("parent" -> "name"))
    assert(txns.head.schema.fields.head.dataType ==
      org.apache.spark.sql.types.DateType)
  }

  test("AlterId probe: TDL shape, response parse, closed-company case") {
    val tdl = TallyXml.alterIdProbeTdl(Some("A & B"))
    assert(tdl.contains("$AltMstId") && tdl.contains("$AltVchId"))
    assert(tdl.contains("\"A &amp; B\""))
    assert(TallyXml.parseAlterIds("\"1234\",\"567\"\r\n")
      .contains((1234L, 567L)))
    assert(TallyXml.parseAlterIds("").isEmpty)
    assert(TallyXml.parseAlterIds("\"x\",\"y\"").contains((0L, 0L)))
  }

  test("company-info probe parse + config rows") {
    val resp = "\"guid-1\",\"Acme Ltd\",\"20200401\",\"20210331\",\"†\",\r\n"
    val info = TallyXml.parseCompanyInfo(resp)
    assert(info.contains(TallyXml.CompanyInfo(
      "guid-1", "Acme Ltd", "20200401", "20210331")))
    val rows = TallyXml.configRows(info.get, "2026-08-12 00:00:00")
    assert(rows.toMap.apply("Company Name") == "Acme Ltd")
    assert(rows.toMap.apply("Period From") == "20200401")
    assert(TallyXml.parseCompanyInfo("").isEmpty)
  }
}
