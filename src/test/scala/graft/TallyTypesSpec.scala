package graft

import graft.functions.TallyTypes._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TallyTypesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): org.apache.spark.sql.Row =
    Seq(1).toDF("x").select(c).head()

  test("(-) textual fixup") {
    val r = one(fixNegative(lit("(-)123.45"))).getString(0)
    assert(r == "-123.45")
  }

  test("date parse: sentinel and empty → null, else yyyy-MM-dd") {
    val df = Seq("2024-03-31", NullDateSentinel, "").toDF("raw")
      .select(parseValue($"raw", TDate).as("d"))
    val vals = df.collect().map(r => Option(r.getDate(0)))
    assert(vals(0).contains(java.sql.Date.valueOf("2024-03-31")))
    assert(vals(1).isEmpty && vals(2).isEmpty)
  }

  test("number/rate: empty → 0; rate strips unit suffix") {
    assert(one(parseValue(lit(""), TNumber)).getDecimal(0).doubleValue() == 0.0)
    assert(one(parseValue(lit("42"), TNumber)).getDecimal(0)
      .doubleValue() == 42.0)
    // number is decimal-capable (tax_rate-style values)
    assert(one(parseValue(lit("18.5"), TNumber)).getDecimal(0)
      .doubleValue() == 18.5)
    assert(one(parseValue(lit(""), TRate)).getDecimal(0).doubleValue() == 0.0)
    assert(one(parseValue(lit("12.50/Nos"), TRate)).getDecimal(0)
      .doubleValue() == 12.5)
  }

  test("logical parses 1/0") {
    assert(one(parseValue(lit("1"), TLogical)).getBoolean(0))
    assert(!one(parseValue(lit("0"), TLogical)).getBoolean(0))
  }

  test("decimal precisions match the reference DDL") {
    assert(TAmount.sparkType.toString.contains("17,2"))
    assert(TQuantity.sparkType.toString.contains("15,4"))
    assert(TRate.sparkType.toString.contains("15,4"))
  }
}
