package graft

import graft.functions.TallyTypes._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TallyTypesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): org.apache.spark.sql.Row =
    Seq(1).toDF("x").select(c).head()

  test("amount sign convention: debit negative, credit positive") {
    for (v <- Seq(0L, 1L, 123L, 999999L, 500L)) {
      val deb = one(amountSigned(lit(v), lit(true))).getDecimal(0)
      val cred = one(amountSigned(lit(v), lit(false))).getDecimal(0)
      assert(deb.signum() <= 0 && cred.signum() >= 0)
      assert(deb.abs() == cred.abs())
    }
  }

  test("quantity sign convention: inward positive, outward negative") {
    val in = one(quantitySigned(lit(5.5), lit(true))).getDecimal(0)
    val out = one(quantitySigned(lit(5.5), lit(false))).getDecimal(0)
    assert(in.doubleValue() == 5.5 && out.doubleValue() == -5.5)
  }

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

  test("date emit round-trips the sentinel") {
    val df = Seq("2024-03-31", NullDateSentinel).toDF("raw")
      .select(parseValue($"raw", TDate).as("d"))
      .select(emitValue($"d", TDate).as("s"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("2024-03-31", NullDateSentinel))
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

  test("tallyRound reproduces the reference's >0.5 quirk") {
    // fraction must EXCEED .5: 2.5 → 2 (not 3); 2.51 → 3; -2.7 → -2
    val r = Seq(2.5, 2.51, 2.4999, -2.7, -2.5).toDF("v")
      .select(tallyRound($"v", 0).as("r")).collect().map(_.getDouble(0))
    assert(r.toSeq == Seq(2.0, 3.0, 2.0, -2.0, -2.0))
  }

  test("tallyRound: property parity with the reference algorithm") {
    // the reference round (src/utility.mts:158-166) in Scala, same
    // IEEE-double semantics as Node: value scaled by 10^p, truncated
    // TOWARD ZERO, +1 away from zero only when the fraction EXCEEDS
    // 0.5 (so x.5 truncates, and negatives never round away — the two
    // quirks that differ from both HALF_UP and banker's). Report
    // parity depends on reproducing this bit-for-bit, so the sweep
    // compares the Column implementation against this oracle over the
    // (17,2)/(15,4) boundary magnitudes and a dense half-way grid.
    def refRound(value: Double, precision: Int): Double =
      if (value == 0.0) 0.0
      else {
        val p = math.pow(10, precision)
        val scaled = value * p
        val tz = if (scaled < 0) math.ceil(scaled) else math.floor(scaled)
        (if (scaled - tz > 0.5) tz + 1 else tz) / p
      }
    val rnd = new scala.util.Random(20260813)
    // exhaustive x.xx5-style grid: every half-way and near-half-way
    // point at 3 decimals in [-2, 2] hits the >0.5-vs-==0.5 boundary
    // for precisions 0 and 2
    val grid = (-2000 to 2000).map(_ / 1000.0)
    // magnitude sweep up to the DDL boundaries: decimal(17,2) holds
    // |x| < 10^15, decimal(15,4) holds |x| < 10^11
    val magnitudes = Seq(1.0, 1e2, 1e6, 1e11, 1e15)
    val randoms = Seq.fill(2000) {
      (rnd.nextDouble() - 0.5) * 2 *
        magnitudes(rnd.nextInt(magnitudes.length))
    }
    // explicit half-cent cases at amount scale: n + 0.005 for (17,2)
    val halfCents = (-500 to 500).map(k => k + (if (k < 0) -0.005 else 0.005))
    val values = (grid ++ randoms ++ halfCents).distinct
    for (precision <- Seq(0, 2, 4)) {
      val got = values.toDF("v")
        .select(tallyRound($"v", precision).as("r"))
        .collect().map(_.getDouble(0))
      values.zip(got).foreach { case (v, g) =>
        val want = refRound(v, precision)
        assert(g == want,
          s"tallyRound($v, $precision) = $g, reference says $want")
      }
    }
  }

  test("decimal precisions match the reference DDL") {
    assert(TAmount.sparkType.toString.contains("17,2"))
    assert(TQuantity.sparkType.toString.contains("15,4"))
    assert(TRate.sparkType.toString.contains("15,4"))
  }

  test("fullList flattens child collections; indexedChild picks First/Last") {
    import spark.implicits._
    val df = Seq(Seq("12 Main St", "Floor 2", "Metro City")).toDF("addr")
    assert(df.select(fullList($"addr").as("s")).head().getString(0) ==
      "12 Main St Floor 2 Metro City")
    assert(df.select(indexedChild($"addr", 1)).head().getString(0) ==
      "12 Main St")   // [First]
    assert(df.select(indexedChild($"addr", -1)).head().getString(0) ==
      "Metro City")   // [Last]
  }

  test("yyyymmdd composes the P11 integer date") {
    val r = Seq("2024-03-31").toDF("s")
      .select(yyyymmdd(to_date($"s")).as("i")).head().getInt(0)
    assert(r == 20240331)
  }
}
