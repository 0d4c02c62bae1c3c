package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Each output check must fail on a result with one dropped or one
  * altered row. */
class ChecksSpec extends AnyFunSuite {
  private lazy val spark = BenchSession.spark
  private lazy val env = BenchSession.env
  private lazy val company = Company.generate(2, 300)
  private lazy val tables = Expected.tables(spark, company, env.specs)

  private def rebuilt(df: DataFrame, f: Seq[Row] => Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(f(df.collect().toSeq): _*),
      df.schema)

  private def alter(rows: Seq[Row]): Seq[Row] = {
    val r = rows.head
    val i = r.schema.fieldIndex("amount")
    rows.updated(0, Row.fromSeq(r.toSeq.updated(i,
      r.getDecimal(i).add(new java.math.BigDecimal("0.01")))))
  }

  test("table digests (full_sync and incremental_sync checks) catch one " +
    "dropped or altered row") {
    val want = Checks.digests(tables)
    assert(Checks.mismatches(Checks.digests(tables), want).isEmpty)
    for (t <- Seq("trn_accounting", "trn_inventory")) {
      val dropped = tables.updated(t, rebuilt(tables(t), _.tail))
      val altered = tables.updated(t, rebuilt(tables(t), alter))
      assert(Checks.mismatches(Checks.digests(dropped), want) == Seq(t))
      assert(Checks.mismatches(Checks.digests(altered), want) == Seq(t))
    }
    // row order does not matter
    val shuffled = tables.updated("trn_voucher",
      rebuilt(tables("trn_voucher"), _.reverse))
    assert(Checks.mismatches(Checks.digests(shuffled), want).isEmpty)
  }

  test("report hashes (the report check) catch one dropped or altered row") {
    val t = Reports.tables(tables)
    val (_, register) = env.reports.find(_._1 == "q43_tally_sales_register").get
    val rows = register(t).collect()
    assert(rows.length > 10)
    val want = Checks.rowsHash(rows)
    assert(Checks.rowsHash(rows.reverse) == want)
    assert(Checks.rowsHash(rows.tail) != want)
    val altered = rows.updated(0, Row.fromSeq(rows(0).toSeq.updated(
      rows(0).schema.fieldIndex("amount"), rows(0).getAs[Double]("amount") + 0.01)))
    assert(Checks.rowsHash(altered) != want)
  }

  test("operator hashes (the operator check) hold on the corpus and catch " +
    "one dropped or altered row") {
    val dir = new java.io.File(BenchSession.work, "corpus")
    Operators.writeCorpus(spark, dir)
    val name = "q140_link_pagerank"
    val rows = Operators.run(spark, dir, name)
    val want = Operators.pinned(name)
    assert(Checks.rowsHash(rows) == want)
    assert(Checks.rowsHash(rows.tail) != want)
    val altered = rows.updated(0, Row.fromSeq(rows(0).toSeq.updated(
      rows(0).schema.fieldIndex("pr"), rows(0).getAs[Long]("pr") + 1)))
    assert(Checks.rowsHash(altered) != want)
  }
}
