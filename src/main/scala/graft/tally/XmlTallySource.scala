package graft.tally

import graft.functions.TallyTypes.{TNumber, TText}
import graft.sources.{FieldSpec, TableSpec, TallyXml}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Production [[TallySource]]: every probe and extract the incremental
  * merge needs, compiled to TDL and run over a transport (live
  * [[graft.sources.TallyHttp]], canned function in tests).
  *
  * Mirrors the reference's incremental request set
  * (src/tally.mts:88-307):
  *   - watermark probe: `$AltMstId,$AltVchId` company report
  *     (src/tally.mts:406-446)
  *   - diff snapshot: a synthetic two-field (guid, alterid) spec per
  *     primary table, same collection + filters, FETCH AlterId
  *     (src/tally.mts:144-170)
  *   - incremental rows: the table's own spec with an injected
  *     `$AlterID > n` filter (src/tally.mts:194-197, 212-215)
  *   - voucher renumber re-pull: (guid, voucher_number) over Voucher
  *     filtered to auto-numbered types (src/tally.mts:262-291)
  *
  * Each call is one driver-side HTTP exchange (the Tally protocol is
  * a single response stream per report — the reference's own
  * bottleneck); everything downstream of the transport is a
  * distributed DataFrame program.
  */
final class XmlTallySource(spark: SparkSession,
    transport: String => String,
    fromDate: String = "20230401", toDate: String = "20240331",
    company: Option[String] = None,
    voucherSpec: Option[TableSpec] = None) extends TallySource {

  // one probe per sync, like the reference's single updateLastAlterId
  // call at the top of the incremental run (src/tally.mts:113). An
  // empty probe means no company is open: every extract would come
  // back empty too, and merging that would delete every stored row,
  // so the tick fails here, before the merge stages anything
  private lazy val alterIds: (Long, Long) =
    TallyXml.parseAlterIds(transport(TallyXml.alterIdProbeTdl(company)))
      .getOrElse(throw new IllegalStateException(
        s"Tally has no open company ${company.fold("")(c => s"'$c' ")}" +
          "(the AlterId probe came back empty); open it in Tally " +
          "and sync again"))

  def lastAlterIdMaster: Long = alterIds._1
  def lastAlterIdTransaction: Long = alterIds._2

  private def extract(spec: TableSpec): DataFrame =
    TallyXml.extract(spark, spec, transport, fromDate, toDate, company)

  def diffSnapshot(spec: TableSpec): DataFrame =
    extract(spec.copy(
      name = "_diff",
      fields = Seq(
        FieldSpec("guid", "Guid", TText),
        // `number`, not the reference's text: the merge compares
        // alterid against the warehouse column, which is decimal
        FieldSpec("alterid", "AlterId", TNumber)),
      fetch = Seq("AlterId"),
      cascadeUpdate = Nil, cascadeDelete = Nil))

  def incrementalRows(spec: TableSpec, since: Long): DataFrame =
    extract(spec.copy(filters = spec.filters :+ s"$$AlterID > $since"))

  def voucherNumbers(): DataFrame = {
    val base = voucherSpec.getOrElse(TableSpec(
      "trn_voucher", "Voucher", "Primary", fields = Nil))
    extract(base.copy(
      name = "_vchnumber",
      fields = Seq(
        FieldSpec("guid", "Guid", TText),
        FieldSpec("voucher_number", "VoucherNumber", TText)),
      fetch = Nil,
      filters = base.filters :+
        "$$IsEqual:($NumberingMethod:VoucherType:$VoucherTypeName):\"Automatic\"",
      cascadeUpdate = Nil, cascadeDelete = Nil))
  }
}
