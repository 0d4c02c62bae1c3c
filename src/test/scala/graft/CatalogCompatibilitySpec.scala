package graft

import graft.sources.{SpecLoader, TallyXml}
import org.apache.spark.sql.types.{DateType, DecimalType}
import org.scalatest.funsuite.AnyFunSuite

/** Compatibility proof: the reference's OWN export configs load
  * verbatim through SpecLoader — a user switching from the reference
  * brings their YAML unchanged (README.md:278-300 documents the YAML
  * as the user-facing customization surface). Read-only from the
  * reference checkout; skipped when absent. */
class CatalogCompatibilitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def readRef(name: String): Option[String] = {
    val p = java.nio.file.Paths.get(s"/root/reference/$name")
    if (java.nio.file.Files.isReadable(p))
      Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    else None
  }

  test("full-sync config: all 23 tables load with typed schemas") {
    assume(readRef("tally-export-config.yaml").isDefined)
    val (masters, txns) =
      SpecLoader.load(readRef("tally-export-config.yaml").get)
    assert(masters.length == 15, s"masters: ${masters.map(_.name)}")
    assert(txns.length == 7, s"transactions: ${txns.map(_.name)}")
    val byName = (masters ++ txns).map(s => s.name -> s).toMap
    // schema spot checks against the reference DDL types
    val ledger = byName("mst_ledger")
    assert(ledger.schema("opening_balance").dataType == DecimalType(17, 2))
    assert(ledger.schema("tax_rate").dataType == DecimalType(15, 4) ||
      ledger.schema("tax_rate").dataType.isInstanceOf[DecimalType])
    val voucher = byName("trn_voucher")
    assert(voucher.schema("date").dataType == DateType)
    assert(voucher.filters.nonEmpty) // NOT $IsCancelled etc.
    val inventory = byName("trn_inventory")
    assert(inventory.schema("quantity").dataType == DecimalType(15, 4))
    assert(inventory.collectionPath.length >= 2) // nested descent
    // every table renders a non-empty schema and a well-formed TDL
    (masters ++ txns).foreach { spec =>
      assert(spec.fields.nonEmpty, spec.name)
      val tdl = TallyXml.generateTdl(spec)
      assert(tdl.contains(s"<TYPE>${spec.collectionPath.head}</TYPE>"),
        spec.name)
      assert(tdl.endsWith("</ENVELOPE>"), spec.name)
    }
  }

  test("incremental config: cascades and surrogate FKs parse") {
    assume(readRef("tally-export-config-incremental.yaml").isDefined)
    val (masters, txns) =
      SpecLoader.load(readRef("tally-export-config-incremental.yaml").get)
    assert(masters.nonEmpty && txns.nonEmpty)
    val withCascades = (masters ++ txns).filter(s =>
      s.cascadeUpdate.nonEmpty || s.cascadeDelete.nonEmpty)
    assert(withCascades.nonEmpty,
      "incremental config should declare cascade specs")
    // alterid columns present for watermarking
    val voucher = (txns.find(_.name == "trn_voucher")).get
    assert(voucher.fields.exists(_.name == "alterid"))
  }

  test("every expression field in BOTH reference configs translates") {
    // SURVEY §7.3: the $$-to-expr translator must cover the whole
    // shipped catalog — every non-simple field either translates to a
    // Spark Column or is the P15 lookup shape; nothing lands as
    // unvalidated text
    for (cfg <- Seq("tally-export-config.yaml",
        "tally-export-config-incremental.yaml")) {
      assume(readRef(cfg).isDefined)
      val (masters, txns) = SpecLoader.load(readRef(cfg).get)
      (masters ++ txns).foreach(graft.functions.TdlExpr.validateCustomFields)
    }
  }
}
