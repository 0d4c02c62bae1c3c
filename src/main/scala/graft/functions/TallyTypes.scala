package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's seven-field type system and its exact value
  * semantics (SURVEY §1.2; reference src/tally.mts:660-676,
  * src/database.mts:81-119), re-expressed as Spark types + Column
  * normalizers. All normalizers are codegen'd built-in combinators —
  * they run per-row over every extracted value, so no UDFs.
  *
  * Conventions preserved exactly:
  *  - amount: Debit = negative, Credit = positive
  *    (docs/data-structure.md:68-73); textual "(-)" fixed to "-"
  *    (src/tally.mts:669-670)
  *  - quantity: Inward = positive, Outward = negative, tail units
  *    (src/tally.mts:671-672; docs/data-structure.md:76-80)
  *  - date: in-band null sentinel ñ = char 241 (src/tally.mts:666);
  *    proper SQL NULL internally, sentinel only at text edges
  *  - number/rate: empty string → 0 (src/tally.mts:667-668, 673-674)
  *  - logical: "1"/"0" (src/tally.mts:663-664)
  */
object TallyTypes {

  /** In-band null-date sentinel: char code 241 (src/tally.mts:666). */
  val NullDateSentinel: String = "ñ" // ñ

  sealed trait FieldType { def yamlName: String; def sparkType: DataType }
  case object TText extends FieldType {
    val yamlName = "text"; val sparkType: DataType = StringType }
  case object TLogical extends FieldType {
    val yamlName = "logical"; val sparkType: DataType = BooleanType }
  case object TDate extends FieldType {
    val yamlName = "date"; val sparkType: DataType = DateType }
  /** `number` is decimal-capable in the reference (parseFloat on the
    * JSON path, src/database.mts:104; DDL uses int AND decimal(9,4)
    * columns for it, e.g. tax_rate) — an integer mapping would lose
    * fractional values like an 18.5% tax rate. */
  case object TNumber extends FieldType {
    val yamlName = "number"; val sparkType: DataType = DecimalType(15, 4) }
  case object TAmount extends FieldType {
    val yamlName = "amount"; val sparkType: DataType = DecimalType(17, 2) }
  case object TQuantity extends FieldType {
    val yamlName = "quantity"; val sparkType: DataType = DecimalType(15, 4) }
  case object TRate extends FieldType {
    val yamlName = "rate"; val sparkType: DataType = DecimalType(15, 4) }
  /** Raw TDL expression passthrough (src/tally.mts:675-679) — lands as
    * text; downstream may `expr(...)` it. */
  case object TCustom extends FieldType {
    val yamlName = "custom"; val sparkType: DataType = StringType }

  val all: Seq[FieldType] =
    Seq(TText, TLogical, TDate, TNumber, TAmount, TQuantity, TRate)

  def fromYaml(s: String): FieldType =
    all.find(_.yamlName == s).getOrElse(TCustom)

  /** "(-)" → "-" textual negative fixup ($$StringFindAndReplace,
    * src/tally.mts:669-670). */
  def fixNegative(c: Column): Column =
    regexp_replace(c, "\\(-\\)", "-")

  /** Parse one raw extracted string value into its typed column —
    * the exact inverse of the TDL SET templates + the JSON converter
    * (src/database.mts:92-114: NaN/unparsable → null, ñ → null).
    * All casts are try_* variants: Spark 4 runs with ANSI mode on by
    * default, where a plain cast/to_date THROWS on malformed input —
    * the reference maps malformed values to null instead. */
  def parseValue(raw: Column, t: FieldType): Column = t match {
    case TText | TCustom => raw
    case TLogical => when(trim(raw) === "1", lit(true))
      .when(trim(raw) === "0", lit(false))
      .otherwise(lit(null).cast(BooleanType))
    case TDate => when(raw === NullDateSentinel || raw === "",
        lit(null).cast(DateType))
      .otherwise(try_to_date(raw, "yyyy-MM-dd"))
    case TNumber =>
      when(trim(raw) === "", lit(0).cast(DecimalType(15, 4)))
        .otherwise(raw.try_cast(DecimalType(15, 4)))
    case TAmount => fixNegative(raw).try_cast(DecimalType(17, 2))
    case TQuantity => fixNegative(raw).try_cast(DecimalType(15, 4))
    case TRate =>
      when(trim(raw) === "", lit(0).cast(DecimalType(15, 4)))
        // rate may carry a "/unit" suffix — $$Number keeps the numeric part
        .otherwise(regexp_extract(raw, "^-?[0-9]+(\\.[0-9]+)?", 0)
          .try_cast(DecimalType(15, 4)))
  }

  /** XML entity escape for the request edge (P18,
    * src/utility.mts:48-55). */
  def escapeXml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&apos;")
}
