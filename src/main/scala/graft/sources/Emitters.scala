package graft.sources

import graft.functions.TallyTypes
import graft.functions.TallyTypes._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output edges with the reference's exact text-format semantics
  * (SURVEY §2.1 S5–S7, S14; reference src/database.mts:60-119,
  * src/tally.mts:365-394):
  *  - CSV: double-quote escaping by doubling (ISO), ñ null-date →
  *    empty, text/date always quoted, everything quoted when
  *    `doubleQuote` is set
  *  - JSON: typed values, NaN/unparsable numerics → null, null dates
  *  - file sinks prepend a UTF-8 BOM
  *
  * All row formatting is Column expressions (distributed, codegen'd);
  * only the final single-file assembly with header+BOM is driver-side
  * (matching the reference's one-file-per-table contract).
  */
object Emitters {

  val Bom: String = "﻿"

  /** Row bound for the driver-side single-file sinks: the
    * compatibility contract (one file per table, like the reference)
    * collects to the driver, which cannot survive a 100 GB table. Fail
    * fast BEFORE collecting — the check reads at most `maxRows + 1`
    * rows — and point callers at the partitioned writers. */
  val MaxSingleFileRows: Long = 10000000L

  private[sources] def guardSingleFile(df: DataFrame, sink: String,
      maxRows: Long): Unit = {
    if (df.limit((maxRows + 1).min(Int.MaxValue).toInt).count() > maxRows)
      throw new IllegalArgumentException(
        s"$sink assembles ONE file on the driver and the input exceeds " +
          s"$maxRows rows; use Emitters.writeCsvDir/writeJsonDir/" +
          "writeParquet (distributed, partitioned) for large tables")
  }

  /** One CSV line per row with reference quoting rules. `types` aligns
    * with `df.columns`. */
  def csvLines(df: DataFrame, types: Seq[FieldType],
      doubleQuote: Boolean = false): DataFrame = {
    val cols = df.columns.zip(types).map { case (name, t) =>
      val emitted = TallyTypes.emitValue(col(name), t)
      // ñ (null date) → empty, quotes doubled
      val cleaned = regexp_replace(
        regexp_replace(emitted, TallyTypes.NullDateSentinel, ""),
        "\"", "\"\"")
      val quoted = t match {
        case _ if doubleQuote => concat(lit("\""), cleaned, lit("\""))
        case TText | TDate | TCustom =>
          concat(lit("\""), cleaned, lit("\""))
        case _ => cleaned
      }
      quoted
    }
    df.select(concat_ws(",", cols.toIndexedSeq: _*).as("line"))
  }

  /** Assemble the reference's single-file CSV: BOM + header + CRLF
    * rows (src/tally.mts:367-371). Driver-side final concat — the
    * line rendering itself ran distributed. For big outputs prefer
    * `df.write.csv` (parquet-age path); this is the
    * compatibility sink. */
  def csvFileContent(df: DataFrame, types: Seq[FieldType],
      doubleQuote: Boolean = false,
      maxRows: Long = MaxSingleFileRows): String = {
    guardSingleFile(df, "csvFileContent", maxRows)
    val header = df.columns.map(c => s"\"$c\"").mkString(",")
    val lines = csvLines(df, types, doubleQuote)
      .collect().map(_.getString(0))
    Bom + (header +: lines).mkString("\r\n")
  }

  /** Typed JSON objects per row (S7 semantics: numerics already typed,
    * nulls preserved; src/database.mts:81-119). Returns a DataFrame of
    * JSON strings rendered distributed. */
  def jsonLines(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*))
      .as("json"))

  /** Reference-shaped JSON array file content (BOM + pretty array,
    * src/tally.mts:384-391). */
  def jsonFileContent(df: DataFrame,
      maxRows: Long = MaxSingleFileRows): String = {
    guardSingleFile(df, "jsonFileContent", maxRows)
    val rows = jsonLines(df).collect().map(_.getString(0))
    Bom + rows.mkString("[", ",", "]")
  }

  /** The scalable sinks: partitioned writes for warehouse use —
    * parquet native; CSV/JSON via Spark writers with the same null
    * conventions. */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def writeCsvDir(df: DataFrame, path: String,
      mode: String = "overwrite"): Unit =
    df.write.mode(mode)
      .option("header", "true").option("quoteAll", "true")
      .option("emptyValue", "").option("nullValue", "")
      .csv(path)

  def writeJsonDir(df: DataFrame, path: String,
      mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  def writeOrcDir(df: DataFrame, path: String,
      mode: String = "overwrite"): Unit =
    df.write.mode(mode).orc(path)
}
