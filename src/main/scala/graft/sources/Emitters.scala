package graft.sources

import org.apache.spark.sql.DataFrame

/** The text and columnar sinks of `--database-technology csv|json|orc`
  * (SURVEY §2.1 S5–S7): one partitioned Spark write per table, under
  * `<schema>/<table>/`. CSV quotes every field and writes null and
  * empty values as empty fields; JSON keeps typed values and omits
  * null fields. The reference's one-file-per-table layout (a UTF-8
  * BOM, a header and CRLF rows in one `.csv`/`.json` file,
  * src/tally.mts:365-394) is not reproduced: a single file would be
  * assembled on the driver. `mode` is `overwrite`, or `append` for
  * `--tally-truncate false`.
  */
object Emitters {

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
