package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, attach the LATEST right row whose
  * timestamp is ≤ the left row's, per key — the temporal lookup every
  * event/feature pipeline needs (price as of trade time, last view
  * before a click, feature value as of label time).
  *
  * Spark has no ASOF JOIN operator; the naive range join
  * (`l.key = r.key AND r.ts <= l.ts` + max-per-left) explodes to
  * |matches| rows before aggregating. This composition instead
  * UNIONs the two sides tagged, sorts once per key, and carries the
  * most recent right payload forward with a running `last(ignoreNulls)`
  * window — ONE shuffle on the key, linear in |left|+|right|, no
  * range fan-out, AQE-compatible. At equal timestamps the right row
  * sorts first (tag order), so an exactly-simultaneous right row IS
  * visible to the left row — the same `>=` semantics as DuckDB's
  * `ASOF JOIN ... ON l.ts >= r.ts`.
  */
object AsOf {

  /** `left` ⟕asof `right` on `keyCol`, ordered by `tsCol` (use an
    * exact integer column when sub-microsecond order matters).
    * `rightCols` are the right-side payload columns to attach
    * (nullable when no right row precedes). Both inputs must contain
    * `keyCol` and `tsCol`; `left` keeps all its columns.
    * `tieBreakCols` (names from `rightCols`) order right rows that
    * share an exact (key, ts) — without one, which equal-ts right row
    * wins is partition-order dependent; pass a unique id column for a
    * deterministic result on feeds that can duplicate timestamps. */
  def asOfJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, rightCols: Seq[String],
      tieBreakCols: Seq[String] = Nil): DataFrame = {
    val leftCols = left.columns.toSeq
    // guard the output contract and the internal tagged-union names:
    // a payload column shadowing a left column would emit duplicate
    // output names, and __-prefixed inputs would collide with the
    // composition's own working columns
    // keyCol/tsCol are emitted once from the left side; a payload
    // column with the same name would duplicate them in the output
    val keyTs = rightCols.filter(c => c == keyCol || c == tsCol)
    require(keyTs.isEmpty,
      s"asOfJoin: rightCols must not contain keyCol/tsCol " +
        s"(${keyTs.mkString(", ")}) — they are already emitted from the " +
        "left side; alias the right column before joining")
    val clash = rightCols.toSet.intersect(leftCols.toSet -- Seq(keyCol, tsCol))
    require(clash.isEmpty,
      s"asOfJoin: rightCols ${clash.mkString(", ")} duplicate left " +
        "column names — rename one side before joining")
    val reserved = (leftCols ++ rightCols)
      .filter(c => c == "__payload" || c == "__tag" || c == "__asof" ||
        c.startsWith("__keep_"))
    require(reserved.isEmpty,
      s"asOfJoin: reserved internal column names in input: ${reserved.mkString(", ")}")
    val payloadSchema = right.select(rightCols.map(col).toIndexedSeq: _*).schema
    // a genuinely NULL struct — a struct of null FIELDS would not be
    // skipped by last(ignoreNulls) and would mask every carried value
    val nullPayload = lit(null).cast(
      org.apache.spark.sql.types.StructType(payloadSchema.fields))
    val l = left
      .withColumn("__payload", nullPayload)
      .withColumn("__tag", lit(1))
      .select((Seq(col(keyCol), col(tsCol), col("__payload"), col("__tag")) ++
        leftCols.filterNot(c => c == keyCol || c == tsCol)
          .map(c => col(c).as(s"__keep_$c"))).toIndexedSeq: _*)
    val r = right.select(col(keyCol), col(tsCol),
        struct(rightCols.map(col).toIndexedSeq: _*).as("__payload"),
        lit(0).as("__tag"))
      .select((Seq(col(keyCol), col(tsCol), col("__payload"), col("__tag")) ++
        leftCols.filterNot(c => c == keyCol || c == tsCol)
          .map(c => lit(null).as(s"__keep_$c"))).toIndexedSeq: _*)
    // running last right-payload per key: right rows tag 0 sort before
    // left rows at the same instant (>= semantics); tie-break columns
    // order equal-ts right rows (left rows' null payload fields sort
    // first, before any real right row — harmless: tag already
    // separates them)
    val order = Seq(col(tsCol), col("__tag")) ++
      tieBreakCols.map(c => col("__payload").getField(c))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .withColumn("__asof", last(col("__payload"), ignoreNulls = true).over(w))
    carried.filter(col("__tag") === 1)
      .select((Seq(col(keyCol), col(tsCol)) ++
        leftCols.filterNot(c => c == keyCol || c == tsCol)
          .map(c => col(s"__keep_$c").as(c)) ++
        rightCols.map(c => col("__asof").getField(c).as(c))).toIndexedSeq: _*)
  }
}
