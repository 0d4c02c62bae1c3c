package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derived-table views over hierarchical collections (SURVEY §1.1):
  * the reference flattens table-inside-table collections (up to
  * `Voucher.AllInventoryEntries.BatchAllocations`) at extract time via
  * TDL PART/LINE EXPLODE. When the nested data is already resident as
  * an `ArrayType(StructType)` column — the Spark-native layout — a
  * Derived table is just an explode view that carries the parent's
  * columns through (the `..Field` back-reference, no join needed). */
object Derived {

  /** Explode `arrayCol` (array of structs) into child rows, carrying
    * `parentCols` alongside every child field — the Spark equivalent
    * of one PART/LINE EXPLODE level. */
  def explodeView(df: DataFrame, arrayCol: String,
      parentCols: Seq[String]): DataFrame = {
    val exploded = df.select(
      (parentCols.map(col) :+ explode(col(arrayCol)).as("__child")): _*)
    val childFields = exploded.schema("__child").dataType match {
      case s: org.apache.spark.sql.types.StructType => s.fieldNames.toSeq
      case other => throw new IllegalArgumentException(
        s"$arrayCol must be array<struct>, element is $other")
    }
    exploded.select(
      (parentCols.map(col) ++
        childFields.map(f => col(s"__child.$f").as(f))): _*)
  }
}
