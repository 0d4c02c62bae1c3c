package graft

import graft.tally.Warehouse
import org.apache.spark.sql.DataFrame

/** The in-memory [[graft.tally.Warehouse]] of the merge scenario
  * tests. */
final class MemoryWarehouse extends Warehouse {
  private val tables = scala.collection.mutable.Map[String, DataFrame]()
  def read(table: String): DataFrame = tables(table)
  def exists(table: String): Boolean = tables.contains(table)
  def write(table: String, df: DataFrame): Unit =
    // localCheckpoint: materialize so later writes of upstream tables
    // can't change this snapshot through lazy lineage
    tables(table) = df.localCheckpoint(eager = true)
}
