package graft

import graft.sources.Emitters
import graft.tally.ParquetWarehouse
import org.scalatest.funsuite.AnyFunSuite

class EmittersSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def df = Seq(
    ("g1", """say "hi"""", 10, java.sql.Date.valueOf("2024-01-15")),
    ("g2", "plain", 0, null.asInstanceOf[java.sql.Date]))
    .toDF("guid", "narration", "qty", "d")

  test("columnar dir sinks round-trip typed rows (parquet + orc)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-emit").toString
    new ParquetWarehouse(spark, dir).write("p", df)
    Emitters.writeOrcDir(df, s"$dir/o")
    assert(spark.read.parquet(s"$dir/p").count() == 2)
    val orc = spark.read.orc(s"$dir/o")
    assert(orc.count() == 2)
    assert(orc.schema("d").dataType ==
      org.apache.spark.sql.types.DateType)
  }
}
