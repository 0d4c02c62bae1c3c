package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One small local session and work directory for the benchmark's tests. */
object BenchSession {
  lazy val work: File = Files.createTempDirectory("perfbench-test").toFile
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("perfbench-tests")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  lazy val env: Env = new Env(spark, work)
}
