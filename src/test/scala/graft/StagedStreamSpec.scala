package graft

import graft.streaming.{EventStream, StagedStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

class StagedStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf

  /** The events table staged as four arrival files. */
  lazy val stage: String = {
    val d = java.nio.file.Files.createTempDirectory("staged-stream-")
      .resolve("events").toString
    Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .repartition(4).write.parquet(d)
    d
  }

  private def queryDirs(prefix: String): Seq[String] =
    new java.io.File(StagedStream.checkpointBase).list().toSeq
      .filter(_.startsWith(prefix + "_"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  test("a failed stream propagates its error and reclaims its checkpoint") {
    val victim = spark.read.parquet(stage).agg(min(col("event_id")))
      .head().getLong(0)
    val err = intercept[StreamingQueryException] {
      StagedStream.toMemory(spark, "leakprobe", stage,
          maxFilesPerTrigger = 1, outputMode = "append")((_, in) =>
        in.select(when(col("event_id") === victim,
            raise_error(lit("boom on one row")))
          .otherwise(col("event_id")).as("event_id")))(identity)
    }
    assert(Iterator.iterate(err: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("boom on one row"))))
    assert(queryDirs("leakprobe").isEmpty)
  }

  test("a finished stream reclaims its checkpoint") {
    val out = StagedStream.toMemory(spark, "okprobe", stage,
        maxFilesPerTrigger = 1, outputMode = "append")((_, in) =>
      in.select(col("event_id")))(identity)
    assert(out.count() == Tables.events(spark, sf).count())
    assert(queryDirs("okprobe").isEmpty)
  }

  test("micro-batch split does not change a complete-mode aggregation") {
    def run(maxFiles: Int): Seq[String] = rows(
      StagedStream.toMemory(spark, s"split_agg_$maxFiles", stage,
          maxFilesPerTrigger = maxFiles, outputMode = "complete")(
        (_, in) => EventStream.hourlyCounts(in))(identity))
    val one = run(1)
    assert(one.nonEmpty)
    assert(one == run(4))
  }

  test("micro-batch split does not change a stateless append") {
    // per-row projection plus a stream-static join: no state, so the
    // emitted row set is independent of how arrivals are batched
    val perUser = Tables.events(spark, sf).groupBy(col("user_id"))
      .agg(count(lit(1)).as("user_events"))
    def run(maxFiles: Int): Seq[String] = rows(
      StagedStream.toMemory(spark, s"split_app_$maxFiles", stage,
          maxFilesPerTrigger = maxFiles, outputMode = "append")(
        (_, in) => in.filter(col("value") > 0)
          .join(broadcast(perUser), "user_id")
          .select(col("event_id"), upper(col("event_type")).as("type"),
            col("user_events")))(identity))
    val one = run(1)
    assert(one.nonEmpty)
    assert(one == run(4))
  }
}
