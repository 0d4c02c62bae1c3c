package graft

import graft.streaming.{EventStream, StagedStream}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EventStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf

  /** The events table staged as ONE arrival file: a single data
    * micro-batch, so no row arrives behind an earlier batch's
    * watermark. */
  lazy val stagedEvents: String = {
    val d = java.nio.file.Files.createTempDirectory("events-stage-")
      .resolve("events").toString
    Tables.events(spark, sf).coalesce(1).write.parquet(d)
    d
  }

  test("streaming hourly counts match the batch aggregation") {
    // append mode emits only watermark-closed windows (the no-data
    // batch after the data batch closes them); compare those against
    // the batch result restricted to the same windows
    val streamed = StagedStream.toMemory(spark, "hourly", stagedEvents,
        maxFilesPerTrigger = 1, outputMode = "append",
        noDataBatches = true)((_, in) =>
      EventStream.hourlyCounts(in))(identity)
    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val joined = streamed.as("s").join(batch.as("b"),
      col("s.hr") === col("b.hr") &&
        col("s.event_type") === col("b.event_type"))
    assert(joined.count() > 0)
    assert(joined.filter(col("s.n") =!= col("b.n")).count() == 0)
  }

  test("streaming dedup drops in-horizon duplicate keys") {
    // duplicate every event id by unioning the stream with itself:
    // post-dedup, each id must appear exactly once
    val out = StagedStream.toMemory(spark, "dedup_stream", stagedEvents,
        maxFilesPerTrigger = 1, outputMode = "append")((_, in) =>
      EventStream.dedupWithinWatermark(in.unionByName(in),
        Seq("event_id")))(identity)
    val total = Tables.events(spark, sf).count()
    assert(out.count() == total)
    assert(out.groupBy(col("event_id")).count()
      .filter(col("count") > 1).count() == 0)
  }

  test("streaming sessionization equals the batch twin (q60 semantics)") {
    // Feed the SAME events through EventStream.sessionize and
    // Reports.q60SessionsBatch and assert session-set equality — q60's
    // DuckDB oracle defines the gap semantics, so this gate transfers
    // that oracle to the streaming path. A MemoryStream gives explicit
    // batch control: batch 1 carries the whole corpus; batch 2 is a
    // far-future sentinel event that advances the WATERMARK past every
    // open session's last-event+gap, so event-time timeouts flush them
    // all — deterministic, no wall-clock sleeps.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventStream.Event]
    val sessions = EventStream.sessionize(spark, src.toDF(), gapMinutes = 30)
    val q = sessions.toDF().writeStream.format("memory")
      .queryName("sessions_eq").outputMode("append").start()
    try {
      val events = Tables.events(spark, sf)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[EventStream.Event].collect()
      src.addData(events.toSeq)
      q.processAllAvailable()
      val maxTs = events.map(_.ts.getTime).max
      src.addData(EventStream.Event(-1L,
        new java.sql.Timestamp(maxTs + 30L * 24 * 3600 * 1000), -1L,
        "sentinel", 0.0))
      q.processAllAvailable()

      def us(t: java.sql.Timestamp): Long =
        (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
      val streamed = spark.table("sessions_eq")
        .filter(col("user_id") >= 0).collect()
        .map { r => (r.getAs[Long]("user_id"),
          us(r.getAs[java.sql.Timestamp]("started"))) ->
          ((r.getAs[Long]("n_events"),
            us(r.getAs[java.sql.Timestamp]("ended")),
            r.getAs[Double]("total_value"))) }
        .toMap
      val batch = operators.Reports.q60SessionsBatch(spark, sf).collect()
        .map { r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us")) ->
          ((r.getAs[Long]("n_events"), r.getAs[Long]("end_us"),
            r.getAs[Double]("total_value"))) }
        .toMap
      assert(streamed.keySet == batch.keySet,
        s"session boundaries differ: ${streamed.size} streamed vs " +
          s"${batch.size} batch; only-streamed=" +
          s"${(streamed.keySet -- batch.keySet).take(3)} only-batch=" +
          s"${(batch.keySet -- streamed.keySet).take(3)}")
      streamed.foreach { case (k, (n, end, total)) =>
        val (bn, bend, btotal) = batch(k)
        assert(n == bn && end == bend, s"session $k: ($n,$end) vs ($bn,$bend)")
        // batch sums in DECIMAL then rounds; streaming sums doubles in
        // event order — equal within accumulation error
        assert(math.abs(total - btotal) < 1e-4, s"session $k value: $total vs $btotal")
      }
    } finally q.stop()
  }

  test("sessionization produces plausible keyed-state summaries") {
    // sessions emit on state timeout; with one synchronous batch the
    // in-flight sessions are still open — emitted set may be small,
    // but any emitted session must be internally consistent
    val rows = StagedStream.toMemory(spark, "sessions", stagedEvents,
        maxFilesPerTrigger = 1, outputMode = "append")((ss, in) =>
      EventStream.sessionize(ss, in, gapMinutes = 30).toDF())(identity)
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_events") >= 1)
      assert(!r.getAs[java.sql.Timestamp]("ended")
        .before(r.getAs[java.sql.Timestamp]("started")))
    }
  }
}
