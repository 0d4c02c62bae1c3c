package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface: the streaming twins of the batch
  * event queries (SURVEY §2 "continuous" + the training-pipeline
  * ingestion path). The reference's continuous mode is a polling batch
  * loop (src/index.mts:55-89) — kept as [[graft.tally.ContinuousSync]];
  * THIS module is the Spark-native upgrade: a real incremental
  * pipeline with watermarked event-time windows and custom keyed state.
  *
  * Scale: windowed aggregation state is bounded by the watermark;
  * session state by the idle timeout. Both shuffle once on the
  * grouping key per micro-batch — the same key-partitioning story as
  * the batch jobs.
  */
object EventStream {

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)

  final case class SessionSummary(user_id: Long, n_events: Long,
      total_value: Double, started: java.sql.Timestamp,
      ended: java.sql.Timestamp)

  /** Watermarked tumbling-window aggregation — the streaming twin of
    * Reports.q18EventsHourly. The value sum accumulates in
    * DECIMAL(18,6) exactly like the batch twin (double accumulation
    * is partition/arrival-order dependent at the last ulp — fine for
    * a tolerance spec, fatal for q118's hash oracle), with the same
    * final round-to-double projection. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("total_dec"))
      .select(col("window.start").as("hr"), col("event_type"),
        col("n"), round(col("total_dec").cast("double"), 6).as("total"))

  /** Ingest-time exact dedup — the streaming twin of
    * [[graft.operators.TextDedup.exactGroups]]'s keep-first semantics:
    * duplicate keys arriving within the watermark horizon are dropped,
    * and state for a key is evicted once the watermark passes it
    * (`dropDuplicatesWithinWatermark`), so state is bounded by event
    * rate × horizon rather than the stream's lifetime key count —
    * the property that keeps a 100 TB/day ingest's dedup state flat. */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
      horizon: String = "2 hours"): DataFrame =
    events.withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Timestamp ↔ microsecond conversions: gap arithmetic runs in
    * MICROseconds so the streaming splitter agrees exactly with the
    * batch twin [[graft.operators.Reports.q60SessionsBatch]] (which is
    * pinned to micros by its DuckDB oracle) — millisecond `getTime`
    * arithmetic would disagree on gaps within 1 ms of the boundary. */
  private def usOf(t: java.sql.Timestamp): Long =
    (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
  private def tsOf(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  /** Custom keyed state: 30-minute-gap sessionization via
    * flatMapGroupsWithState (the mapGroupsWithState family the
    * reference's polling loop cannot express).
    *
    * Everything is EVENT time: sessions split on event-time gaps
    * (micros, matching the batch twin
    * [[graft.operators.Reports.q60SessionsBatch]] exactly) and a
    * still-open session is emitted when the WATERMARK passes its last
    * event + gap (EventTimeTimeout). Event-time timeouts are the
    * 100 TB-safe choice: state is bounded by the watermark, results
    * are deterministic under replay/backfill, and — unlike
    * ProcessingTimeTimeout — the engine does not have to run empty
    * wall-clock batches forever to fire them (which also makes
    * `processAllAvailable` hang, since the stream never quiesces). */
  /** Per-event value as EXACT micros of its DECIMAL(18,6) form — the
    * same double→decimal rounding Spark's Cast applies, so the
    * session total accumulates in integer micros and is bit-identical
    * whatever arrival order / micro-batch split delivered the events
    * (double accumulation was order-dependent at ~1e-13 per term —
    * fine for the spec's tolerance gate, fatal for q101's hash
    * oracle). */
  private def valUs(v: Double): Long =
    new java.math.BigDecimal(v)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()

  def sessionize(spark: SparkSession, events: DataFrame,
      gapMinutes: Int = 30,
      watermarkDelay: String = "2 hours"): Dataset[SessionSummary] = {
    import spark.implicits._
    val typed = events.withWatermark("ts", watermarkDelay)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[Event]
    val gapUs = gapMinutes * 60000000L
    val gapMs = gapMinutes * 60000L
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long, Long), SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[(Long, Long, Long, Long)]) =>
          def summary(st: (Long, Long, Long, Long)): SessionSummary = {
            val (n, totalUs, started, ended) = st
            SessionSummary(userId, n, totalUs / 1e6, tsOf(started),
              tsOf(ended))
          }
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator(summary(st))
          } else {
            val sorted = rows.toSeq.sortBy(e => usOf(e.ts))
            var out = List.empty[SessionSummary]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = usOf(e.ts)
              cur match {
                case Some((n, totalUs, started, ended)) if t - ended <= gapUs =>
                  // late events from an earlier micro-batch may precede
                  // the current span — extend, never move boundaries
                  // backwards (keeps started <= ended invariant)
                  cur = Some((n + 1, totalUs + valUs(e.value),
                    math.min(started, t), math.max(ended, t)))
                case Some(st) =>
                  out ::= summary(st)
                  cur = Some((1L, valUs(e.value), t, t))
                case None =>
                  cur = Some((1L, valUs(e.value), t, t))
              }
            }
            cur.foreach { st =>
              state.update(st)
              // close at last-event + gap; if the watermark already
              // passed that (deep backfill), close at the next batch
              state.setTimeoutTimestamp(math.max(st._4 / 1000L + gapMs,
                state.getCurrentWatermarkMs() + 1L))
            }
            out.reverseIterator
          }
      }
  }
}
