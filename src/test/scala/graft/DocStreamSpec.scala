package graft

import graft.operators.TextDedup
import graft.streaming.DocStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DocStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("streaming ingest near-dup equals the batch incremental path") {
    // the q62 oracle defines the incremental semantics; this gate
    // transfers it to the streaming twin: same md5 content split, the
    // incoming side fed as TWO micro-batches (per-batch independence —
    // the operator holds no state between them), output compared
    // pair-for-pair with jaccard values against
    // TextDedup.incrementalNearDupPairs
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, SparkTestSession.sf)
    val existing = docs.filter(substring(md5($"text"), 1, 1) < "c")
    val incoming = docs.filter(substring(md5($"text"), 1, 1) >= "c")
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val out = DocStream.nearDupAgainstIndex(
      src.toDF().toDF("doc_id", "text"), existing, "doc_id", "text",
      minJaccard = 0.8)
    val q = out.writeStream.format("memory").queryName("ingest_neardup")
      .outputMode("append").start()
    try {
      val rows = incoming.select($"doc_id", $"text")
        .as[(Long, String)].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      src.addData(b1.toSeq)
      q.processAllAvailable()
      src.addData(b2.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("ingest_neardup").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = TextDedup.incrementalNearDupPairs(
          existing, incoming, "doc_id", "text", minJaccard = 0.8)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(batch.nonEmpty, "fixture produced no cross-side pairs")
      assert(streamed == batch,
        s"streaming vs batch mismatch: only-streamed=" +
          s"${(streamed -- batch).take(3)} only-batch=" +
          s"${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("bucketed index tables join with no Exchange on the static side") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the layout contract nearDupAgainstIndex's scaladoc promises
    // (round-9 verdict #5): with the index stored bucketBy(bk) /
    // bucketBy(existing_id), each micro-batch's stream-static joins
    // read the static side bucket-aligned — the ONLY Exchanges in the
    // plan sit on the (small) incoming side, the corpus-sized index is
    // never re-shuffled
    Seq("ds_idx_keys", "ds_idx_payload").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      if (loc.exists()) rm(loc)
    }
    val docs = Tables.documents(spark, SparkTestSession.sf)
    val existing = docs.filter(substring(md5($"text"), 1, 1) < "c")
    val incoming = docs.filter(substring(md5($"text"), 1, 1) >= "c")
    DocStream.writeIndexTables(existing, "doc_id", "text",
      "ds_idx_keys", "ds_idx_payload", buckets = 4)
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val out = DocStream.nearDupAgainstIndexTables(
      src.toDF().toDF("doc_id", "text"),
      spark.table("ds_idx_keys"), spark.table("ds_idx_payload"),
      "doc_id", "text", minJaccard = 0.8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val q = out.writeStream.format("memory").queryName("ingest_bucketed")
      .outputMode("append").start()
    try {
      src.addData(incoming.select($"doc_id", $"text")
        .as[(Long, String)].collect().toSeq)
      q.processAllAvailable()
      // correctness first: same pairs as the batch incremental path
      val streamed = spark.table("ingest_bucketed").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = TextDedup.incrementalNearDupPairs(
          existing, incoming, "doc_id", "text", minJaccard = 0.8)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(batch.nonEmpty && streamed == batch,
        s"bucketed-index stream diverges: only-streamed=" +
          s"${(streamed -- batch).take(3)} only-batch=" +
          s"${(batch -- streamed).take(3)}")
      // then the layout claim, on the ACTUAL micro-batch plan. The
      // contract: each static table is scanned exactly ONCE, and that
      // scan reaches its join through wrapper nodes only — no Exchange
      // between a bucketed scan and the join it feeds. (Join 2's
      // stream side DOES shuffle join 1's small candidate output,
      // which transitively contains keys-table columns — that shuffle
      // is of candidates, not of the index, and is expected.)
      val exec = q.asInstanceOf[
          org.apache.spark.sql.execution.streaming.runtime
            .StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      import org.apache.spark.sql.execution.SparkPlan
      def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          p +: flatten(s.plan)
        case _ => p +: p.children.flatMap(flatten)
      }
      // scans reachable from `p` without crossing a shuffle boundary
      def unshuffledScans(p: SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p match {
          case _: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeExec => Nil
          case _: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            Nil
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            Seq(s)
          case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
            Nil // a deeper join's inputs are its own contract
          case other => other.children.flatMap(unshuffledScans)
        }
      val nodes = flatten(exec)
      val idxScans = nodes.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.toString.contains("ds_idx_") => s
      }
      assert(idxScans.size == 2,
        s"each index table must be scanned exactly once:\n$exec")
      assert(idxScans.forall(_.toString.contains("SelectedBucketsCount")),
        s"static side not read as buckets:\n$exec")
      val joins = nodes.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      val directlyJoined = joins.flatMap(_.children.flatMap(unshuffledScans))
        .map(_.toString).filter(_.contains("ds_idx_"))
      assert(
        directlyJoined.exists(_.contains("ds_idx_keys")) &&
          directlyJoined.exists(_.contains("ds_idx_payload")),
        s"a bucketed scan does not feed its join exchange-free:\n$exec")
    } finally {
      q.stop()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("streaming passage hits equal the batch index join") {
    // same transfer gate as the near-dup twin: md5 content split,
    // incoming fed as two micro-batches (stateless — no state between
    // them), hits compared row-for-row against the batch equi-join of
    // incoming passage digests vs the existing-side index
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, SparkTestSession.sf)
    val existing = docs.filter(substring(md5($"text"), 1, 1) < "c")
    val incoming = docs.filter(substring(md5($"text"), 1, 1) >= "c")
    val index = DocStream.passageIndex(existing, "doc_id", "text")
      .localCheckpoint(true)
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val out = DocStream.passageHitsAgainstIndex(
      src.toDF().toDF("doc_id", "text"), index, "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("passage_hits")
      .outputMode("append").start()
    try {
      val rows = incoming.select($"doc_id", $"text")
        .as[(Long, String)].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      src.addData(b1.toSeq)
      q.processAllAvailable()
      src.addData(b2.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("passage_hits").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
        .toSet
      val batch = DocStream.passageHitsAgainstIndex(
          incoming, index, "doc_id", "text")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
        .toSet
      assert(batch.nonEmpty, "fixture produced no cross-side passage hits")
      assert(streamed == batch,
        s"streaming vs batch mismatch: only-streamed=" +
          s"${(streamed -- batch).take(3)} only-batch=" +
          s"${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("quality monitor: streaming equals batch; too-late rows drop") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // synthetic timed feed over real corpus text: two 1-hour windows,
    // split across micro-batches mid-window, then a sentinel far ahead
    // that advances the watermark past both windows (append mode emits
    // them), then a TOO-LATE straggler that must be dropped
    val docs = Tables.documents(spark, SparkTestSession.sf)
      .select($"doc_id", $"source", $"lang", $"text")
      .limit(40).collect()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def at(min: Int) =
      new java.sql.Timestamp(t0.getTime + min * 60000L)
    val timed = docs.zipWithIndex.map { case (r, i) =>
      // rows 0-19 in window [10:00,11:00), 20-39 in [11:00,12:00)
      (at(i * 3), r.getString(1), r.getString(2), r.getString(3))
    }
    val sentinel = (at(600), "late-src", "en", "sentinel doc text")
    val straggler = (at(30), "late-src", "en", "dropped doc text")
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, String, String, String)]
    val out = DocStream.qualityMonitor(
      src.toDF().toDF("ts", "source", "lang", "text"),
      "ts", "source", "text", "lang")
    val q = out.writeStream.format("memory").queryName("quality_mon")
      .outputMode("append").start()
    try {
      val (b1, b2) = timed.splitAt(25) // split mid-window-2
      src.addData(b1.toSeq); q.processAllAvailable()
      src.addData(b2.toSeq); q.processAllAvailable()
      src.addData(Seq(sentinel)); q.processAllAvailable()
      src.addData(Seq(straggler)); q.processAllAvailable()
      val streamed = spark.table("quality_mon").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getLong(5))).toSet
      // batch twin over the SAME rows minus the dropped straggler
      // (the sentinel's windows never finalize — exclude like any
      // still-open window)
      val batch = DocStream.qualityMonitor(
          timed.toSeq.toDF("ts", "source", "lang", "text"),
          "ts", "source", "text", "lang")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getLong(5))).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"monitor streaming vs batch: only-streamed=" +
          s"${(streamed -- batch).take(3)} only-batch=" +
          s"${(batch -- streamed).take(3)}")
      assert(!streamed.exists(t => t._2 == "late-src"),
        "sentinel/straggler windows must not have emitted")
    } finally q.stop()
  }

  test("pair dedup is stateless: multi-band collisions emit one row") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // identical text shares EVERY band key with its existing twin —
    // without the min-band filter it would emit `bands` rows
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val existing = Seq((1L, text)).toDF("doc_id", "text")
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val out = DocStream.nearDupAgainstIndex(
      src.toDF().toDF("doc_id", "text"), existing, "doc_id", "text",
      minJaccard = 0.5)
    val q = out.writeStream.format("memory").queryName("ingest_one")
      .outputMode("append").start()
    try {
      src.addData(Seq((10L, text)))
      q.processAllAvailable()
      val got = spark.table("ingest_one").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.toSeq == Seq((1L, 10L, 1.0)))
    } finally q.stop()
  }

  test("batch enrichment fans out and the signature stays above it") {
    // the q102 regression pinned as a plan contract: the incoming
    // side must (a) repartition before the expensive per-row
    // signature and (b) never leak the signature into a Filter or
    // scan predicate BELOW that exchange (the inferred size(bks) > 0
    // filter used to be pushed under the fan-out with the whole
    // expression substituted in, re-serializing every micro-batch)
    val docs = Tables.documents(spark, SparkTestSession.sf)
    import org.apache.spark.sql.functions.{col, md5, substring}
    val existing = docs.filter(substring(md5(col("text")), 1, 1) < "c")
    val incoming = docs.filter(substring(md5(col("text")), 1, 1) >= "c")
    val ex = DocStream.nearDupAgainstIndex(
      incoming, existing, "doc_id", "text", minJaccard = 0.8)
    val plan = ex.queryExecution.executedPlan
    import org.apache.spark.sql.execution.SparkPlan
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: flatten(s.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val nodes = flatten(plan)
    val offenders = nodes.filter {
      case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.toString.contains("minhash_signature")
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.dataFilters.mkString(",").contains("minhash_signature")
      case _ => false
    }
    assert(offenders.isEmpty,
      s"signature leaked into a filter/scan predicate:\n" +
        offenders.map(_.nodeName).mkString("\n"))
    // and the signature projection itself exists exactly where
    // intended: above at least one shuffle exchange
    val hasRepartition = nodes.exists {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.shuffleOrigin.toString.contains("REPARTITION")
      case _ => false
    }
    assert(hasRepartition, "expected the fan-out repartition exchange")
  }
}
