package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query at the target scale
  * factor and prints ONE JSON line for the driver. Queries materialize
  * through the `noop` sink — a bare count() would let Catalyst prune
  * aggregate expressions and joins, under-measuring the real work.
  *
  * SELF-DEFENDING MEASUREMENT (round-2 lesson: a recorded run under
  * ambient machine load reported 2.2× the code's real cost):
  *  - each query runs `SPARK_GRAFT_REPS` times (default 2) and the
  *    MINIMUM is reported — the min is the least-noise estimator of
  *    the code's cost under external contention
  *  - when a previous round's BENCH_r*.json is present, any query
  *    drifting >1.5× against it is flagged on stderr so a noisy
  *    snapshot never ships silently again
  *  - each query starts from a level playing field (cache cleared,
  *    GC'd) so a heavy predecessor's garbage doesn't tax it, and any
  *    flagged drifter gets a SECOND isolated pass at the end (min
  *    taken) — suite-order pressure inflated q17/q18/q19 2.5–3× in
  *    round 3's record and the whole dedup block in rounds 5–6
  */
object Bench {

  /** Level the field before a timed region: drop cached plans and
    * collect the previous query's garbage so its GC debt isn't billed
    * to the next one. */
  private def quiesce(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  /** Sentinel for a query that failed every rep — large enough that it
    * can never pollute a cross-round bestKnown minimum, and obviously
    * wrong in any human read of the record. */
  private val FailedSentinel = 99999.0

  /** Min-of-`reps` wall time for one query, noop-materialized. A
    * failed rep contributes the sentinel, NOT its elapsed time — a
    * fast crash would otherwise be recorded as a spuriously great
    * time and poison every later round's drift reference. */
  private def timeQuery(spark: SparkSession, sfDir: String, reps: Int,
      name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
    quiesce(spark)
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        FailedSentinel
      }
    }.min
  }

  /** Cross-round minima are only comparable while the query measures
    * the same work: when a fixture or regime legitimately changes, the
    * old cells become stale references that flag the same explained
    * "drift" every run and drown real regressions (the round-12 ledger
    * carried 11 such artifacts). Each entry here names the first round
    * whose records are valid for that query; older rounds' cells are
    * ignored when seeding bestKnown. */
  private val bestKnownValidFrom: Map[String, Int] = {
    // r12: the Tally bulk fixture scaled ~1000× (10k vouchers / 20k
    // legs) — every report over it costs legitimately more since
    val tallyRescale = Seq("q32_tally_trial_balance",
      "q33_tally_account_ledger", "q34_tally_accounting_voucher_view",
      "q35_tally_daily_cash_movement", "q36_tally_group_tree_parent_child",
      "q37_tally_group_tree_children_parent", "q38_tally_profit_loss",
      "q39_tally_sales_daily", "q40_tally_sales_monthly",
      "q41_tally_purchase_daily", "q42_tally_purchase_monthly",
      "q43_tally_sales_register", "q44_tally_purchase_register",
      "q45_tally_stock_summary", "q46_tally_stock_voucher_view",
      "q49_tally_forex_register", "q50_tally_fk_register")
      .map(_ -> 12)
    // r13: q23/q51 retired their pinned quadratic regimes for
    // scale-derived configs (different executed plans AND different
    // result shapes), and q36/q37 gate on the deepened group trees
    val r13Regimes = Seq("q23_dedup_simhash", "q51_embed_near_dup_lsh_hi",
      "q36_tally_group_tree_parent_child",
      "q37_tally_group_tree_children_parent").map(_ -> 13)
    // r17: BM25 serving switched to safe max-score pruning (floor
    // pass + candidate semi-join — 3 posting scans instead of 1).
    // At sandbox scale the fixed overhead exceeds the exchange win
    // by design (the law is exchange VOLUME, measured in ScaleBench's
    // bm25_hot_*_rows counters); pre-pruning serving minima are not
    // comparable.
    val r17MaxScore = Seq("q137_bm25_topk", "q138_bm25_stored",
      "q139_bm25_index_append").map(_ -> 17)
    // r19: q160's artifact chain compacts BEFORE the delete, so its
    // serving runs the dup-summary ⊕ negative-delta formula (a
    // different executed plan: summary probe + delta aggregation +
    // the ambiguity gate, vs one restricted sum-merge) — pre-summary
    // serving minima are not comparable
    val r19Summary = Seq("q160_substring_delete").map(_ -> 19)
    // r20: ingest-cycle snapshot isolation — every append/delete now
    // lands as epoch-named SEGMENTS committed through the manifest,
    // so the entries that mutate their stored artifact serve from a
    // per-segment UNION (one scan per segment) and BM25's df table
    // becomes signed segments sum-merged at serve; different executed
    // plans, pre-segment minima not comparable. Build-only stored
    // entries (q115/q126/q132/q134/q138/q116) keep single-segment
    // plans byte-identical to r19 and stay comparable.
    val r20Segments = Seq("q133_ann_index_append",
      "q135_pq_index_append", "q136_dedup_bloom_artifact",
      "q139_bm25_index_append", "q141_neardup_index_append",
      "q148_stream_index_append", "q151_substring_dedup_stored",
      "q157_cms_heavy_hitters_stored", "q158_stream_substring_append",
      "q160_substring_delete", "q161_bm25_delete",
      "q162_ann_ivf_sq8_delete", "q163_ann_pq_delete",
      "q164_ann_ivfpq_delete", "q165_neardup_index_delete")
      .map(_ -> 20)
    (tallyRescale ++ r13Regimes ++ r17MaxScore ++ r19Summary ++
      r20Segments).toMap
  }

  /** Best (minimum) recorded seconds per query across ALL prior
    * BENCH_r*.json rounds — the latest round alone may itself be an
    * ambient-load artifact (r5/r6 recorded 1.5–4× real costs), so the
    * cross-round min is the only trustworthy drift reference.
    *
    * Sources (round-21 verdict #2 — the driver's BENCH_r*.json wraps
    * the emitted line in a 2000-char truncated `tail`, so for
    * alphabetically-early queries the driver records alone were
    * SILENTLY EMPTY and the drift ledger mostly blind — q105's 4.18 s
    * blip and q146's 4.31 s both shipped unflagged as their own
    * "best"): the driver's BENCH_r<N>.json files, the repo's
    * unabridged BENCH_r<N>_builder.json snapshots, and the verbatim
    * `bench_out.json` the previous run wrote. bench_out.json carries
    * no round number; it is attributed to the LATEST numbered round —
    * conservative under [[bestKnownValidFrom]]: a regime change in
    * the round currently being built correctly drops its cells. */
  private def priorTimes(sfDir: String): Map[String, Double] = {
    // a record from a DIFFERENT scale factor must not seed the minima
    // — an sf0.01 dev record would flag every honest sf0.1 run
    val sfTag = new java.io.File(sfDir).getName // e.g. "sf0.1"
    val dir = new java.io.File(".")
    val listed = Option(dir.listFiles()).getOrElse(Array.empty)
    val numbered = listed
      .filter(_.getName.matches("BENCH_r\\d+(_builder)?\\.json"))
    val latestRound = numbered.flatMap(f =>
      "BENCH_r(\\d+)".r.findFirstMatchIn(f.getName).map(_.group(1).toInt))
      .foldLeft(0)(math.max)
    val files = (numbered ++
      listed.filter(_.getName == "bench_out.json")).sortBy(_.getName)
    files.flatMap { f =>
      val round = "BENCH_r(\\d+)".r.findFirstMatchIn(f.getName)
        .map(_.group(1).toInt).getOrElse(latestRound)
      val text = scala.io.Source.fromFile(f)
      val raw = try text.mkString finally text.close()
      // the "drifted" map holds RATIOS under the same "qXX": number
      // shape as the seconds maps — a 1.6× ratio for a 5 s query
      // parsed as a 1.6 s minimum would poison bestKnown and flag
      // every honest future run. Extract the seconds maps BY KEY
      // (brace-delimited value after "queries"/"bestKnown") rather
      // than cutting the line at the first "drifted" occurrence —
      // the cut silently broke if the emitter ever reordered fields
      // (round-11 advice). The maps are flat string→number, so the
      // first '}' after the opening brace closes the block.
      def block(key: String): Option[String] =
        ("\\\\?\"" + key + "\\\\?\"\\s*:\\s*\\{").r.findFirstMatchIn(raw)
          .flatMap { m =>
            val close = raw.indexOf('}', m.end - 1)
            if (close < 0) None else Some(raw.substring(m.end - 1, close + 1))
          }
      val blocks = Seq("queries", "bestKnown").flatMap(block)
      // pre-block-format records (none in this repo's history, but a
      // hand-trimmed artifact could lack the keys): fall back to the
      // old drifted-cut scan rather than dropping the round
      val s = if (blocks.nonEmpty) blocks.mkString(" ")
        else "\\\\?\"drifted\\\\?\"".r.findFirstMatchIn(raw)
          .map(m => raw.substring(0, m.start)).getOrElse(raw)
      // sf check on the UNCUT text: the "sf":"…/sf0.1" field sits
      // after the drifted map in the emitted line
      if (!raw.contains(sfTag)) Iterator.empty
      else
        // the driver wraps our JSON line ESCAPED inside a "tail" field
        // (\"q01\":1.94) — accept both raw and escaped quoting
        "\\\\?\"(q[0-9a-z_]+)\\\\?\"\\s*:\\s*([0-9.]+)".r.findAllMatchIn(s)
          .map(m => m.group(1) -> m.group(2).toDouble)
          // drop cells a fixture/regime change invalidated
          .filter { case (q, _) =>
            bestKnownValidFrom.get(q).forall(round >= _) }
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
  }

  def main(args: Array[String]): Unit = {
    // exclusive run lock shared with ScaleBench (round-19 verdict
    // #6): overlapped measurement runs contaminate both artifacts
    val runLock = RunLock.acquire(RunLock.benchLockPath)
    try mainLocked() finally runLock.close()
  }

  private def mainLocked(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    val spark = GraftSession.local(defaultCpus = 4)
    // JVM/codegen warm-up outside the timed region: a representative
    // join+aggregate query, so scan/join/agg/codegen paths are all JIT'd
    // before the first timed query (a bare limit(10) left ~7 s of JIT
    // inside whichever query ran first)
    graft.operators.Reports.q04CrossNation(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val prior = priorTimes(sfDir)
    // dev-only subset filter (same contract as Verify); the driver
    // sets no filter and always benches every query
    val queries = GraftSession.queries(sys.env.get("SPARK_GRAFT_ONLY"))
    val firstPass = queries.map { case (name, fn) =>
      val secs = timeQuery(spark, sfDir, reps, name, fn)
      System.err.println(f"[bench] $name%-40s $secs%8.2f s (min of $reps)")
      name -> secs
    }.toMap
    // isolated re-pass: anything >1.5× its prior-round record re-runs
    // at the very end, after the suite's allocation churn settles —
    // the min of both passes is the recorded number
    // drift = 1.5× the cross-round best AND at least 0.25 s of excess:
    // the minima for sub-second queries are lucky-fast samples, and
    // 1.5× of 0.15 s is scheduler noise, not a regression — absolute
    // excess is what a human reviewer would call real
    def isDrift(p: Double, secs: Double): Boolean =
      p > 0.05 && secs > p * 1.5 && secs - p > 0.25
    // per-query isolated re-pass results, persisted in the artifact:
    // the round-13 record flagged q79 at 2.59× with no in-artifact
    // evidence of the isolation — a reviewer could not tell ambient
    // load from a real regression without re-running the suite
    val isolated = scala.collection.mutable.LinkedHashMap[String, Double]()
    val results = queries.map { case (name, fn) =>
      val first = firstPass(name)
      val drifted = prior.get(name).exists(p => isDrift(p, first))
      val secs =
        if (!drifted) first
        else {
          val re = timeQuery(spark, sfDir, reps, name, fn)
          isolated(name) = re
          System.err.println(f"[bench] $name%-40s $re%8.2f s (isolated " +
            f"re-pass; first pass $first%.2f s vs prior " +
            f"${prior(name)}%.2f s)")
          math.min(first, re)
        }
      // a drift that survives the isolated re-pass is not a transient
      // blip: sustained machine load, a config change (q48's best
      // predates its r3 rework), or a real regression
      val drift = prior.get(name)
        .filter(p => isDrift(p, secs))
        .map(p => f" DRIFT ${secs / p}%.1fx vs prior $p%.2f s" +
          " — persists in the isolated re-pass: sustained load, config" +
          " change, or real regression")
        .getOrElse("")
      if (drift.nonEmpty)
        System.err.println(f"[bench] $name%-40s $secs%8.2f s$drift")
      name -> secs
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // bestKnown = cross-round per-query minima (this run included):
    // the honest cost estimate when a recording runs under ambient
    // machine load — r5/r6 recorded 1.5–4× real costs and the drift
    // was invisible in the JSON record itself
    val best = results.map { case (k, v) =>
      "\"" + k + "\":" + math.min(v, prior.getOrElse(k, v)) }
      .mkString("{", ",", "}")
    val bestTotal = results
      .map { case (k, v) => math.min(v, prior.getOrElse(k, v)) }.sum
    // drift record IN the artifact (round-9 verdict #3): bestKnown is a
    // cross-round minimum and can only improve, so a regression in the
    // CURRENT code is invisible in the minima — persist every query
    // whose current run exceeds its cross-round best by >1.5× (the
    // stderr flag alone vanished with the session). Auditable as
    // current = "queries", reference = "bestKnown", ratio here.
    // Locale.ROOT formatting: the f-interpolator follows the JVM
    // default locale, and a comma decimal separator would corrupt the
    // JSON artifact (round-14 review)
    def num(v: Double, decimals: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${decimals}f",
        Double.box(v))
    val driftedMap = results.flatMap { case (k, v) =>
      prior.get(k).filter(p => isDrift(p, v))
        .map(p => "\"" + k + "\":" + num(v / p, 2))
    }.mkString("{", ",", "}")
    // the isolated re-pass numbers themselves: a drift entry whose
    // isolated time is back near bestKnown is PROVEN ambient; one that
    // stays high in isolation is a real regression — the artifact now
    // carries the evidence either way
    val isolatedMap = isolated.map { case (k, v) =>
      "\"" + k + "\":" + num(v, 3) }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"bestKnown":$best,"bestKnownTotal":$bestTotal,"drifted":$driftedMap,"isolated":$isolatedMap,"sf":"$sfDir"}"""
    println(line)
    // The driver's BENCH_r{N}.json wraps stdout in a bounded "tail"
    // field that has truncated the head of the query map in past
    // rounds — also persist the line verbatim so every round's record
    // is parseable standalone without stitching older rounds.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      val w = new java.io.PrintWriter(new java.io.File(outFile), "UTF-8")
      try w.println(line) finally w.close()
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
