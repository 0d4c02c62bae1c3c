package graft

import java.io.File

import graft.operators.{Curation, Retrieval, ScaleCorpus, Similarity, TextAnalysis, TextDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-demonstration bench for the dedup/ANN operator family: runs
  * the family queries at 1× and at `SPARK_GRAFT_SCALE_MULT`× (default
  * 10×) the input corpus and records wall time PLUS the candidate-
  * volume counters that decide whether a plan survives growth.
  *
  * The m× corpus comes from [[graft.operators.ScaleCorpus]] — replicas
  * preserve their internal similarity structure exactly and share none
  * across replicas, so the TRUE pair count scales exactly m× and any
  * super-linear counter growth is algorithmic, not a data artifact
  * (the round-7/8 verdicts asked for demonstrated, not documented,
  * scaling). Results land in SCALEBENCH.json and the table in
  * BASELINE.md §"Demonstrated scaling".
  *
  * Usage: sbt "runMain graft.ScaleBench" with the same env knobs as
  * [[Bench]] (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_REPS)
  * plus SPARK_GRAFT_SCALE_MULT.
  */
object ScaleBench {

  /** The dedup/ANN family under scale test — every entry reads only
    * documents/embeddings, so the m× dir is a drop-in `sfDir`. The
    * exact-quadratic baselines (q24/q26) are EXCLUDED by design: their
    * cost is O(n²) by contract and the scale path is exactly what the
    * LSH/IVF variants exist for. */
  private val Family = Seq(
    "q20_dedup_exact", "q21_dedup_ngram_jaccard", "q22_dedup_minhash_lsh",
    // q67 (the composed pipeline) is NOT in the family: ScaleCorpus
    // preserves replica SHINGLE structure but not stopword content
    // (suffixed tokens stop matching the quality scorer's markers), so
    // its quality gate rejects most replicas and a 10× point would
    // measure the gate's protectiveness, not the pipeline's scaling —
    // the dedup phase it composes is covered by q52/q62
    "q23_dedup_simhash", "q52_dedup_corpus", "q62_dedup_incremental",
    "q64_decontamination",
    "q48_embed_near_dup_lsh", "q51_embed_near_dup_lsh_hi",
    "q53_embed_ann_ivf_clustered",
    // round-11 additions, all documents-only: passage dedup (digest
    // shuffle), containment (the q21 self-join under its cap), shard
    // manifest (16-way window sort), bigram surprisal (gram-table
    // word-count + join)
    "q84_passage_dedup", "q85_containment", "q86_shard_manifest",
    "q87_bigram_surprisal",
    // round-12 additions: one media-decode representative (JPEG — the
    // per-row encode→decode shape all of q90–q109 share) and the
    // compressed-text ingest; both must scale ~linearly, being
    // shuffle-free per-row pipelines
    "q104_media_jpeg", "q107_compressed_ingest",
    // round-16 additions (round-15 verdict #5): the operators whose
    // whole claim is per-cycle serving cost bounded by probes/batch —
    // Bloom-prefiltered dedup (in-plan + stored artifact), the stored
    // ANN serving rungs (SQ8 / PQ / IVFADC), and the append-maintained
    // indexes. timeQuery's min-of-reps measures STEADY-STATE serving
    // (the warehouse build amortizes at the first rep); the append/
    // merge ops themselves are timed separately below against a fixed
    // batch, where near-flat growth is the law
    "q129_dedup_bloom_incremental", "q136_dedup_bloom_artifact",
    "q126_embed_ann_ivf_sq8_stored", "q132_embed_ann_pq_stored",
    "q134_embed_ann_ivfpq_stored",
    "q133_ann_index_append", "q135_pq_index_append",
    // round-17 late additions: the streamed twin of q133 (identical
    // serving claim, plus fixed per-batch stream machinery) and the
    // substring-span dedup (token-window digest shuffle + per-doc
    // windows — ~linear, law pinned in ScaleContractSpec)
    "q148_stream_index_append", "q147_substring_dedup",
    "q151_substring_dedup_stored",
    // BM25 retrieval: in-plan (one tokenize+shuffle postings build,
    // ~linear), stored serving (prefix-pruned scans + broadcast
    // query side), and the df-merge append
    "q137_bm25_topk", "q138_bm25_stored", "q139_bm25_index_append",
    // round-17: the per-iteration one-shuffle PageRank law (ranks
    // checkpointed per round, edge table built once) and its
    // dangling-redistribution twin (adds one scalar aggregate/round)
    "q140_link_pagerank", "q146_link_pagerank_dangling",
    // HITS: two shuffles + two scalar aggregates per round over the
    // same once-built edge table
    "q149_link_hits",
    // round-18 additions: stored-prior serving (steady state = one
    // equi-join against the published rank table; the retrain
    // amortizes at the first rep), CMS artifact serving (segment
    // sum-merge + stored sketch), the streamed substring append
    // (q158 — per-batch segment law + fixed stream machinery), and
    // personalized PageRank (q140's per-round one-shuffle law with a
    // seed-flagged teleport)
    "q155_link_prior_stored", "q157_cms_heavy_hitters_stored",
    "q158_stream_substring_append", "q159_link_ppr",
    // tombstone deletes: substring (signed-multiset cancellation) and
    // BM25 (df subtraction + serve-time anti-join)
    "q160_substring_delete", "q161_bm25_delete",
    // round-19 additions: the ANN/near-dup delete tier's serving
    // (steady state = anti-join-filtered stored scans; builds +
    // deletes amortize at the first rep) and semantic decontamination
    // (eval probes over the stored int8 code columns)
    "q162_ann_ivf_sq8_delete", "q163_ann_pq_delete",
    "q164_ann_ivfpq_delete", "q165_neardup_index_delete",
    "q166_semantic_decontam")

  /** Maintenance-cost timers (round-15 verdict #5): the per-cycle
    * index/sketch maintenance ops whose claim is cost ∝ batch — the
    * SAME fixed-size batch is appended/merged against a 1× and an m×
    * existing corpus, so a near-flat ratio MEASURES the
    * existing-corpus-never-read property (q133/q135/q136's design
    * contract). Build times ride along as context: builds are the
    * amortized one-time cost and may grow ~linearly (encode/assign
    * are full-corpus by design; training is capped). Two passes, min
    * per cell — same suite-pressure discipline as the query table. */
  private def maintenance(spark: SparkSession, dir: String,
      batchVecs: DataFrame, batchDocs: DataFrame): Seq[(String, Double)] = {
    import graft.operators.Warehouse
    import spark.implicits._
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val e = Tables.embeddings(spark, dir)
    val docs = Tables.documents(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("scalemaint")
      .toString
    try {
      val bIvf = timed(Similarity.buildIvfIndex(e, "vec_id",
        "embedding", s"$tmp/ivf", nLists = 16, assignments = 2))
      val aIvf = (1 to 2).map(_ => timed(Similarity.appendToIvfIndex(
        spark, batchVecs, "vec_id", "embedding", s"$tmp/ivf"))).min
      val bPq = timed(Similarity.buildPqIndex(e, "vec_id",
        "embedding", s"$tmp/pq", ks = 64, iterations = 1))
      val aPq = (1 to 2).map(_ => timed(Similarity.appendToPqIndex(
        spark, batchVecs, "vec_id", "embedding", s"$tmp/pq"))).min
      val bBloom = timed(TextDedup.buildBloomArtifact(docs, "text",
        s"$tmp/bloom"))
      val aBloom = (1 to 2).map(_ => timed(TextDedup
        .appendToBloomArtifact(spark, batchDocs, "text",
          s"$tmp/bloom"))).min
      val bBm25 = timed(Retrieval.buildBm25Index(docs, "doc_id",
        "text", s"$tmp/bm25"))
      // ONE append rep: repeating it would append the same doc ids
      // again and double-count dfs — the other appends are idempotent
      // for timing but this one's df merge is genuinely additive
      val aBm25 = timed(Retrieval.appendToBm25Index(spark, batchDocs,
        "doc_id", "text", s"$tmp/bm25"))
      // hot-term serving contrast (round-17 max-score pruning): a
      // query pairing the corpus's HOTTEST term (df ∝ corpus — the
      // stopword shape) with its lowest-df term of df ≥ 16 (floor
      // depth ≥ k). The exhaustive reference must pay the hot list
      // (cost grows with corpus); the max-score path's exchange is
      // bounded by the rare term's list — the decoupling law.
      // snapshot-resolved artifact views: appends land as epoch
      // segments (round-20), so raw `$dir/table` paths no longer see
      // the appended rows
      val dfsArt = Retrieval.storedDfs(spark, s"$tmp/bm25")
        .localCheckpoint(true)
      val hotTerm = dfsArt.orderBy(col("df").desc, col("term").asc)
        .select(col("term")).limit(1).collect().headOption
        .map(_.getString(0)).getOrElse(
          throw new IllegalStateException(
            "bm25 artifact has an empty vocabulary — corpus fixture " +
              "broken"))
      // rare side needs df ≥ 16 so the k=10 floor exists; a corpus
      // without such a term degrades to a single-term hot query
      // (non-crashing — the row is then a plain serving measurement)
      val rareTerm = dfsArt.filter(col("df") >= 16)
        .orderBy(col("df").asc, col("term").asc)
        .select(col("term")).limit(1).collect().headOption
        .map(_.getString(0)).getOrElse {
          System.err.println("[scalebench] no term with df >= 16 — " +
            "hot-term contrast degrades to a single-term query")
          hotTerm
        }
      val hotQ = Seq((1L, s"$rareTerm $hotTerm"))
        .toDF("query_id", "qtext").localCheckpoint(true)
      val sPruned = (1 to 2).map(_ => timed(
        Retrieval.bm25TopKFromIndex(spark, hotQ, "query_id", "qtext",
            s"$tmp/bm25", k = 10)
          .write.format("noop").mode("overwrite").save())).min
      // the exhaustive reference gets the SAME prefix pruning the
      // stored serving path ships with (round-17 review: an
      // unpruned reference would attribute prefix-pruning's win —
      // shipped rounds ago — to the new max-score pruning); the
      // contrast isolates exactly the candidate-filter difference
      val hotPrefixes = Seq(hotTerm, rareTerm).map(_.substring(0, 1))
        .distinct
      val hotPostings = Retrieval.storedPostings(spark, s"$tmp/bm25")
        .filter(col("pfx").isin(hotPrefixes: _*))
        .select(col("term"), col("doc_id"), col("tf"), col("len"))
      val hotStats = hotPostings.select(col("doc_id"), col("len"))
        .distinct().agg(count(lit(1)), sum(col("len"))).collect()(0)
      val hotQt = hotQ.select(col("query_id"), explode(array_distinct(
          Retrieval.alnumTokens(col("qtext")))).as("term"))
        .localCheckpoint(true)
      val sExhaustive = (1 to 2).map(_ => timed {
        Retrieval.bm25Serve(hotQt, hotPostings,
            dfsArt.select(col("term"), col("df")),
            hotStats.getLong(0), hotStats.getLong(1), 10, 1.2, 0.75)
          .write.format("noop").mode("overwrite").save()
      }).min
      // the decoupling LAW, measured as exact row counts (wall times
      // at sandbox scale are fixed-overhead-dominated — the truth-
      // counter discipline): the exhaustive exchange carries every
      // matched posting (hot df ∝ corpus); the max-score exchange
      // carries candidate rows (∝ the rare term's list)
      val hotDfs = dfsArt.select(col("term"), col("df"), col("maxtf"),
        col("minlen"))
      val hotMatched = hotPostings
        .join(hotQt.select(col("term")).distinct(), Seq("term")).count()
      val hotScored = hotPostings.join(hotQt, Seq("term"))
        .join(Retrieval.maxScoreCandidates(hotQt, hotPostings, hotDfs,
            hotStats.getLong(0), hotStats.getLong(1), 10, 1.2, 0.75),
          Seq("query_id", "doc_id"), "left_semi")
        .count()
      // compaction receipt (round-17): ~10 append cycles accumulate
      // one part-file per touched prefix per cycle — the classic
      // inverted-file/LSM small-file problem — then ONE compaction
      // collapses every multi-file partition to a single file with
      // content identity (IndexPathSpec pins the identity; this
      // measures the file-count law and the rewrite cost)
      for (cycle <- 1 to 8)
        Retrieval.appendToBm25Index(spark,
          batchDocs.select(
            (col("doc_id") + lit(cycle * 1000000L * ScaleCorpus.IdStride))
              .as("doc_id"), col("text")),
          "doc_id", "text", s"$tmp/bm25")
      var compacted = (0, 0)
      val cBm25 = timed {
        compacted = Warehouse.compactIndexPartitions(spark,
          s"$tmp/bm25", "postings.parquet", "pfx")
      }
      // the signed-dfs summing compaction (round-20): the 8 cycles
      // above left 9 df segments; folding them restores the
      // single-segment fast serve path — rows before/after are the
      // receipt (before ≈ 9 segment row sets, after = one summed set)
      var dfsFold = (0L, 0L)
      val cDfs = timed {
        dfsFold = Retrieval.compactBm25Dfs(spark, s"$tmp/bm25")
      }
      val bNd = timed(TextDedup.buildNearDupIndex(docs, "doc_id",
        "text", s"$tmp/ndidx"))
      // ONE append rep, like bm25: the append-only guard refuses a
      // re-ingest of the same batch ids
      val aNd = timed(TextDedup.appendToNearDupIndex(spark, batchDocs,
        s"$tmp/ndidx", "doc_id", "text"))
      // near-dup DELETE tier (round-19): tombstone the appended batch
      // (∝ batch — one ledger append after batch-sized guard probes),
      // then the physical purge (∝ index by contract)
      val dNd = timed(TextDedup.deleteFromNearDupIndex(spark,
        batchDocs, s"$tmp/ndidx", "doc_id"))
      val gNd = timed(TextDedup.purgeNearDupDeletes(spark, s"$tmp/ndidx"))
      // ANN delete tier (round-19): doc-local tombstones — the ledger
      // append is the whole delete — then the purge rewrite
      val dIvf = timed(Similarity.deleteFromIvfIndex(spark, batchVecs,
        "vec_id", s"$tmp/ivf"))
      val gIvf = timed(Similarity.purgeIvfDeletes(spark, s"$tmp/ivf"))
      val dPq = timed(Similarity.deleteFromPqIndex(spark, batchVecs,
        "vec_id", s"$tmp/pq"))
      val gPq = timed(Similarity.purgePqDeletes(spark, s"$tmp/pq"))
      // substring-window segment index (q151): the append writes the
      // batch's own (d, df) counts as a new segment and never reads
      // existing ones — the purest ∝-batch shape in the family
      val bSs = timed(TextDedup.buildSubstringIndex(docs, "doc_id",
        "text", Curation.Q147SpanLen, s"$tmp/ssidx"))
      val aSs = timed(TextDedup.appendToSubstringIndex(spark,
        batchDocs, s"$tmp/ssidx", "doc_id", "text"))
      // dup-summary compaction (round-19 verdict #2): fold the
      // segments, mint `dups.parquet` — after this, serving probes
      // the summary instead of scanning every corpus window
      val cSsSummary = timed(
        TextDedup.compactSubstringSegments(spark, s"$tmp/ssidx"))
      // SERVING the fixed batch against the COMPACTED index — the
      // deployment steady state and THE law row: cost ∝ dup summary
      // ∩ batch (the batch's own mass sits in the base, whose
      // unique windows are decided by summary ABSENCE — no base
      // scan), so the 1×→m× growth should be near-flat where the
      // round-18 full-segment restriction still read every (d, df)
      // row (0.70 → 2.80 s at 100×)
      val sSs = (1 to 2).map(_ => timed(
        TextDedup.substringSpansFromIndex(spark, batchDocs,
            "doc_id", "text", s"$tmp/ssidx")
          .write.format("noop").mode("overwrite").save())).min
      // a SECOND batch appended post-compaction lands in the delta
      // table; serving the original batch then pays summary ⊕ delta
      // scan, still ∝ dup-set + recent deltas. Every batch2 token is
      // suffixed so its WINDOWS are disjoint from the probe batch's —
      // the common serving case (a suffix-only variant would overlap
      // the probe's tail windows ambiguously and this row would
      // measure the base-probe fallback instead)
      val batch2 = batchDocs.select(
        (col("doc_id") + lit(1000000L * ScaleCorpus.IdStride))
          .as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit("_d")))).as("text"))
        .localCheckpoint(true)
      TextDedup.appendToSubstringIndex(spark, batch2, s"$tmp/ssidx",
        "doc_id", "text")
      val sSsDelta = (1 to 2).map(_ => timed(
        TextDedup.substringSpansFromIndex(spark, batchDocs,
            "doc_id", "text", s"$tmp/ssidx")
          .write.format("noop").mode("overwrite").save())).min
      // tombstone delete of the SAME fixed batch (∝ batch: one window
      // pass + one negative delta segment + the tombstone ledger),
      // then the SUMMING compaction that physically reclaims the
      // cancelled mass — rows before/after are the receipt. ONE
      // delete rep (a second would be refused — no longer active).
      val dSs = timed(TextDedup.deleteFromSubstringIndex(spark,
        batchDocs, s"$tmp/ssidx", "doc_id", "text"))
      var ssRows = (0L, 0L)
      val cSs = timed {
        ssRows = TextDedup.compactSubstringSegments(spark, s"$tmp/ssidx")
      }
      // q158 receipt split (round-19 verdict #7): the streamed-
      // substring row mixed the corpus-sized window pass with the
      // ∝-batch segment append in one noisy 100× cell. Two isolated
      // cells instead: the full-corpus window pass at this scale (the
      // honest big number — grows with corpus by construction), and
      // two id-shifted ∝-batch appends whose min is the flat-append
      // law and whose max/min spread evidences the cell is quiet
      // (target < 1.5 at every scale).
      val wWin = (1 to 2).map(_ => timed(
        TextDedup.corpusWindowCounts(docs, "doc_id", "text",
            s"$tmp/ssidx")
          .write.format("noop").mode("overwrite").save())).min
      val appTimes = (1 to 2).map { r =>
        val b = batchDocs.select(
          (col("doc_id") + lit((10L + r) * 1000000L * ScaleCorpus.IdStride))
            .as("doc_id"), col("text"))
          .localCheckpoint(true)
        timed(TextDedup.appendToSubstringIndex(spark, b,
          s"$tmp/ssidx", "doc_id", "text"))
      }
      // ledger compaction receipt (round-17 verdict #6): the 8 bm25
      // append cycles above each added one part-file to the
      // UNPARTITIONED ids.parquet ledger — compaction collapses them
      // to one, content-identical (IndexPathSpec pins the identity)
      var ledger = (0, 0)
      val cLedger = timed {
        ledger = Warehouse.compactUnpartitionedLedger(spark,
          s"$tmp/bm25", "ids.parquet")
      }
      // BM25 tombstone delete of the SAME fixed batch (∝ batch: one
      // batch tokenize + a touched-prefix dfs rewrite + the ledger —
      // near-flat is the law), then the physical purge (∝ index — the
      // compaction-tier rewrite, expected to grow). AFTER the ledger
      // receipt above: purge rewrites ids.parquet wholesale, which
      // would otherwise turn that receipt into a measurement of this
      // rewrite's fan-out (round-18 review)
      val dBm25 = timed(Retrieval.deleteFromBm25Index(spark, batchDocs,
        "doc_id", "text", s"$tmp/bm25"))
      val gBm25 = timed(Retrieval.purgeBm25Deletes(spark,
        s"$tmp/bm25"))
      // CMS artifact (round-17 verdict #3): build ∝ corpus (one
      // tokenize + sketch fold), merge ∝ batch (same-geometry
      // mergeInPlace + one segment append — the near-flat law). ONE
      // merge rep: the append-only guard refuses a re-ingest.
      val bCms = timed(TextAnalysis.buildCmsArtifact(docs, "doc_id",
        "text", s"$tmp/cms", eps = 0.001, confidence = 0.999,
        seed = 42))
      val aCms = timed(TextAnalysis.appendToCmsArtifact(spark,
        batchDocs, "doc_id", "text", s"$tmp/cms"))
      // BPE train law (round-19 verdict #4): incremental pair-count
      // maintenance vs the retired per-round full recount, SAME
      // corpus and merge count. Wall clocks at sandbox scale are
      // fixed-job-overhead dominated (the incremental loop runs
      // three extra BOUNDED jobs per round), so the LAW rides the
      // truth counters: bpe_affected_rows = the rows the incremental
      // delta explodes (Σ words containing each round's winning
      // pair) vs bpe_recount_rows = rounds × vocab, the rows the
      // recount exploded — the former must grow far slower than the
      // 10×/100× vocab. The recount wall-clock contrast joins the
      // retired-shape family behind SKIP_FIXED (-1 = skipped).
      val bpeMerges = 64
      val bpeStats = new graft.operators.Bpe.TrainStats
      val tBpe = timed {
        graft.operators.Bpe.trainMerges(docs, "text", bpeMerges,
          Some(bpeStats))
        ()
      }
      val skipFixedMaint =
        sys.env.contains("SPARK_GRAFT_SCALE_SKIP_FIXED")
      val tBpeRecount = if (skipFixedMaint) -1.0 else timed {
        graft.operators.Bpe.trainMergesRecount(docs, "text", bpeMerges)
        ()
      }
      Seq("ivf_build_sec" -> bIvf, "ivf_append_sec" -> aIvf,
        "pq_build_sec" -> bPq, "pq_append_sec" -> aPq,
        "bloom_build_sec" -> bBloom, "bloom_merge_sec" -> aBloom,
        "bm25_build_sec" -> bBm25, "bm25_append_sec" -> aBm25,
        "bm25_hot_serve_sec" -> sPruned,
        "bm25_hot_exhaustive_sec" -> sExhaustive,
        "bm25_hot_matched_rows" -> hotMatched.toDouble,
        "bm25_hot_scored_rows" -> hotScored.toDouble,
        "bm25_compact_sec" -> cBm25,
        "bm25_dfs_compact_sec" -> cDfs,
        "bm25_dfs_rows_before" -> dfsFold._1.toDouble,
        "bm25_dfs_rows_after" -> dfsFold._2.toDouble,
        "bm25_delete_sec" -> dBm25, "bm25_purge_sec" -> gBm25,
        "bm25_compact_files_before" -> compacted._1.toDouble,
        "bm25_compact_files_after" -> compacted._2.toDouble,
        "neardup_build_sec" -> bNd, "neardup_append_sec" -> aNd,
        "neardup_delete_sec" -> dNd, "neardup_purge_sec" -> gNd,
        "ivf_delete_sec" -> dIvf, "ivf_purge_sec" -> gIvf,
        "pq_delete_sec" -> dPq, "pq_purge_sec" -> gPq,
        "substring_build_sec" -> bSs, "substring_append_sec" -> aSs,
        "substring_summary_sec" -> cSsSummary,
        "substring_serve_sec" -> sSs,
        "substring_serve_delta_sec" -> sSsDelta,
        "substring_delete_sec" -> dSs,
        "substring_compact_sec" -> cSs,
        "substring_stream_window_sec" -> wWin,
        "substring_stream_append_sec" -> appTimes.min,
        "substring_stream_append_spread" ->
          (appTimes.max / appTimes.min),
        "substring_rows_before" -> ssRows._1.toDouble,
        "substring_rows_after" -> ssRows._2.toDouble,
        "bm25_ledger_compact_sec" -> cLedger,
        "bm25_ledger_files_before" -> ledger._1.toDouble,
        "bm25_ledger_files_after" -> ledger._2.toDouble,
        "cms_build_sec" -> bCms, "cms_merge_sec" -> aCms,
        "bpe_train_sec" -> tBpe,
        "bpe_train_recount_sec" -> tBpeRecount,
        "bpe_affected_rows" -> bpeStats.affectedRows.toDouble,
        "bpe_recount_rows" -> bpeStats.recountRows.toDouble)
    } finally Warehouse.deleteRec(new File(tmp))
  }

  private def timeQuery(spark: SparkSession, dir: String, reps: Int,
      fn: (SparkSession, String) => DataFrame): Double = {
    spark.catalog.clearCache()
    System.gc()
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** Write the m× corpus next to the build products (never under
    * /root/testdata — that tree is read-only by contract). */
  private def materializeScaled(spark: SparkSession, sfDir: String,
      mult: Int): String = {
    val tag = new File(sfDir).getName
    val out = s"target/scaledata/${tag}_x$mult"
    val done = new File(s"$out/_SCALE_OK")
    if (!done.exists()) {
      ScaleCorpus.documents(Tables.documents(spark, sfDir), mult)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      ScaleCorpus.embeddings(Tables.embeddings(spark, sfDir), mult)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      done.getParentFile.mkdirs()
      done.createNewFile()
    }
    out
  }

  def main(args: Array[String]): Unit = {
    // exclusive run lock (round-19 verdict #6): an overlapped
    // Bench/ScaleBench run contaminates both artifacts — refuse
    // loudly; a crashed holder's lock dies with its JVM (see RunLock)
    val runLock = RunLock.acquire(RunLock.benchLockPath)
    try mainLocked() finally runLock.close()
  }

  private def mainLocked(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "10").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    val spark = GraftSession.local(defaultCpus = 32)

    val scaledDir = materializeScaled(spark, sfDir, mult)
    // JIT warm-up on a family-representative query (see Bench)
    Curation.q20DedupExact(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

    // several full passes over (query × scale), min per cell:
    // suite-order allocation/JIT pressure inflates single measurements
    // 3–6× (Bench's isolated re-pass lesson — q21 measured 7.7 s
    // mid-suite vs 2.45 s isolated in the same session), and a scale
    // RATIO built from one inflated cell is worse than no number at
    // all. EVERY pass is recorded in the artifact next to the min it
    // yields (round-9 verdict #1: a published per-cell-minima table
    // must be reproducible from the committed JSON alone — the round-9
    // file held one pass whose q21 cell was 3.4× the published min,
    // unfalsifiable without the other passes)
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_SCALE_PASSES", "3")
      .toInt.max(1)
    // targeted runs (the 100× law-critical spot-check): same substring
    // filter contract as Bench's SPARK_GRAFT_ONLY
    // the retired fixed-cap configs' quadratic contrast counters are
    // already pinned at 10x/30x; at 100x their volume (~10^10 pair
    // rows) is exactly what the shipped plans exist to avoid — skip
    // them on request and record -1 (documented in BASELINE.md)
    val skipFixed = sys.env.contains("SPARK_GRAFT_SCALE_SKIP_FIXED")
    // the candidate-volume counter laws are pinned at 10×/30×/100×
    // in their own committed artifacts; a targeted maintenance-law
    // run (e.g. the 100× append spot-check) skips re-deriving them
    // and records an empty counters map
    val skipCounters =
      sys.env.contains("SPARK_GRAFT_SCALE_SKIP_COUNTERS")
    val family = Family.filter(
      GraftSession.keep(sys.env.get("SPARK_GRAFT_SCALE_ONLY")))
    val passes = (1 to nPasses).map { p =>
      family.map { name =>
        val fn = SparkEntry.queries(name)
        val t1 = timeQuery(spark, sfDir, reps, fn)
        val tm = timeQuery(spark, scaledDir, reps, fn)
        System.err.println(
          f"[scalebench] pass $p $name%-32s 1x $t1%7.2f s" +
            f"   ${mult}x $tm%7.2f s   ratio ${tm / t1}%5.2f")
        name -> (t1, tm)
      }.toMap
    }
    val times = family.map { name =>
      val t1 = passes.map(_(name)._1).min
      val tm = passes.map(_(name)._2).min
      System.err.println(
        f"[scalebench] min    $name%-32s 1x $t1%7.2f s   ${mult}x $tm%7.2f s" +
          f"   ratio ${tm / t1}%5.2f")
      name -> (t1, tm)
    }

    // Candidate-volume counters: the pre-verification volumes that
    // decide whether each plan survives growth, measured (not derived)
    // at both scales.
    def counters(dir: String): Seq[(String, Long)] = {
      val docs = Tables.documents(spark, dir)
      val grams = TextDedup.explodedShingles(docs, "doc_id", "text", 3)
        .localCheckpoint(true)
      val flipped = Curation.flippedNearDupCorpus(
        Tables.embeddings(spark, dir))
      val clustered = Curation.clusteredEmbeddings(
        Tables.embeddings(spark, dir))
      val (dp, dt) = Similarity.lshParamsFor(0.9)
      val nFlip = flipped.count()
      val (sp, st) = Similarity.lshParamsForScale(0.9, nFlip,
        Curation.Q48CandidatesPerVector)
      val nDocs = docs.count()
      val (scaledChunks, _) = TextDedup.simhashParamsForScale(nDocs)
      Seq(
        "docs" -> nDocs,
        "minhash_cand" -> TextDedup.minhashCandidatesFromGrams(
          grams, 128, 32, 100000).count(),
        "simhash_cand" -> TextDedup.simhashCandidatesFromGrams(
          grams, 13, 12).count(),
        // pre-Hamming chunk-join volume: fixed 13-chunk (the q23
        // oracle pin — ~0.8·n², quadratic) vs the n-derived chunk count
        // (volume ~linear at a shrinking guaranteed radius) — the
        // SimHash analog of the fixed-vs-scaled sign-LSH contrast
        "simhash_prefilter_fixed" -> (if (skipFixed) -1L
          else TextDedup.simhashChunkPairVolume(grams, 13)),
        "simhash_prefilter_scaled" -> TextDedup.simhashChunkPairVolume(
          grams, scaledChunks),
        // the DIRECT pipeline, not q21's exchange-backed entry: the
        // counter verifies the truth-pair law, and routing it through
        // the entry would persist a corpus-scale gram artifact for
        // every scaled dir as a side effect (round-14 review); the
        // consumer-half equivalence is TextDedupSpec's pin
        "jaccard_pairs" -> TextDedup.ngramJaccardPairs(docs,
          "doc_id", "text", n = 3, minJaccard = 0.8,
          maxShingleDf = Curation.Q21MaxShingleDf).count(),
        // replica laws pinned in ScaleContractSpec: both exactly m×
        // (passages/grams never cross replicas; per-replica dfs match
        // the 1x corpus so the stop-shingle cap drops identical sets)
        "passage_dup_volume" -> TextDedup.passageDupStats(docs,
          "doc_id", "text", Curation.Q84PassageLen)
          .agg(org.apache.spark.sql.functions.sum(
            col("n_dup_passages")).cast("long")).head().getLong(0),
        "containment_pairs" -> TextDedup.containmentDupPairs(docs,
          "doc_id", "text", n = 3,
          minContainment = Curation.Q85MinContainment,
          maxShingleDf = Curation.Q21MaxShingleDf).count(),
        // duplicated-substring token mass: windows never cross
        // replicas, so exactly m× (ScaleContractSpec pins the law on
        // the small fixture; this measures it at bench scale)
        "substring_dup_tokens" -> TextDedup.exactSubstringSpans(docs,
          "doc_id", "text", minLen = Curation.Q147SpanLen)
          .agg(org.apache.spark.sql.functions.sum(
            col("dup_tokens")).cast("long")).head().getLong(0),
        // fixed collision cap (constant cartesian fraction — grows
        // ~quadratically) vs the scale-aware derive (per-vector
        // budget — grows ~linearly): the contrast the 100 TB design
        // note in Similarity.lshParamsForScale is built on
        "neardup_lsh_cand_fixed" -> (if (skipFixed) -1L
          else Similarity.lshCandidatePairs(
            flipped, "vec_id", "embedding", dp, dt).count()),
        "neardup_lsh_cand_scaled" -> Similarity.lshCandidatePairs(
          flipped, "vec_id", "embedding", sp, st).count(),
        "neardup_true_pairs" -> Similarity.cosineNearDupPairs(
          flipped, "vec_id", "embedding", 0.9).count(),
        "ivf_cand" -> Similarity.ivfCandidates(
          clustered.filter(col("vec_id") < 10), clustered,
          "vec_id", "embedding", nLists = 0, nProbe = Curation.Q53NProbe,
          iterations = 1, materializeCorpus = true).count(),
        "ivf_corpus" -> clustered.count())
    }
    val c1 = if (skipCounters) Seq.empty else counters(sfDir)
    val cm = if (skipCounters) Seq.empty else counters(scaledDir)

    // the fixed maintenance batch: the SAME rows whichever corpus the
    // index was built on. Ids shift by 1000 strides — far past any
    // plausible replica count (a 7-stride shift collided with replica
    // 7 at the default mult=10, round-16 review); doc texts are
    // suffixed so the bloom merge inserts genuinely new digests
    val batchVecs = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 100)
      .select((col("vec_id") + lit(1000L * ScaleCorpus.IdStride))
        .as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val batchDocs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 200)
      .select((col("doc_id") + lit(1000L * ScaleCorpus.IdStride))
        .as("doc_id"),
        concat(col("text"), lit(" maintbatch")).as("text"))
      .localCheckpoint(true)
    val m1 = maintenance(spark, sfDir, batchVecs, batchDocs)
    val mm = maintenance(spark, scaledDir, batchVecs, batchDocs)

    // t1x/t{m}x stay the per-cell min (the published numbers); the
    // passes arrays are the receipts those minima are taken over
    val timesJson = times.map { case (k, (t1, tm)) =>
      val p1 = passes.map(_(k)._1).mkString("[", ",", "]")
      val pm = passes.map(_(k)._2).mkString("[", ",", "]")
      s""""$k":{"t1x":$t1,"t${mult}x":$tm,""" +
        s""""passes1x":$p1,"passes${mult}x":$pm}"""
    }.mkString("{", ",", "}")
    val countJson = c1.zip(cm).map { case ((k, v1), (_, vm)) =>
      s""""$k":{"c1x":$v1,"c${mult}x":$vm}""" }.mkString("{", ",", "}")
    // Double.toString interpolation like times/counters — the f"%.3f"
    // interpolator is default-locale (a comma-decimal locale would
    // emit invalid JSON, round-16 review)
    val maintJson = m1.zip(mm).map { case ((k, v1), (_, vm)) =>
      s""""$k":{"t1x":${math.rint(v1 * 1000) / 1000},""" +
        s""""t${mult}x":${math.rint(vm * 1000) / 1000}}""" }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"scale","mult":$mult,"sf":"$sfDir",""" +
      s""""npasses":$nPasses,"queries":$timesJson,""" +
      s""""counters":$countJson,"maintenance":$maintJson}"""
    println(line)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT",
      "SCALEBENCH.json")
    val w = new java.io.PrintWriter(new File(outPath), "UTF-8")
    try w.println(line) finally w.close()
    spark.stop()
  }
}
