package graft

import graft.operators.{Curation, Similarity, TextDedup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CORRECTNESS-style gates for the PERSISTED-index query paths
  * (round-9 verdict #2): the build-then-query flow over a real
  * on-disk index must answer exactly what the one-job derivations
  * (q47 / q62) answer on the same corpus, and the IVF assignments
  * scan must be PRUNED to the probed list_id partitions — the
  * property that makes a stored inverted file an index at all (a
  * full-scan "index" read would erase the build's entire economics
  * at 100 TB).
  *
  * The index builds are staged here in the test driver (never at
  * plan-construction time — query entries must stay side-effect
  * free), mirroring how a deployment stages its index between ingest
  * cycles. */
class IndexPathSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf
  import spark.implicits._

  private def withTempDir[A](tag: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    try f(dir)
    finally {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles().foreach(rm)
        x.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  /** Snapshot-resolved table scan — ingest lands as epoch SEGMENTS
    * (round-20), so raw `$dir/table` reads stop seeing appended
    * rows; every physical-layout assertion reads through the same
    * resolution serving uses. */
  private def tbl(dir: String, table: String) =
    graft.operators.Warehouse.indexSnapshot(dir).read(spark, table)

  /** Snapshot-resolved `_meta.json` path — mutating ops replace the
    * meta as an epoch-named file registered in their commit. */
  private def metaPathOf(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(
      graft.operators.Warehouse.indexSnapshot(dir).path("_meta.json"))

  test("IVF index path answers exactly the q47 result on the harness corpus") {
    withTempDir("ivf_q47") { dir =>
      val e = Tables.embeddings(spark, sf)
      // same build parameters as the q47 entry (nLists=16,
      // assignments=2, default Lloyd iterations) — the build is
      // deterministic (hash-picked seeds), so the on-disk index must
      // reproduce the in-memory derivation bit-for-bit
      Similarity.buildIvfIndex(e, "vec_id", "embedding", dir,
        nLists = 16, assignments = 2)
      val fromIndex = Similarity.ivfTopKFromIndex(spark,
          e.filter(col("vec_id") < 10), "vec_id", "embedding", dir,
          k = 10, nProbe = 12)
        .filter(col("rank") <= Curation.AnnOracleK)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      val q47 = Curation.q47EmbedAnnIvf(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      assert(q47.nonEmpty)
      assert(fromIndex == q47,
        s"index path diverges from q47: missing ${(q47 -- fromIndex).take(5)}"
          + s", extra ${(fromIndex -- q47).take(5)}")
    }
  }

  /** Every FileSourceScanExec in an executed plan, descending through
    * AQE query stages (scans live inside materialized stages, which
    * are leaves to a plain collect). */
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      allScans(q.plan)
    case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(allScans)
  }

  test("IVF assignments scan reads only the probed list_id partitions") {
    withTempDir("ivf_prune") { dir =>
      val e = Tables.embeddings(spark, sf)
      Similarity.buildIvfIndex(e, "vec_id", "embedding", dir,
        nLists = 16, assignments = 1)
      // at test scale everything is broadcast-sized — at 100 TB the
      // assignments table never is. Disable auto broadcast so the
      // plan shape under test is the scale shape (only the operator's
      // own explicit probes-side broadcast hint survives).
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        // ONE query probing 2 of 16 lists — the scan must touch 2
        // partition directories, not 16
        val q = Similarity.ivfTopKFromIndex(spark,
          e.filter(col("vec_id") === 0), "vec_id", "embedding", dir,
          k = 5, nProbe = 2)
        q.collect()
        val plan = q.queryExecution.executedPlan
        val scans = allScans(plan).filter(
          _.metadata.get("Location").exists(_.contains("assignments")))
        assert(scans.nonEmpty, s"no assignments FileScan in:\n$plan")
        // the scan carries a STATIC partition filter on list_id (the
        // probed ids resolved as literals — pruning by construction,
        // not an optimizer heuristic: DPP's broadcast-reuse-only
        // default planned this leaf stage with a `true` filter)…
        assert(scans.exists(s =>
          s.toString.contains("PartitionFilters") &&
            s.toString.contains("list_id") && s.toString.contains("IN")),
          s"assignments scan has no static list_id partition filter:\n$plan")
        // …and its metrics prove the pruning happened: of the 16
        // list_id partitions only the probed 2 were read
        val partsRead = scans.map(_.metrics("numPartitions").value).max
        assert(partsRead == 2,
          s"expected 2 probed partitions read, got $partsRead; scans:\n" +
            scans.map(s => s.toString + "\n  metrics: " +
              s.metrics.map { case (k, m) => s"$k=${m.value}" }
                .mkString(", ")).mkString("\n"))
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("SharedPairs artifact survives the JVM: disk reuse, no rebuild, same pairs") {
    // round-12 verdict #4: the shared pair index must live at the
    // warehouse boundary, not a JVM temp dir — a restarted curation
    // run (or the bench JVM after the verify JVM) reuses the on-disk
    // pairs instead of re-running the LSH sweep. The in-JVM map is
    // the only per-process state, so reset() simulates a fresh JVM;
    // reuse after it can only come from the disk artifact.
    withTempDir("pairidx_wh") { root =>
      try {
        // route the artifact into this test's temp root (the dynamic
        // override — warehouse.dir itself is a static conf)
        spark.conf.set("spark.graft.index.dir", s"$root/graft_pairs")
        graft.operators.SharedPairs.reset()
        val first = graft.operators.SharedPairs
          .textNearDupPairs(spark, sf)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(first.nonEmpty)
        val artifacts = new java.io.File(s"$root/graft_pairs")
          .listFiles().filter(_.getName.startsWith("text-"))
        assert(artifacts.length == 1, "expected one published text artifact")
        val keyFile = new java.io.File(artifacts.head, "_graft_key.txt")
        assert(keyFile.exists())
        val builtAt = keyFile.lastModified()
        // fresh "JVM": only the disk artifact remains
        graft.operators.SharedPairs.reset()
        val second = graft.operators.SharedPairs
          .textNearDupPairs(spark, sf)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(second == first)
        assert(keyFile.lastModified() == builtAt,
          "artifact was rebuilt instead of reused from disk")
        // param-mismatch safety: a corpus fingerprint is part of the
        // stored key, so a doctored key file must force a rebuild
        val w = new java.io.PrintWriter(keyFile, "UTF-8")
        try w.print("stale-key") finally w.close()
        graft.operators.SharedPairs.reset()
        val third = graft.operators.SharedPairs
          .textNearDupPairs(spark, sf)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(third == first)
        val keyFile2 = new java.io.File(s"$root/graft_pairs")
          .listFiles().filter(_.getName.startsWith("text-"))
          .head.toPath.resolve("_graft_key.txt").toFile
        val src = scala.io.Source.fromFile(keyFile2, "UTF-8")
        val stored = try src.mkString finally src.close()
        assert(stored != "stale-key", "stale artifact was trusted")
      } finally {
        spark.conf.unset("spark.graft.index.dir")
        graft.operators.SharedPairs.reset()
      }
    }
  }

  test("IVF-SQ8 index path answers exactly the q125 result on the harness corpus") {
    withTempDir("ivfsq8_q125") { dir =>
      val e = Tables.embeddings(spark, sf)
      // same build parameters as the q125/q126 entries — the stored
      // codes are int8CodesFrom of the same vectors, so the prerank
      // scores, survivor sets, and the exact decision must all match
      // the in-plan derivation bit for bit
      Similarity.buildIvfIndex(e, "vec_id", "embedding", dir,
        nLists = 16, assignments = 2)
      val fromIndex = Similarity.ivfSq8TopKFromIndex(spark,
          e.filter(col("vec_id") < 10), "vec_id", "embedding", dir,
          k = 10, nProbe = 12)
        .filter(col("rank") <= Curation.AnnOracleK)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      val q125 = Curation.q125EmbedAnnIvfSq8(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      assert(q125.nonEmpty)
      assert(fromIndex == q125,
        s"stored SQ8 path diverges from q125: missing "
          + s"${(q125 -- fromIndex).take(5)}, "
          + s"extra ${(fromIndex -- q125).take(5)}")
    }
  }

  test("IVF-SQ8 code scan is partition-pruned and never reads the float column") {
    withTempDir("ivfsq8_prune") { dir =>
      val e = Tables.embeddings(spark, sf)
      Similarity.buildIvfIndex(e, "vec_id", "embedding", dir,
        nLists = 16, assignments = 1)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val q = Similarity.ivfSq8TopKFromIndex(spark,
          e.filter(col("vec_id") === 0), "vec_id", "embedding", dir,
          k = 5, nProbe = 2)
        q.collect()
        val plan = q.queryExecution.executedPlan
        val scans = allScans(plan).filter(
          _.metadata.get("Location").exists(_.contains("assignments")))
        // two artifact scans by design: the codes-only prerank scan
        // and the survivors' float fetch
        assert(scans.size >= 2,
          s"expected code + float scans of the artifact in:\n$plan")
        // the serving read: at least one assignments scan whose
        // ReadSchema carries codes and NOT the float cv column —
        // that column-pruned scan IS the 4×-smaller int8 layout
        val codeScans = scans.filter { s =>
          val schema = s.requiredSchema.fieldNames.toSet
          schema.contains("codes") && !schema.contains("cv")
        }
        assert(codeScans.nonEmpty,
          "no codes-only scan (cv column not pruned from the prerank "
            + s"read):\n${scans.map(_.requiredSchema).mkString("\n")}")
        // every artifact scan (codes AND float fetch) is pruned to
        // the 2 probed of 16 list partitions
        scans.foreach { s =>
          assert(s.toString.contains("PartitionFilters") &&
            s.toString.contains("list_id") && s.toString.contains("IN"),
            s"assignments scan lacks static list_id filter:\n$s")
          assert(s.metrics("numPartitions").value == 2,
            s"expected 2 probed partitions read, got "
              + s"${s.metrics("numPartitions").value} in:\n$s")
        }
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("publish sweeps days-old orphaned same-family artifacts, spares fresh and foreign") {
    // round-13 advice: the artifact key embeds an mtime-based corpus
    // fingerprint, so every corpus rewrite publishes a NEW directory
    // and the old one is never addressed again — orphans accumulated
    // indefinitely without a sweep
    withTempDir("sweep_wh") { root =>
      try {
        spark.conf.set("spark.graft.index.dir", s"$root/graft_pairs")
        val wh = new java.io.File(s"$root/graft_pairs"); wh.mkdirs()
        val old = System.currentTimeMillis() - 8L * 86400000L
        val orphan = new java.io.File(wh, "text-feedfacefeedface")
        orphan.mkdirs()
        new java.io.File(orphan, "_GRAFT_OK").createNewFile()
        orphan.setLastModified(old)
        val crashed = new java.io.File(wh, ".build-text-dead-crashed")
        crashed.mkdirs(); crashed.setLastModified(old)
        val foreign = new java.io.File(wh, "ivf-0123456789abcdef")
        foreign.mkdirs(); foreign.setLastModified(old)
        val fresh = new java.io.File(wh, "text-0000000000000000")
        fresh.mkdirs()
        graft.operators.SharedPairs.reset()
        graft.operators.SharedPairs.textNearDupPairs(spark, sf).collect()
        assert(!orphan.exists(), "days-old same-family artifact not swept")
        assert(!crashed.exists(), "days-old crashed staging dir not swept")
        assert(foreign.exists(), "other-family artifact must survive")
        assert(fresh.exists(), "fresh same-family artifact must survive")
      } finally {
        spark.conf.unset("spark.graft.index.dir")
        graft.operators.SharedPairs.reset()
      }
    }
  }

  test("IVF append: batch rows land in the right lists, existing rows untouched, " +
    "meta-less dirs rejected") {
    withTempDir("ivf_append") { dir =>
      val e = Tables.embeddings(spark, sf)
      val existing = e.filter(col("vec_id") % 4 =!= 3)
      val batch = e.filter(col("vec_id") % 4 === 3)
      Similarity.buildIvfIndex(existing, "vec_id", "embedding", dir,
        nLists = 16, assignments = 2)
      val before = tbl(dir, "assignments.parquet")
        .select(col("neighbor_id"), col("list_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      Similarity.appendToIvfIndex(spark, batch, "vec_id", "embedding", dir)
      val after = tbl(dir, "assignments.parquet")
        .select(col("neighbor_id"), col("list_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      // existing assignments are byte-for-byte untouched…
      assert(before.subsetOf(after), "append disturbed existing rows")
      // …and every batch vector landed with the stored redundancy
      val appended = after -- before
      val batchIds = batch.select(col("vec_id")).collect()
        .map(_.getLong(0)).toSet
      assert(appended.map(_._1) == batchIds,
        "appended ids differ from the batch")
      val perId = appended.groupBy(_._1).map(_._2.size).toSet
      assert(perId == Set(2),
        s"batch rows not stored at assignments=2: $perId")
      // a dir without _meta.json (pre-meta artifact or manual copy)
      // must fail loudly, not guess a redundancy
      new java.io.File(dir, "_meta.json").delete()
      val err = intercept[IllegalArgumentException] {
        Similarity.appendToIvfIndex(spark, batch, "vec_id",
          "embedding", dir)
      }
      assert(err.getMessage.contains("_meta.json"))
    }
  }

  test("PQ index path answers exactly the q130 result, code scan never reads floats") {
    withTempDir("pq_q130") { dir =>
      val e = Tables.embeddings(spark, sf)
      Similarity.buildPqIndex(e, "vec_id", "embedding", dir, ks = 64)
      val q = Similarity.pqTopKFromIndex(spark,
        e.filter(col("vec_id") < 10), "vec_id", "embedding", dir,
        k = 10, rerank = 1024)
      val fromIndex = q
        .filter(col("rank") <= Curation.AnnOracleK)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      val q130 = Curation.q130EmbedAnnPq(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      assert(q130.nonEmpty)
      assert(fromIndex == q130,
        s"stored PQ path diverges from q130: missing "
          + s"${(q130 -- fromIndex).take(5)}, "
          + s"extra ${(fromIndex -- q130).take(5)}")
      // serving-read contract: the prerank scan of codes.parquet
      // reads (codes, xnorm) and never materializes the float column
      q.collect()
      val scans = allScans(q.queryExecution.executedPlan).filter(
        _.metadata.get("Location").exists(_.contains("codes.parquet")))
      assert(scans.nonEmpty)
      val codeScans = scans.filter { sc =>
        val f = sc.requiredSchema.fieldNames.toSet
        f.contains("codes") && !f.contains("cv")
      }
      assert(codeScans.nonEmpty,
        "no codes-only scan (cv not pruned from the PQ prerank read):\n"
          + scans.map(_.requiredSchema).mkString("\n"))
      // geometry comes from the artifact, and its absence fails
      // loudly — a caller-side ks/m mismatch would otherwise
      // silently misalign the positional ADC table
      new java.io.File(dir, "_meta.json").delete()
      val err = intercept[IllegalArgumentException] {
        Similarity.pqTopKFromIndex(spark,
          e.filter(col("vec_id") < 10), "vec_id", "embedding", dir,
          k = 10)
      }
      assert(err.getMessage.contains("_meta.json"))
    }
  }

  test("PQ append: batch rows encoded against fixed books, existing rows " +
    "untouched, meta-less dirs rejected") {
    withTempDir("pq_append") { dir =>
      val e = Tables.embeddings(spark, sf)
      val existing = e.filter(col("vec_id") % 4 =!= 3)
      val batch = e.filter(col("vec_id") % 4 === 3)
      Similarity.buildPqIndex(existing, "vec_id", "embedding", dir,
        ks = 16)
      def snapshot() = tbl(dir, "codes.parquet")
        .select(col("neighbor_id"), col("codes"), col("xnorm"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1).toList, r.getDouble(2)))
        .toSet
      val before = snapshot()
      val booksBefore = spark.read.parquet(s"$dir/books.parquet")
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      Similarity.appendToPqIndex(spark, batch, "vec_id", "embedding", dir)
      val after = snapshot()
      // existing code rows are byte-for-byte untouched…
      assert(before.subsetOf(after), "append disturbed existing rows")
      // …the books artifact is untouched (encoding is against FIXED
      // books — the identity that makes append ≡ union-corpus encode)
      assert(spark.read.parquet(s"$dir/books.parquet")
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
        == booksBefore, "append modified the codebooks")
      // …and every batch vector landed exactly once with a complete
      // m-byte code
      val appended = after -- before
      val batchIds = batch.select(col("vec_id")).collect()
        .map(_.getLong(0)).toSet
      assert(appended.map(_._1) == batchIds,
        "appended ids differ from the batch")
      assert(appended.forall(_._2.size == 8),
        "appended rows carry incomplete codes")
      // a meta-less dir (pre-meta artifact or manual copy) must fail
      // loudly, not guess the geometry
      new java.io.File(dir, "_meta.json").delete()
      val err = intercept[IllegalArgumentException] {
        Similarity.appendToPqIndex(spark, batch, "vec_id",
          "embedding", dir)
      }
      assert(err.getMessage.contains("_meta.json"))
    }
  }

  test("IVF-PQ composed index: exact top-K served, ADC reads probed partitions " +
    "only and never the float column") {
    withTempDir("ivfpq_idx") { dir =>
      val e = Tables.embeddings(spark, sf)
      Similarity.buildIvfPqIndex(e, "vec_id", "embedding", dir,
        nLists = 16, assignments = 2, ks = 64, pqIterations = 1)
      // the q134 gate's contract: the composed probe → ADC → exact
      // rerank stack answers the exact brute-force top-AnnOracleK
      val served = Similarity.ivfPqTopKFromIndex(spark,
          e.filter(col("vec_id") < 10), "vec_id", "embedding", dir,
          k = 10, nProbe = 12, rerank = 1024)
        .filter(col("rank") <= Curation.AnnOracleK)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      val exact = Similarity.bruteForceTopK(
          e.filter(col("vec_id") < 10), e, "vec_id", "embedding", 10)
        .filter(col("rank") <= Curation.AnnOracleK)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      assert(exact.nonEmpty)
      assert(served == exact,
        s"IVFADC diverges from exact KNN: missing ${(exact -- served).take(5)}"
          + s", extra ${(served -- exact).take(5)}")
      // plan contract at nProbe=2: both artifact scans (ADC prerank
      // and survivor float fetch) pruned to the 2 probed of 16 list
      // partitions; the prerank scan reads codes+xnorm, never cv —
      // the two economies (partition prune × column prune) composed
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val q = Similarity.ivfPqTopKFromIndex(spark,
          e.filter(col("vec_id") === 0), "vec_id", "embedding", dir,
          k = 5, nProbe = 2, rerank = 64)
        q.collect()
        val scans = allScans(q.queryExecution.executedPlan).filter(
          _.metadata.get("Location").exists(_.contains("assignments")))
        assert(scans.size >= 2,
          s"expected code + float scans of the artifact in:\n"
            + q.queryExecution.executedPlan)
        val codeScans = scans.filter { s =>
          val f = s.requiredSchema.fieldNames.toSet
          f.contains("codes") && !f.contains("cv")
        }
        assert(codeScans.nonEmpty,
          "no codes-only scan (cv not pruned from the ADC prerank read):\n"
            + scans.map(_.requiredSchema).mkString("\n"))
        scans.foreach { s =>
          assert(s.toString.contains("PartitionFilters") &&
            s.toString.contains("list_id") && s.toString.contains("IN"),
            s"assignments scan lacks static list_id filter:\n$s")
          assert(s.metrics("numPartitions").value == 2,
            s"expected 2 probed partitions read, got "
              + s"${s.metrics("numPartitions").value} in:\n$s")
        }
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      // the meta discipline: geometry comes from the artifact, and a
      // meta-less dir (partial build / manual copy) fails loudly
      new java.io.File(dir, "_meta.json").delete()
      val err = intercept[IllegalArgumentException] {
        Similarity.ivfPqTopKFromIndex(spark,
          e.filter(col("vec_id") < 10), "vec_id", "embedding", dir,
          k = 10)
      }
      assert(err.getMessage.contains("_meta.json"))
    }
  }

  test("BM25 index path answers exactly the q137 result, scans pruned to " +
    "query-term prefixes, meta-less dirs rejected") {
    withTempDir("bm25_idx") { dir =>
      val docs = Tables.documents(spark, sf)
      graft.operators.Retrieval.buildBm25Index(docs, "doc_id", "text", dir)
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(
            graft.operators.Retrieval.alnumTokens(col("text")), 1, 5))
            .as("qtext"))
        .localCheckpoint(true)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      val fromIndex = rows(graft.operators.Retrieval.bm25TopKFromIndex(
        spark, queries, "query_id", "qtext", dir, k = 10))
      val inPlan = rows(Curation.q137Bm25TopK(spark, sf))
      assert(inPlan.nonEmpty)
      assert(fromIndex == inPlan,
        s"stored BM25 diverges from q137: missing "
          + s"${(inPlan -- fromIndex).take(5)}, "
          + s"extra ${(fromIndex -- inPlan).take(5)}")
      // read-side economics: both artifact scans (postings + dfs)
      // carry static pfx partition filters and read exactly the
      // probed prefix partitions
      val prefixes = queries
        .select(explode(graft.operators.Retrieval.alnumTokens(
          col("qtext"))).as("t"))
        .select(substring(col("t"), 1, 1)).distinct()
        .collect().map(_.getString(0)).toSet
      val totalPfx = tbl(dir, "postings.parquet")
        .select(col("pfx")).distinct().count()
      assert(prefixes.size < totalPfx,
        "fixture degenerate: queries probe every prefix partition")
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val q = graft.operators.Retrieval.bm25TopKFromIndex(
          spark, queries, "query_id", "qtext", dir, k = 10)
        q.collect()
        val scans = allScans(q.queryExecution.executedPlan).filter(
          _.metadata.get("Location").exists(l =>
            l.contains("postings") || l.contains("dfs")))
        assert(scans.size >= 2, "expected postings + dfs scans")
        scans.foreach { s =>
          assert(s.toString.contains("PartitionFilters") &&
            s.toString.contains("pfx") && s.toString.contains("IN"),
            s"artifact scan lacks static pfx filter:\n$s")
          assert(s.metrics("numPartitions").value == prefixes.size,
            s"expected ${prefixes.size} probed prefix partitions, got "
              + s"${s.metrics("numPartitions").value} in:\n$s")
        }
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      // the meta discipline
      new java.io.File(dir, "_meta.json").delete()
      val err = intercept[IllegalArgumentException] {
        graft.operators.Retrieval.bm25TopKFromIndex(
          spark, queries, "query_id", "qtext", dir, k = 10)
      }
      assert(err.getMessage.contains("_meta.json"))
    }
  }

  test("BM25 append: postings appended, dfs merged additively, equals the " +
    "union-corpus build row for row") {
    withTempDir("bm25_append") { dir =>
      val docs = Tables.documents(spark, sf)
      val existing = docs.filter(col("doc_id") % 4 =!= 3)
      val batch = docs.filter(col("doc_id") % 4 === 3)
      graft.operators.Retrieval.buildBm25Index(existing,
        "doc_id", "text", s"$dir/a")
      val postingsBefore = tbl(s"$dir/a", "postings.parquet")
        .select(col("term"), col("doc_id"), col("tf"), col("len"))
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSet
      graft.operators.Retrieval.appendToBm25Index(spark, batch,
        "doc_id", "text", s"$dir/a")
      // the appended index must BE the union-corpus build: postings,
      // merged dfs, and meta all reproduce the one-shot derivation
      graft.operators.Retrieval.buildBm25Index(docs,
        "doc_id", "text", s"$dir/b")
      def postings(d: String) = tbl(d, "postings.parquet")
        .select(col("term"), col("doc_id"), col("tf"), col("len"))
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSet
      // the SERVED df view: signed segments sum-merged (the append
      // writes its stats as one more segment, round-20)
      def dfs(d: String) = graft.operators.Retrieval.storedDfs(spark, d)
        .select(col("term"), col("df"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val pA = postings(s"$dir/a")
      assert(postingsBefore.subsetOf(pA), "append disturbed existing rows")
      assert(pA == postings(s"$dir/b"),
        "appended postings diverge from the union build")
      assert(dfs(s"$dir/a") == dfs(s"$dir/b"),
        "merged dfs diverge from the union build")
      assert(java.nio.file.Files.readString(metaPathOf(s"$dir/a"))
        == java.nio.file.Files.readString(metaPathOf(s"$dir/b")),
        "merged corpus stats diverge from the union build")
      // and serving from the appended index equals the union ranking
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(
            graft.operators.Retrieval.alnumTokens(col("text")), 1, 5))
            .as("qtext"))
        .localCheckpoint(true)
      def served(d: String) = graft.operators.Retrieval
        .bm25TopKFromIndex(spark, queries, "query_id", "qtext", d, k = 10)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      assert(served(s"$dir/a") == served(s"$dir/b"))
      // the id ledger must ALSO equal the union build's (the dup
      // guard's ground truth — round-16 advice: the append≡build
      // comparison previously skipped ids.parquet)
      def ids(d: String) = tbl(d, "ids.parquet")
        .collect().map(_.getLong(0)).toSet
      assert(ids(s"$dir/a") == ids(s"$dir/b"),
        "appended id ledger diverges from the union build")
      // the dfs dynamic-partition rewrite must be per-write scoped:
      // the SESSION conf is never toggled (round-16 verdict — a
      // concurrent writer must not inherit DYNAMIC)
      assert(spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "STATIC")
        .equalsIgnoreCase("static"),
        "appendToBm25Index leaked partitionOverwriteMode into the session")
      // APPEND-ONLY contract: re-ingesting an already-indexed id
      // would double-count df/nDocs and move every score — must
      // refuse loudly against the stored id ledger
      val dup = intercept[IllegalArgumentException] {
        graft.operators.Retrieval.appendToBm25Index(spark, batch,
          "doc_id", "text", s"$dir/a")
      }
      assert(dup.getMessage.contains("append-only"))
      // a batch carrying one NEW id twice fails the intra-batch guard
      // (round-17 ADVICE: the ledger probe only sees previously
      // indexed ids, so a within-batch duplicate would double-count
      // df/nDocs just like a re-ingest)
      import spark.implicits._
      val dupBatch = intercept[IllegalArgumentException] {
        graft.operators.Retrieval.appendToBm25Index(spark,
          Seq((800001L, "alpha beta"), (800001L, "gamma delta"))
            .toDF("doc_id", "text"), "doc_id", "text", s"$dir/a")
      }
      assert(dupBatch.getMessage.contains("duplicated ids"))
      // a version-less meta (a pre-round-17 external artifact whose
      // dfs.parquet lacks the pruning bounds) fails with the
      // rebuild-the-index message, not a missing-column
      // AnalysisException deep inside serving (round-17 ADVICE)
      val metaPath = metaPathOf(s"$dir/a")
      val metaNow = java.nio.file.Files.readString(metaPath)
      java.nio.file.Files.writeString(metaPath,
        metaNow.replaceFirst("\"version\":2,", ""))
      val verr = intercept[IllegalArgumentException] {
        graft.operators.Retrieval.bm25TopKFromIndex(
          spark, queries, "query_id", "qtext", s"$dir/a", k = 10)
      }
      assert(verr.getMessage.contains("rebuild") &&
        verr.getMessage.contains("version"))
      java.nio.file.Files.writeString(metaPath, metaNow)
      // an empty batch is a no-op cycle, not an NPE (sum over zero
      // posting rows is null) — index unchanged
      val metaBefore = java.nio.file.Files.readString(
        metaPathOf(s"$dir/a"))
      graft.operators.Retrieval.appendToBm25Index(spark,
        docs.filter(col("doc_id") < 0), "doc_id", "text", s"$dir/a")
      assert(java.nio.file.Files.readString(
        metaPathOf(s"$dir/a")) == metaBefore)
      assert(postings(s"$dir/a") == postings(s"$dir/b"),
        "empty append disturbed the postings")
      // a batch whose docs tokenize to ZERO terms changes no
      // postings/dfs/stats but must still be LEDGERED — build
      // ledgers every id regardless of token count, and an
      // unledgered id would pass the dup guard on re-ingest
      // (round-16 advice)
      import spark.implicits._
      val zeroTok = Seq((900001L, "!!! ...")).toDF("doc_id", "text")
      graft.operators.Retrieval.appendToBm25Index(spark, zeroTok,
        "doc_id", "text", s"$dir/a")
      assert(java.nio.file.Files.readString(
        metaPathOf(s"$dir/a")) == metaBefore,
        "zero-token append changed corpus stats")
      assert(ids(s"$dir/a").contains(900001L),
        "zero-token batch ids missing from the ledger")
      val zdup = intercept[IllegalArgumentException] {
        graft.operators.Retrieval.appendToBm25Index(spark, zeroTok,
          "doc_id", "text", s"$dir/a")
      }
      assert(zdup.getMessage.contains("append-only"))
      // meta discipline (delete the RESOLVED meta — appends replace
      // it as an epoch-named file)
      java.nio.file.Files.delete(metaPathOf(s"$dir/a"))
      val err = intercept[IllegalArgumentException] {
        graft.operators.Retrieval.appendToBm25Index(spark, batch,
          "doc_id", "text", s"$dir/a")
      }
      assert(err.getMessage.contains("_meta.json"))
    }
  }

  test("BM25 tombstone deletes: delete ≡ rebuild-without, purge restores " +
    "re-ingestability") {
    withTempDir("bm25_delete") { dir =>
      val docs = Tables.documents(spark, sf)
      val keep = docs.filter(col("doc_id") % 4 =!= 1)
      val gone = docs.filter(col("doc_id") % 4 === 1)
      graft.operators.Retrieval.buildBm25Index(docs,
        "doc_id", "text", s"$dir/a")
      graft.operators.Retrieval.deleteFromBm25Index(spark, gone,
        "doc_id", "text", s"$dir/a")
      graft.operators.Retrieval.buildBm25Index(keep,
        "doc_id", "text", s"$dir/b")
      def queriesOf(corpus: org.apache.spark.sql.DataFrame) =
        corpus.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"),
            concat_ws(" ", slice(
              graft.operators.Retrieval.alnumTokens(col("text")), 1, 5))
              .as("qtext"))
          .localCheckpoint(true)
      val qKeep = queriesOf(keep)
      def served(d: String, q: org.apache.spark.sql.DataFrame) =
        graft.operators.Retrieval
          .bm25TopKFromIndex(spark, q, "query_id", "qtext", d, k = 10)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
            r.getInt(3))).toSet
      assert(served(s"$dir/a", qKeep) == served(s"$dir/b", qKeep),
        "tombstone delete diverges from the rebuild-without ranking")
      // df subtraction is exact (bounds stay conservative — compare
      // the score-bearing columns only) and corpus stats subtract
      def dfs(d: String) = graft.operators.Retrieval.storedDfs(spark, d)
        .select(col("term"), col("df"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(dfs(s"$dir/a") == dfs(s"$dir/b"),
        "subtracted dfs diverge from the rebuild-without dfs")
      assert(java.nio.file.Files.readString(metaPathOf(s"$dir/a"))
        == java.nio.file.Files.readString(metaPathOf(s"$dir/b")),
        "subtracted corpus stats diverge")
      // guards: tombstoned re-ingest (purge first), double delete,
      // deleting an unindexed doc
      val goneSlice = gone.filter(col("doc_id") < 20)
        .localCheckpoint(true)
      val ghost = intercept[IllegalArgumentException] {
        graft.operators.Retrieval.appendToBm25Index(spark, goneSlice,
          "doc_id", "text", s"$dir/a")
      }
      assert(ghost.getMessage.contains("purge"))
      val dd = intercept[IllegalArgumentException] {
        graft.operators.Retrieval.deleteFromBm25Index(spark, goneSlice,
          "doc_id", "text", s"$dir/a")
      }
      assert(dd.getMessage.contains("already tombstoned"))
      import spark.implicits._
      val un = intercept[IllegalArgumentException] {
        graft.operators.Retrieval.deleteFromBm25Index(spark,
          Seq((990001L, "never here")).toDF("doc_id", "text"),
          "doc_id", "text", s"$dir/a")
      }
      assert(un.getMessage.contains("never ingested"))
      // purge physically reclaims the tombstoned rows; serving
      // unchanged; the purged ids become re-ingestable, restoring the
      // full-corpus index exactly
      val (pb, pa) = graft.operators.Retrieval
        .purgeBm25Deletes(spark, s"$dir/a")
      assert(pb > pa && pa > 0, s"purge receipt ($pb, $pa)")
      assert(served(s"$dir/a", qKeep) == served(s"$dir/b", qKeep),
        "purge changed the served ranking")
      assert(graft.operators.Retrieval
        .purgeBm25Deletes(spark, s"$dir/a") == ((0L, 0L)))
      graft.operators.Retrieval.appendToBm25Index(spark, gone,
        "doc_id", "text", s"$dir/a")
      graft.operators.Retrieval.buildBm25Index(docs,
        "doc_id", "text", s"$dir/c")
      val qFull = queriesOf(docs)
      assert(served(s"$dir/a", qFull) == served(s"$dir/c", qFull),
        "delete → purge → re-ingest diverges from the fresh build")
      assert(dfs(s"$dir/a") == dfs(s"$dir/c"))
    }
  }

  test("partition compaction: multi-cycle appends collapse to one file " +
    "per partition, content and serving identical") {
    withTempDir("compact") { dir =>
      val docs = Tables.documents(spark, sf)
      // three append cycles of disjoint batches (the %4===3 batch
      // split into %8 slices) — each cycle adds a part-file per
      // touched prefix partition
      graft.operators.Retrieval.buildBm25Index(
        docs.filter(col("doc_id") % 4 =!= 3), "doc_id", "text", dir)
      graft.operators.Retrieval.appendToBm25Index(spark,
        docs.filter(col("doc_id") % 8 === 3), "doc_id", "text", dir)
      graft.operators.Retrieval.appendToBm25Index(spark,
        docs.filter(col("doc_id") % 8 === 7), "doc_id", "text", dir)
      def postingsPath = graft.operators.Warehouse.indexSnapshot(dir)
        .path("postings.parquet") // single-segment AFTER compaction
      def postings() = tbl(dir, "postings.parquet")
        .select(col("term"), col("doc_id"), col("tf"), col("len"))
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSet
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(
            graft.operators.Retrieval.alnumTokens(col("text")), 1, 5))
            .as("qtext"))
        .localCheckpoint(true)
      def served() = graft.operators.Retrieval
        .bm25TopKFromIndex(spark, queries, "query_id", "qtext", dir,
          k = 10)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      val pBefore = postings()
      val sBefore = served()
      assert(sBefore.nonEmpty)
      val (fb, fa) = graft.operators.Warehouse.compactIndexPartitions(
        spark, dir, "postings.parquet", "pfx")
      assert(fb > fa && fa > 0,
        s"append cycles should leave multi-file partitions: $fb -> $fa")
      // every compacted partition is now ONE file (resolved through
      // the manifest — the table moved to an epoch dir, round-19)
      val stillMulti = new java.io.File(postingsPath)
        .listFiles().filter(d => d.isDirectory &&
          d.getName.startsWith("pfx=") &&
          d.listFiles().count(_.getName.startsWith("part-")) > 1)
      assert(stillMulti.isEmpty,
        s"partitions left uncompacted: ${stillMulti.map(_.getName).toSeq}")
      // content and serving identity
      assert(postings() == pBefore, "compaction changed postings rows")
      assert(served() == sBefore, "compaction changed the served ranking")
      // idempotent: a compacted dir is a no-op
      assert(graft.operators.Warehouse.compactIndexPartitions(
        spark, dir, "postings.parquet", "pfx") == ((0, 0)))
    }
  }

  test("partition compaction on the IVF assignments layout (int " +
    "partition column)") {
    withTempDir("compact_ivf") { dir =>
      val e = Tables.embeddings(spark, sf)
      Similarity.buildIvfIndex(e.filter(col("vec_id") % 4 =!= 3),
        "vec_id", "embedding", dir, nLists = 16, assignments = 2)
      Similarity.appendToIvfIndex(spark,
        e.filter(col("vec_id") % 8 === 3), "vec_id", "embedding", dir)
      Similarity.appendToIvfIndex(spark,
        e.filter(col("vec_id") % 8 === 7), "vec_id", "embedding", dir)
      val queries = e.filter(col("vec_id") < 10).localCheckpoint(true)
      def served() = Similarity.ivfTopKFromIndex(spark, queries,
          "vec_id", "embedding", dir, k = 10, nProbe = 12)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      val sBefore = served()
      assert(sBefore.nonEmpty)
      val (fb, fa) = graft.operators.Warehouse.compactIndexPartitions(
        spark, dir, "assignments.parquet", "list_id")
      assert(fb > fa && fa > 0, s"expected multi-file lists: $fb -> $fa")
      assert(served() == sBefore,
        "compaction changed the served IVF ranking")
    }
  }

  test("object-store index root is rejected loudly at configuration time") {
    // round-14 missing #3: the commit protocol rests on POSIX rename
    // atomicity, advisory file locks, and dir mtimes — none of which
    // S3/GCS provide. A configured object-store root must fail fast
    // with the protocol explanation, never corrupt silently under
    // concurrent builders.
    try {
      for (bad <- Seq("s3://bucket/graft_pairs", "gs://b/x",
          "s3a://bucket/prefix", "hdfs://nn:8020/graft",
          // the no-slash no-authority URI form must not slip past
          // the guard into a literally-named local dir
          "s3:bucket/graft_pairs")) {
        spark.conf.set("spark.graft.index.dir", bad)
        val e = intercept[IllegalArgumentException] {
          graft.operators.Warehouse.indexRoot(spark)
        }
        assert(e.getMessage.contains("not supported") &&
          e.getMessage.contains("POSIX"), s"wrong message for $bad")
      }
      // a file: URI decodes to its local path; plain paths pass through
      spark.conf.set("spark.graft.index.dir", "file:///tmp/graft_ok")
      assert(graft.operators.Warehouse.indexRoot(spark)
        == "/tmp/graft_ok")
      spark.conf.set("spark.graft.index.dir", "/tmp/graft_ok2")
      assert(graft.operators.Warehouse.indexRoot(spark)
        == "/tmp/graft_ok2")
    } finally spark.conf.unset("spark.graft.index.dir")
  }

  test("a publisher that loses the race adopts the winner's artifact") {
    // Another JVM building the same key publishes first: by the time
    // this builder takes the publish lock, a completed, key-verified
    // artifact sits at the final name. The loser must serve the
    // winner's rows and drop its own staging dir, never replace a
    // live artifact that readers may already hold.
    withTempDir("adopt_wh") { root =>
      try {
        spark.conf.set("spark.graft.index.dir", s"$root/graft_pairs")
        graft.operators.SharedPairs.reset()
        import spark.implicits._
        val key = "race-key-adopt"
        var winner: java.io.File = null
        val dir = graft.operators.Warehouse.materializedDir(spark, "race",
            key) { d =>
          // staging is `.build-<final name>-<uuid>` next to the final dir
          val staging = new java.io.File(d)
          winner = new java.io.File(staging.getParentFile,
            staging.getName.stripPrefix(".build-").dropRight(37))
          Seq(("winner", 1)).toDF("who", "v")
            .write.parquet(s"$winner/pairs.parquet")
          java.nio.file.Files.writeString(
            new java.io.File(winner, "_graft_key.txt").toPath, key)
          new java.io.File(winner, "_GRAFT_OK").createNewFile()
          Seq(("loser", 2)).toDF("who", "v").write.parquet(s"$d/pairs.parquet")
        }
        assert(dir == winner.toString, s"served $dir, not the winner $winner")
        val who = spark.read.parquet(s"$dir/pairs.parquet")
          .collect().map(_.getString(0)).toSeq
        assert(who == Seq("winner"), s"rows of $who")
        val staged = new java.io.File(s"$root/graft_pairs").list()
          .filter(_.startsWith(".build-"))
        assert(staged.isEmpty, s"loser's staging dir left: ${staged.toSeq}")
      } finally {
        spark.conf.unset("spark.graft.index.dir")
        graft.operators.SharedPairs.reset()
      }
    }
  }

  test("cache hit refreshes last use and recovers from an external sweep") {
    // round-14 ADVICE: the in-JVM `built` cache handed out paths
    // without refreshing the last-use time (a long-lived JVM's
    // artifact could age into sweep eligibility while actively used),
    // and a path swept by another process stayed cached until the
    // scan failed. Both must self-heal on the next resolve.
    withTempDir("cachehit_wh") { root =>
      try {
        spark.conf.set("spark.graft.index.dir", s"$root/graft_pairs")
        graft.operators.SharedPairs.reset()
        graft.operators.SharedPairs.textNearDupPairs(spark, sf).collect()
        val art = new java.io.File(s"$root/graft_pairs")
          .listFiles().filter(_.getName.startsWith("text-")).head
        // age the artifact as if this JVM had been alive for 8 days…
        val old = System.currentTimeMillis() - 8L * 86400000L
        art.setLastModified(old)
        // …then resolve through the WARM cache (no reset): the hit
        // must refresh the last-use time, making it sweep-proof again
        graft.operators.SharedPairs.textNearDupPairs(spark, sf).collect()
        assert(art.lastModified() > old + 86400000L,
          "cache hit did not refresh the artifact's last-use time")
        // external sweep while cached: the next resolve must detect
        // the vanished artifact and rebuild instead of failing
        graft.operators.Warehouse.deleteRec(art)
        assert(!art.exists())
        val again = graft.operators.SharedPairs
          .textNearDupPairs(spark, sf)
          .collect()
        assert(again.nonEmpty,
          "stale cached path was not recovered after an external sweep")
        assert(art.exists(), "artifact was not republished")
      } finally {
        spark.conf.unset("spark.graft.index.dir")
        graft.operators.SharedPairs.reset()
      }
    }
  }

  test("near-dup index path answers exactly the q62 result on the harness corpus") {
    withTempDir("neardup_q62") { dir =>
      val docs = Tables.documents(spark, sf)
      val existing = docs.filter(
        substring(md5(col("text")), 1, 1) < Curation.Q62IncomingHex)
      val incoming = docs.filter(
        substring(md5(col("text")), 1, 1) >= Curation.Q62IncomingHex)
      TextDedup.buildNearDupIndex(existing, "doc_id", "text", dir)
      val fromIndex = TextDedup.incrementalNearDupPairsFromIndex(
          spark, incoming, dir, "doc_id", "text")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val q62 = Curation.q62DedupIncremental(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(q62.nonEmpty, "fixture produced no cross-side pairs")
      assert(fromIndex == q62,
        s"index path diverges from q62: missing ${(q62 -- fromIndex).take(5)}"
          + s", extra ${(fromIndex -- q62).take(5)}")
    }
  }

  test("near-dup index append: keys+grams equal the union build, existing " +
    "rows untouched, duplicate ingest refused, empty batch a no-op") {
    withTempDir("neardup_append") { dir =>
      val docs = Tables.documents(spark, sf)
      val existing = docs.filter(
        substring(md5(col("text")), 1, 1) < Curation.Q62IncomingHex)
      val initial = existing.filter(col("doc_id") % 4 =!= 3)
      val batch = existing.filter(col("doc_id") % 4 === 3)
      TextDedup.buildNearDupIndex(initial, "doc_id", "text", s"$dir/a")
      def keys(d: String) = tbl(d, "keys.parquet")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def grams(d: String) = tbl(d, "grams.parquet")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val keysBefore = keys(s"$dir/a")
      val gramsBefore = grams(s"$dir/a")
      TextDedup.appendToNearDupIndex(spark, batch, s"$dir/a",
        "doc_id", "text")
      // append ≡ the union-corpus build, row for row (band keys and
      // grams are doc-local — the q133/q135 identity shape)
      TextDedup.buildNearDupIndex(existing, "doc_id", "text", s"$dir/b")
      val keysA = keys(s"$dir/a")
      val gramsA = grams(s"$dir/a")
      assert(keysBefore.subsetOf(keysA) && gramsBefore.subsetOf(gramsA),
        "append disturbed existing index rows")
      assert(keysA == keys(s"$dir/b"),
        "appended band keys diverge from the union build")
      assert(gramsA == grams(s"$dir/b"),
        "appended grams diverge from the union build")
      // serving from the appended index answers the union-index
      // answer (and hence the q62 oracle the query entry gates)
      val incoming = docs.filter(
        substring(md5(col("text")), 1, 1) >= Curation.Q62IncomingHex)
      def served(d: String) = TextDedup
        .incrementalNearDupPairsFromIndex(spark, incoming, d,
          "doc_id", "text")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sA = served(s"$dir/a")
      assert(sA.nonEmpty && sA == served(s"$dir/b"))
      // duplicate ingest would double gram rows and corrupt every
      // Jaccard the doc joins — must refuse loudly
      val dup = intercept[IllegalArgumentException] {
        TextDedup.appendToNearDupIndex(spark, batch, s"$dir/a",
          "doc_id", "text")
      }
      assert(dup.getMessage.contains("append-only"))
      // a batch carrying one NEW id twice fails the intra-batch
      // guard (round-17 ADVICE — the stored-key probe cannot see it)
      import spark.implicits._
      val dupBatch = intercept[IllegalArgumentException] {
        TextDedup.appendToNearDupIndex(spark,
          Seq((700001L, "p q r s t u"), (700001L, "v w x y z a"))
            .toDF("doc_id", "text"), s"$dir/a", "doc_id", "text")
      }
      assert(dupBatch.getMessage.contains("duplicated ids"))
      // empty batch: a no-op cycle
      TextDedup.appendToNearDupIndex(spark,
        docs.filter(col("doc_id") < 0), s"$dir/a", "doc_id", "text")
      assert(keys(s"$dir/a") == keysA && grams(s"$dir/a") == gramsA,
        "empty append disturbed the index")
      // config discipline: a mismatched banding config is rejected
      // before any write (keys are meaningless across configs)
      val cfg = intercept[IllegalArgumentException] {
        TextDedup.appendToNearDupIndex(spark, batch, s"$dir/a",
          "doc_id", "text", n = 4)
      }
      assert(cfg.getMessage.contains("rebuild"))
    }
  }

  test("ledger compaction: 10 append cycles collapse to one part-file, " +
    "content identical, guards intact") {
    withTempDir("ledger_compact") { dir =>
      import spark.implicits._
      val docs = (0L until 8L)
        .map(i => (i, s"w$i x$i y$i z$i a b c")).toDF("doc_id", "text")
      TextDedup.buildSubstringIndex(docs, "doc_id", "text", 3, dir)
      for (c <- 1 to 10)
        TextDedup.appendToSubstringIndex(spark,
          Seq((1000L + c, s"m$c n$c o$c p$c")).toDF("doc_id", "text"),
          dir, "doc_id", "text")
      // resolve through the snapshot: appends land as SEGMENTS and
      // compaction folds them to one epoch dir (round-20)
      def parts = graft.operators.Warehouse.indexSnapshot(dir)
        .paths("ids.parquet")
        .flatMap(p => Option(new java.io.File(p).listFiles())
          .getOrElse(Array.empty[java.io.File]).toSeq)
        .count(f => f.isFile && f.getName.startsWith("part-"))
      def ids = tbl(dir, "ids.parquet")
        .collect().map(_.getLong(0)).sorted.toSeq
      val before = parts
      assert(before >= 11,
        s"10 cycles should leave >= 11 ledger part-files, got $before")
      val idsBefore = ids
      val (b, a) = graft.operators.Warehouse
        .compactUnpartitionedLedger(spark, dir, "ids.parquet")
      assert(b == before && a == 1, s"compaction receipt ($b, $a)")
      assert(parts == 1)
      assert(ids == idsBefore, "compaction changed the ledger content")
      // the dup guard still probes the compacted ledger
      val err = intercept[IllegalArgumentException] {
        TextDedup.appendToSubstringIndex(spark,
          Seq((1001L, "q r s t")).toDF("doc_id", "text"),
          dir, "doc_id", "text")
      }
      assert(err.getMessage.contains("append-only"))
      // idempotent: already compacted is a no-op
      assert(graft.operators.Warehouse.compactUnpartitionedLedger(
        spark, dir, "ids.parquet") == ((0, 0)))
    }
  }

  test("epoch snapshot isolation: a pre-maintenance reader's resolved " +
    "paths stay intact through the commit (old XOR new, never a mix), " +
    "a crashed op leaves the old layout untouched, grace = one commit") {
    withTempDir("epoch_iso") { dir =>
      import spark.implicits._
      val W = graft.operators.Warehouse
      val docs = (0L until 12L)
        .map(i => (i, s"alpha$i beta$i gamma common words here"))
        .toDF("doc_id", "text").localCheckpoint(true)
      graft.operators.Retrieval.buildBm25Index(docs, "doc_id", "text", dir)
      graft.operators.Retrieval.appendToBm25Index(spark,
        Seq((100L, "fresh batch words")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
      // the append minted the manifest (round-20: EVERY mutation
      // commits through it) — ids is now [legacy dir, one segment]
      assert(W.indexSnapshot(dir).tables.isDefined,
        "an append must mint the manifest")
      // 1. fold the ledger segments (a maintenance commit)
      val (lb, la) = W.compactUnpartitionedLedger(spark, dir, "ids.parquet")
      assert(lb > 1 && la == 1)
      val snap1 = W.indexSnapshot(dir)
      assert(snap1.path("ids.parquet") != s"$dir/ids.parquet",
        "compacted table must live in an epoch dir")
      // the superseded LEGACY ids dir was referenced by the outgoing
      // manifest — it survives this commit (one-commit reader grace;
      // round-20: the append's manifest made pre-compaction readers
      // snapshot-resolved, so their paths deserve grace too)
      assert(new java.io.File(s"$dir/ids.parquet").exists(),
        "the graced legacy ids dir must survive its superseding commit")
      // 2. crash simulation: a maintenance op that died BEFORE its
      // commit leaves stray epoch dirs and must change nothing a
      // reader can see
      val stray = new java.io.File(dir,
        W.epochDirName("postings.parquet"))
      stray.mkdirs()
      assert(!W.indexSnapshot(dir).paths("postings.parquet")
        .contains(stray.toString),
        "a crashed (uncommitted) op must not move any table")
      // 3. a delete (registers the tombstone ledger, epoch-named
      // under the manifest) followed by a purge — the multi-table
      // commit a concurrent reader must see atomically
      val gone = docs.filter(col("doc_id") % 2 === 1)
      graft.operators.Retrieval.deleteFromBm25Index(spark, gone,
        "doc_id", "text", dir)
      val preSnap = W.indexSnapshot(dir) // the mid-maintenance reader
      assert(preSnap.has("dels.parquet"))
      assert(preSnap.path("dels.parquet") != s"$dir/dels.parquet",
        "a ledger born under a manifest must be epoch-named")
      val prePostings = preSnap.paths("postings.parquet")
      val preDels = preSnap.path("dels.parquet")
      val goneIds = gone.select(col("doc_id")).collect()
        .map(_.getLong(0)).toSet
      val (pb, pa) = graft.operators.Retrieval.purgeBm25Deletes(spark, dir)
      assert(pb > pa && pa > 0)
      // the crash orphan was swept by the purge's commit
      assert(!stray.exists(), "orphan epoch dirs must be swept")
      // OLD-snapshot reader: every dir it resolved still exists
      // (one-commit grace) and together they serve the PRE-purge view
      // — tombstoned rows present, ledger listing them
      val oldPost = prePostings.map(spark.read.parquet(_))
        .reduce(_.unionByName(_))
        .select(col("doc_id")).distinct().collect()
        .map(_.getLong(0)).toSet
      assert(goneIds.subsetOf(oldPost),
        "old epoch must still hold the tombstoned rows")
      val oldDels = spark.read.parquet(preDels)
        .collect().map(_.getLong(0)).toSet
      assert(oldDels == goneIds)
      // NEW snapshot: purged postings, no ledger entry — never a mix
      val postSnap = W.indexSnapshot(dir)
      assert(!postSnap.has("dels.parquet"))
      assert(postSnap.paths("postings.parquet") != prePostings)
      val newPost = tbl(dir, "postings.parquet")
        .select(col("doc_id")).distinct().collect()
        .map(_.getLong(0)).toSet
      assert(goneIds.intersect(newPost).isEmpty,
        "new epoch must not hold purged rows")
      // 4. the TIME-FLOORED grace (round-19 verdict #3): with a
      // retention floor in force, even a commit that supersedes
      // sidecars (a BM25 delete replaces _meta.json) must NOT reclaim
      // the just-superseded epoch — two quick maintenance ops inside
      // the floor leave the first epoch's dirs on disk
      spark.conf.set("spark.graft.index.graceMinAgeSec", "3600")
      try {
        graft.operators.Retrieval.deleteFromBm25Index(spark,
          docs.filter(col("doc_id").isin(0L, 2L)), "doc_id", "text", dir)
        assert(prePostings.forall(p => new java.io.File(p).exists()) &&
          new java.io.File(preDels).exists(),
          "a commit inside the retention floor must not reclaim the " +
            "graced epoch")
      } finally
        spark.conf.set("spark.graft.index.graceMinAgeSec", "0")
      // 5. grace expiry: past the floor (0 here), the next
      // MAINTENANCE commit sweeps them
      graft.operators.Retrieval.appendToBm25Index(spark, gone,
        "doc_id", "text", dir) // purged ids re-appendable; adds files
      val (cb2, ca2) = W.compactIndexPartitions(spark, dir,
        "postings.parquet", "pfx")
      assert(cb2 > ca2, "re-append should leave multi-file partitions")
      // the SIGNED dfs table must refuse the concatenating compactor
      // (round-20 ADVICE): only Retrieval.compactBm25Dfs may fold it
      val signed = intercept[IllegalArgumentException] {
        W.compactIndexPartitions(spark, dir, "dfs.parquet", "pfx")
      }
      assert(signed.getMessage.contains("SIGNED"))
      assert(prePostings.forall(p => !new java.io.File(p).exists()),
        "past the floor and grace, the old epoch must be reclaimed")
      assert(!new java.io.File(preDels).exists())
    }
  }

  test("a LIVE reader serves uninterrupted THROUGH a concurrent " +
    "purge — the epoch guarantee, exercised with real overlap") {
    withTempDir("epoch_live") { dir =>
      import spark.implicits._
      val docs = (0L until 16L)
        .map(i => (i, s"live$i reader$i test$i common words"))
        .toDF("doc_id", "text").localCheckpoint(true)
      graft.operators.Retrieval.buildBm25Index(docs, "doc_id", "text", dir)
      // mint the manifest so the epoch (not legacy) semantics govern
      graft.operators.Retrieval.appendToBm25Index(spark,
        Seq((100L, "extra ledger file")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
      graft.operators.Warehouse
        .compactUnpartitionedLedger(spark, dir, "ids.parquet")
      graft.operators.Retrieval.deleteFromBm25Index(spark,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", dir)
      val queries = Seq((1L, "common words")).toDF("query_id", "qtext")
        .localCheckpoint(true)
      def served() = graft.operators.Retrieval
        .bm25TopKFromIndex(spark, queries, "query_id", "qtext", dir,
          k = 10)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      // serving content is IDENTICAL before and after the purge
      // (tombstone filter vs physical removal), so every successful
      // mid-purge serve must equal this — and the epoch claim is
      // that every serve SUCCEEDS (the old in-place rewrite made a
      // concurrent reader hit vanished part-files)
      val expected = served()
      assert(expected.nonEmpty)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val mismatches = new java.util.concurrent.atomic.AtomicInteger
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reader = new Thread(() => {
        while (!stop.get()) {
          try { if (served() != expected) mismatches.incrementAndGet() }
          catch { case t: Throwable => errs.add(t); stop.set(true) }
        }
      })
      reader.start()
      try {
        Thread.sleep(200) // let at least one pre-purge serve start
        val (pb, pa) = graft.operators.Retrieval
          .purgeBm25Deletes(spark, dir)
        assert(pb > pa && pa > 0)
        Thread.sleep(400) // post-purge overlap serves
      } finally {
        stop.set(true)
        reader.join(60000)
      }
      assert(errs.isEmpty,
        s"a live reader failed during the purge: ${errs.peek()}")
      assert(mismatches.get() == 0,
        s"${mismatches.get()} mid-purge serves returned a mixed view")
      assert(served() == expected)
    }
  }

  test("vector index tombstone deletes: deleted ids vanish from " +
    "IVF-SQ8/PQ/IVF-PQ serving, purge + re-append restores the " +
    "original ranking, guards refuse misuse") {
    val e = Tables.embeddings(spark, sf).localCheckpoint(true)
    val gone = e.filter(col("vec_id") % 4 === 1)
      .filter(col("vec_id") >= 10) // keep the query ids alive
      .localCheckpoint(true)
    val kept = e.join(gone.select(col("vec_id")), Seq("vec_id"),
      "left_anti").localCheckpoint(true)
    val queries = e.filter(col("vec_id") < 10).localCheckpoint(true)
    val goneIds = gone.select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    // ── IVF / IVF-SQ8 (one artifact serves both rungs)
    withTempDir("ivf_del") { dir =>
      Similarity.buildIvfIndex(e, "vec_id", "embedding", dir,
        nLists = 16, assignments = 2)
      val full = asSet(Similarity.ivfSq8TopKFromIndex(spark, queries,
        "vec_id", "embedding", dir, k = 10, nProbe = 12))
      Similarity.deleteFromIvfIndex(spark, gone, "vec_id", dir)
      val served = asSet(Similarity.ivfSq8TopKFromIndex(spark, queries,
        "vec_id", "embedding", dir, k = 10, nProbe = 12))
      assert(served.nonEmpty &&
        served.forall(r => !goneIds(r._2)),
        "deleted ids must vanish from served neighbors")
      // the remaining corpus's exact top-AnnOracleK still holds (the
      // q126 recall-gate contract, now post-delete)
      val exact = asSet(Similarity.bruteForceTopK(queries, kept,
          "vec_id", "embedding", k = 10)
        .filter(col("rank") <= Curation.AnnOracleK))
      assert(asSet(Similarity.ivfSq8TopKFromIndex(spark, queries,
          "vec_id", "embedding", dir, k = 10, nProbe = 12)
        .filter(col("rank") <= Curation.AnnOracleK)) == exact,
        "post-delete serving misses remaining-corpus exact neighbors")
      // guards: double delete, never-indexed id, tombstoned re-append
      assert(intercept[IllegalArgumentException] {
        Similarity.deleteFromIvfIndex(spark, gone, "vec_id", dir)
      }.getMessage.contains("already tombstoned"))
      assert(intercept[IllegalArgumentException] {
        Similarity.deleteFromIvfIndex(spark,
          Seq(987654321L).toDF("vec_id"), "vec_id", dir)
      }.getMessage.contains("never indexed"))
      assert(intercept[IllegalArgumentException] {
        Similarity.appendToIvfIndex(spark, gone, "vec_id",
          "embedding", dir)
      }.getMessage.contains("purge first"))
      // delete-everything refusal
      assert(intercept[IllegalArgumentException] {
        Similarity.deleteFromIvfIndex(spark, kept, "vec_id", dir)
      }.getMessage.contains("every indexed row"))
      // purge: physical reclaim, serving unchanged, re-append
      // restores the ORIGINAL full-corpus ranking exactly (same
      // centroids, deterministic assignment — the q133 identity)
      val (vb, va) = Similarity.purgeIvfDeletes(spark, dir)
      assert(vb > va && va > 0)
      assert(asSet(Similarity.ivfSq8TopKFromIndex(spark, queries,
        "vec_id", "embedding", dir, k = 10, nProbe = 12)) == served,
        "purge changed the served ranking")
      assert(Similarity.purgeIvfDeletes(spark, dir) == ((0L, 0L)))
      Similarity.appendToIvfIndex(spark, gone, "vec_id", "embedding", dir)
      assert(asSet(Similarity.ivfSq8TopKFromIndex(spark, queries,
        "vec_id", "embedding", dir, k = 10, nProbe = 12)) == full,
        "delete → purge → re-append diverges from the original index")
    }
    // ── flat PQ
    withTempDir("pq_del") { dir =>
      Similarity.buildPqIndex(e, "vec_id", "embedding", dir, ks = 16,
        iterations = 1)
      val full = asSet(Similarity.pqTopKFromIndex(spark, queries,
        "vec_id", "embedding", dir, k = 10))
      Similarity.deleteFromPqIndex(spark, gone, "vec_id", dir)
      val served = asSet(Similarity.pqTopKFromIndex(spark, queries,
        "vec_id", "embedding", dir, k = 10))
      assert(served.nonEmpty && served.forall(r => !goneIds(r._2)))
      val (vb, va) = Similarity.purgePqDeletes(spark, dir)
      assert(vb > va && va > 0)
      Similarity.appendToPqIndex(spark, gone, "vec_id", "embedding", dir)
      assert(asSet(Similarity.pqTopKFromIndex(spark, queries,
        "vec_id", "embedding", dir, k = 10)) == full,
        "PQ delete → purge → re-append diverges from the original")
    }
    // ── IVF-PQ (IVFADC)
    withTempDir("ivfpq_del") { dir =>
      Similarity.buildIvfPqIndex(e, "vec_id", "embedding", dir,
        nLists = 16, assignments = 2, ks = 16, pqIterations = 1)
      val full = asSet(Similarity.ivfPqTopKFromIndex(spark, queries,
        "vec_id", "embedding", dir, k = 10, nProbe = 12))
      Similarity.deleteFromIvfPqIndex(spark, gone, "vec_id", dir)
      val served = asSet(Similarity.ivfPqTopKFromIndex(spark, queries,
        "vec_id", "embedding", dir, k = 10, nProbe = 12))
      assert(served.nonEmpty && served.forall(r => !goneIds(r._2)))
      val (vb, va) = Similarity.purgeIvfPqDeletes(spark, dir)
      assert(vb > va && va > 0)
      Similarity.appendToIvfPqIndex(spark, gone, "vec_id",
        "embedding", dir)
      assert(asSet(Similarity.ivfPqTopKFromIndex(spark, queries,
        "vec_id", "embedding", dir, k = 10, nProbe = 12)) == full,
        "IVF-PQ delete → purge → re-append diverges from the original")
    }
  }

  test("near-dup index tombstone deletes: delete ≡ rebuild-without " +
    "exactly, purge + re-append restores, guards refuse misuse") {
    withTempDir("nd_del") { dir =>
      import spark.implicits._
      val docs = Tables.documents(spark, sf)
        .filter(col("doc_id") < 300).localCheckpoint(true)
      val gone = docs.filter(col("doc_id") % 4 === 1).localCheckpoint(true)
      val keptDocs = docs.filter(col("doc_id") % 4 =!= 1)
      val incoming = docs.filter(col("doc_id") < 60)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
        .localCheckpoint(true)
      def pairs(d: String) = TextDedup
        .incrementalNearDupPairsFromIndex(spark, incoming, d,
          "doc_id", "text", minJaccard = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      TextDedup.buildNearDupIndex(docs, "doc_id", "text", s"$dir/a")
      TextDedup.buildNearDupIndex(keptDocs, "doc_id", "text", s"$dir/b")
      val fullPairs = pairs(s"$dir/a")
      assert(fullPairs.nonEmpty)
      TextDedup.deleteFromNearDupIndex(spark, gone, s"$dir/a", "doc_id")
      // EXACT rebuild-without identity: keys/grams are doc-local, so
      // the tombstone-filtered index answers the kept-only build bit
      // for bit
      assert(pairs(s"$dir/a") == pairs(s"$dir/b"),
        "near-dup delete diverges from the rebuild-without index")
      // guards
      assert(intercept[IllegalArgumentException] {
        TextDedup.deleteFromNearDupIndex(spark, gone, s"$dir/a", "doc_id")
      }.getMessage.contains("already tombstoned"))
      assert(intercept[IllegalArgumentException] {
        TextDedup.deleteFromNearDupIndex(spark,
          Seq((987654321L, "x")).toDF("doc_id", "text"), s"$dir/a",
          "doc_id")
      }.getMessage.contains("never indexed"))
      assert(intercept[IllegalArgumentException] {
        TextDedup.appendToNearDupIndex(spark, gone, s"$dir/a",
          "doc_id", "text")
      }.getMessage.contains("purge first"))
      // purge reclaims; re-append restores the full index exactly
      val (gb, ga) = TextDedup.purgeNearDupDeletes(spark, s"$dir/a")
      assert(gb > ga && ga > 0)
      assert(pairs(s"$dir/a") == pairs(s"$dir/b"),
        "purge changed the served pairs")
      assert(TextDedup.purgeNearDupDeletes(spark, s"$dir/a") == ((0L, 0L)))
      TextDedup.appendToNearDupIndex(spark, gone, s"$dir/a",
        "doc_id", "text")
      assert(pairs(s"$dir/a") == fullPairs,
        "delete → purge → re-append diverges from the original index")
    }
  }

  test("substring index serving scans only the narrow (d, df) segment columns") {
    withTempDir("ssidx_read") { dir =>
      val docs = Tables.documents(spark, sf)
      TextDedup.buildSubstringIndex(docs, "doc_id", "text",
        graft.operators.Curation.Q147SpanLen, dir)
      val q = TextDedup.substringSpansFromIndex(spark, docs,
        "doc_id", "text", dir)
      q.collect()
      val scans = allScans(q.queryExecution.executedPlan).filter(
        _.metadata.get("Location").exists(_.contains("wdf.parquet")))
      assert(scans.nonEmpty, "no wdf.parquet scan found in the plan")
      // the dup-digest merge reads exactly the two data columns — the
      // partition key resolves from directory names, and nothing else
      // exists to leak, so this pins the segment rows staying narrow
      assert(scans.forall(
          _.requiredSchema.fieldNames.toSet == Set("d", "df")),
        scans.map(_.requiredSchema).mkString("\n"))
    }
  }
}
