package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Warehouse-boundary artifact store: build-once-reuse-forever parquet
  * artifacts keyed by (family, full parameter+corpus key), shared by
  * [[SharedPairs]] (near-dup pair tables) and the q112 foreign-media
  * fixture. The mechanics — atomic publish, stored-key verification,
  * corpus fingerprinting — exist so a RESTARTED run (new JVM) reuses
  * the on-disk artifact instead of re-running the build, and so a
  * parameter or corpus mismatch can never silently serve stale data:
  * the full key is stored in `_graft_key.txt` inside the artifact and
  * re-checked on every reuse; a mismatch rebuilds, never trusts.
  *
  * Publication is an atomic directory rename: a concurrent builder in
  * another JVM either wins the rename or adopts the winner's
  * (key-verified) artifact. In-JVM, `computeIfAbsent` makes sibling
  * queries block on the one in-flight build instead of racing it
  * (Verify runs query entries concurrently). */
private[graft] object Warehouse {
  /** key -> parquet path of the usable artifact (in-JVM fast path
    * over the on-disk store). */
  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Test-only: drop the in-JVM map — simulates a fresh JVM, so specs
    * can prove reuse comes from the DISK artifact. */
  private[graft] def reset(): Unit = built.clear()

  /** Root directory for persisted artifacts: the runtime conf
    * `spark.graft.index.dir` first (the warehouse dir itself is a
    * STATIC SQL conf — a custom dynamic key lets tests and
    * deployments re-point the root per-session, and a session-scoped
    * setting must not be silently overridden by an exported shell
    * variable), else `$SPARK_GRAFT_INDEX_DIR`, else `graft_pairs/`
    * under the session warehouse dir (a deployment points these at
    * durable LOCAL-SEMANTICS storage; the sandbox default lands in
    * ./spark-warehouse).
    *
    * NON-POSIX ROOTS ARE REJECTED LOUDLY (round-14 missing #3): the
    * commit protocol here is built on three guarantees object stores
    * do not give — atomic directory rename (S3/GCS "rename" is
    * copy+delete, so a half-moved artifact could be adopted),
    * advisory `FileChannel` locks (no cross-client locking at all),
    * and directory mtimes for last-use aging (object stores have no
    * directory metadata). A configured `s3://`/`gs://`/`hdfs://`
    * root would not fail here — it would CORRUPT SILENTLY under
    * concurrent builders, which is strictly worse. The epoch
    * manifest swap ([[commitEpoch]]) and the writer lock
    * ([[withIndexWriter]]) rest on the same guarantees, so an
    * object-store deployment needs a commit log in place of the
    * renames; until then, mount the store through a POSIX layer. */
  private[graft] def indexRoot(spark: SparkSession): String = {
    val root = indexRoot0(spark)
    // any "scheme:" prefix counts — URI forms WITHOUT a slash
    // ("s3:bucket/x" is legal no-authority syntax) must not slip
    // past the guard into a literally-named local directory
    // (round-15 review). A windows drive letter ("C:\x") is not a
    // URI scheme — require 2+ chars before the colon.
    val scheme = "^([a-zA-Z][a-zA-Z0-9+.-]+):".r
    scheme.findFirstMatchIn(root).map(_.group(1)) match {
      case Some(s) if !s.equalsIgnoreCase("file") =>
        throw new IllegalArgumentException(
          s"spark.graft.index.dir '$root': scheme '$s' is not " +
            "supported — the warehouse commit protocol requires POSIX " +
            "rename atomicity, file locks, and directory mtimes, which " +
            "object stores do not provide. Point the root at local/NFS " +
            "disk or a POSIX mount of the store.")
      case Some(_) => decodeFileUri(root) // an explicit file: root
      case None => root
    }
  }

  /** Decode a `file:` URI to a local path. Spark's default warehouse
    * dir is a PERCENT-ENCODED file URI (File.toURI — a path with
    * spaces arrives as %20), so decode through java.net.URI when it
    * parses; a raw-space/non-URI form falls back to literal prefix
    * handling (file:/x, file://x, file:///x all collapse to /x)
    * instead of throwing. */
  private def decodeFileUri(w: String): String =
    try new java.io.File(new java.net.URI(w)).getAbsolutePath
    catch { case _: Exception =>
      var p = w.stripPrefix("file:")
      while (p.startsWith("//")) p = p.substring(1)
      new java.io.File(p).getAbsolutePath
    }

  private def indexRoot0(spark: SparkSession): String =
    Option(spark.conf.get("spark.graft.index.dir", null))
      .orElse(sys.env.get("SPARK_GRAFT_INDEX_DIR"))
      .getOrElse {
        val w = spark.conf.get("spark.sql.warehouse.dir")
        val local =
          if (w.startsWith("file:")) decodeFileUri(w) else w
        s"$local/graft_pairs"
      }

  /** (name, size, mtime) fingerprint of every file under `path`,
    * sorted — the corpus-freshness component of an artifact key (the
    * same signal Spark's own file index uses). */
  private[graft] def fingerprint(path: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(path))
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString(",")
  }

  private def sha16(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xFF}%02x").mkString

  /** Recursive delete — also the shared helper for every graft
    * cleanup site (stream staging dirs, stale artifacts). */
  private[graft] def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .foreach(deleteRec)
    f.delete()
  }

  /** Record a USE of `dir` for the age-based sweep (which ages by
    * last use, not last build). Primary channel: the dir mtime.
    * `setLastModified` is allowed to fail (some filesystems refuse
    * utimes on directories) and its boolean result was silently
    * ignored until round 15 (ADVICE) — on failure, fall back to
    * REWRITING a `_GRAFT_LASTUSE` marker file (a fresh write bumps
    * the marker's own mtime), and if even that fails, warn loudly:
    * the artifact may then be swept while live, which the adopting
    * reader will detect as a vanished path, not silent staleness. */
  private def touchUsed(dir: java.io.File): Unit = {
    val now = System.currentTimeMillis()
    if (!dir.setLastModified(now)) {
      try {
        val w = new java.io.PrintWriter(
          new java.io.File(dir, "_GRAFT_LASTUSE"), "UTF-8")
        try w.print(now.toString) finally w.close()
      } catch { case _: java.io.IOException =>
        System.err.println(s"[pairidx] WARNING: cannot record last " +
          s"use of $dir (setLastModified and marker write both " +
          "failed); it may be swept while live")
      }
    }
  }

  /** Last-use time of an artifact dir: the newest of the dir mtime
    * and the `_GRAFT_LASTUSE` fallback marker (0 when absent). */
  private def lastUsed(dir: java.io.File): Long =
    math.max(dir.lastModified(),
      new java.io.File(dir, "_GRAFT_LASTUSE").lastModified())

  /** A published artifact dir is usable iff its stored key equals
    * ours (param/corpus mismatch safety) and the completion marker
    * exists — `_GRAFT_OK` is written only after the builder ran to
    * the end, so no partial write is ever adopted. */
  private def usable(dir: java.io.File, key: String): Boolean = {
    val keyFile = new java.io.File(dir, "_graft_key.txt")
    val ok = new java.io.File(dir, "_GRAFT_OK")
    keyFile.exists() && ok.exists() && {
      val src = scala.io.Source.fromFile(keyFile, "UTF-8")
      val stored = try src.mkString finally src.close()
      stored == key
    }
  }

  /** Resolve the on-disk artifact DIRECTORY for `key`, building it
    * iff absent or stale. `build` receives a staging directory and
    * may lay out any file structure (a pair parquet, an IVF index's
    * centroids + partitioned assignments, …). */
  private def loadOrBuild(spark: SparkSession, family: String,
      key: String)(build: String => Unit): String = {
    val root = new java.io.File(indexRoot(spark))
    root.mkdirs()
    val finalDir = new java.io.File(root, s"$family-${sha16(key)}")
    if (usable(finalDir, key)) {
      // record the use: the sweep ages artifacts by last USE, not
      // last build — a family can hold several live keys (one per
      // corpus dir), and an 8-day-old but still-consulted sibling
      // must survive a same-family publish (round-14 review)
      touchUsed(finalDir)
      System.err.println(s"[pairidx] reusing $key <- $finalDir")
      return finalDir.toString
    }
    val tmp = new java.io.File(root,
      s".build-$family-${sha16(key)}-${java.util.UUID.randomUUID()}")
    val t0 = System.nanoTime()
    build(tmp.toString)
    val w = new java.io.PrintWriter(
      new java.io.File(tmp, "_graft_key.txt"), "UTF-8")
    try w.print(key) finally w.close()
    new java.io.File(tmp, "_GRAFT_OK").createNewFile()
    // surface the one-time cost in any harness log (bench reports
    // steady-state consumer times via min-of-reps; the build is
    // real work and must stay visible somewhere auditable)
    System.err.println(f"[pairidx] built $key in " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s -> $finalDir")
    // publish under a cross-JVM advisory file lock: a concurrently
    // published LIVE artifact must never be deleted out from under
    // its readers. The lock serializes the usable-check /
    // stale-replace / move sequence across processes (a bare
    // check-then-act left a window where two builders replacing the
    // same stale occupant could delete each other's fresh publish);
    // the loser adopts the winner inside the lock. Readers never take
    // the lock — they only ever adopt a completed (`_GRAFT_OK`)
    // artifact, and a usable artifact is only ever REPLACED here,
    // atomically, for a key mismatch no reader of this key can hold.
    val lockCh = java.nio.channels.FileChannel.open(
      new java.io.File(root, s".lock-$family-${sha16(key)}").toPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val lock = lockCh.lock()
    try {
      if (usable(finalDir, key)) deleteRec(tmp) // winner published; adopt
      else {
        if (finalDir.exists()) deleteRec(finalDir) // stale/partial: replace
        java.nio.file.Files.move(tmp.toPath, finalDir.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    } finally {
      lock.release()
      lockCh.close()
    }
    sweepOrphans(spark, root, family, keep = finalDir.getName)
    finalDir.toString
  }

  /** Age-based sweep of ORPHANED same-family artifacts (round-13
    * advice): the key embeds an mtime-based corpus fingerprint, so
    * every corpus rewrite publishes a NEW directory name and the old
    * one is never addressed again — without a sweep, rewrites
    * accumulate dead artifacts on disk indefinitely. Runs after each
    * publish, deleting sibling dirs of the same family (published or
    * crashed `.build-` staging) untouched for longer than
    * `spark.graft.index.sweepAgeDays` (default 7; `<= 0` disables).
    * Age means time since last USE, not last build — `loadOrBuild`'s
    * reuse path refreshes the dir mtime on every adoption, so a
    * family holding several live keys (one per corpus dir) never
    * loses a sibling that any run consulted inside the window. The
    * age guard is also the concurrency story: a reader only ever
    * holds an artifact it adopted (and mtime-refreshed) moments ago,
    * and a LIVE concurrent publish is days younger than any
    * cutoff. */
  private def sweepOrphans(spark: SparkSession, root: java.io.File,
      family: String, keep: String): Unit = {
    val days = spark.conf.get("spark.graft.index.sweepAgeDays", "7").toDouble
    if (days <= 0) return
    val cutoff = System.currentTimeMillis() - (days * 86400000L).toLong
    val mine = s"$family-"
    val staging = s".build-$family-"
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .filter(d => d.getName != keep &&
        (d.getName.startsWith(mine) || d.getName.startsWith(staging)))
      // age by lastUsed, not the raw dir mtime: touchUsed falls back
      // to the _GRAFT_LASTUSE marker where setLastModified fails
      .filter(lastUsed(_) < cutoff)
      .foreach { d =>
        System.err.println(s"[pairidx] sweeping orphaned ${d.getName}")
        deleteRec(d)
      }
  }

  /** Shared `_meta.json` read for artifact dirs — the ONE loud-on-
    * partial-dirs reader every stored-index family uses (round-17
    * review: seven hand-rolled require+regex copies across
    * Retrieval/Similarity/TextDedup/Bpe were drifting
    * independently). `artifact` names the family for the error
    * message ("BM25 index", "PQ index", …). */
  private[graft] def readMetaJson(dir: String,
      artifact: String): String =
    readMetaJson(indexSnapshot(dir), artifact)

  /** Snapshot-resolved meta read — mutating ops REPLACE `_meta.json`
    * as an epoch-named file in their commit (round-20), so a serving
    * path that already holds a snapshot reads the meta belonging to
    * the SAME epoch as every table it scans. */
  private[graft] def readMetaJson(snap: IndexSnapshot,
      artifact: String): String = {
    val p = java.nio.file.Paths.get(snap.path("_meta.json"))
    require(java.nio.file.Files.exists(p),
      s"$artifact at ${snap.root} has no _meta.json — not a complete " +
        "artifact (partial build or manual copy); rebuild it")
    java.nio.file.Files.readString(p)
  }

  /** Extract a required integer field from an artifact's meta JSON
    * (the declared-geometry discipline: stored indexes read their
    * own parameters back, never trust the caller). */
  private[graft] def metaLong(meta: String, dir: String,
      key: String): Long =
    s""""$key":(-?\\d+)""".r.findFirstMatchIn(meta) match {
      case Some(m) => m.group(1).toLong
      case None => throw new IllegalArgumentException(
        s"artifact meta at $dir lacks '$key': $meta")
    }

  /** Intra-batch id-uniqueness guard for the append-only index
    * maintenance ops (round-17 ADVICE): their duplicate guards probe
    * the STORED ledger/keys, so a batch carrying the same doc id
    * TWICE used to pass and append duplicated gram/window/posting
    * rows — exactly the df-inflation/Jaccard-corruption class the
    * guards exist to prevent, arriving inside one batch instead of
    * across cycles. `idExpr` is the SAME expression the caller
    * ledgers (e.g. the cast to long) — uniqueness of the raw column
    * is the wrong invariant when the ledger stores a cast (two raw
    * ids colliding post-cast are one ledger id). NULL ids are
    * rejected outright: count/count-distinct both skip nulls, so an
    * all-null batch would sail through BOTH guards and its ledger
    * row would never match a later probe — the silently re-ingestable
    * id (round-18 review). One bounded aggregate, ∝ batch; offender
    * lists are fetched only on failure paths. */
  private[graft] def requireUniqueBatchIds(batch: DataFrame,
      idExpr: org.apache.spark.sql.Column, what: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
    val id = idExpr.as("__id")
    val r = batch.select(id).agg(count(lit(1)).as("rows"),
      count(col("__id")).as("n"),
      countDistinct(col("__id")).as("nd")).collect()(0)
    val (rows, n, nd) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // `what` carries the full operation name ("BM25 index delete",
    // "CMS artifact append") — no hardcoded verb here, the guard
    // serves append AND delete paths (round-18 ADVICE)
    require(rows == n,
      s"$what batch contains ${rows - n} NULL ids — a null " +
        "never matches the ledger probe, so the batch would be " +
        "silently re-ingestable forever; assign real ids first")
    if (n != nd) {
      val dups = batch.select(id).groupBy(col("__id"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).limit(5).collect()
        .map(_.get(0)).mkString(", ")
      throw new IllegalArgumentException(
        s"$what batch contains duplicated ids ($n rows, " +
          s"$nd distinct): $dups… — carrying one doc twice " +
          "duplicates its index rows exactly like a re-ingest; " +
          "deduplicate the batch first")
    }
  }

  /** The stored-ledger append-only probe the maintenance family
    * shares (hoisted round-18 — it was hand-copied four times):
    * broadcast the (small, checkpointed) batch id set against the
    * column-pruned ledger/key scan — map-side, exchange ∝ duplicates
    * found, never a corpus-sized shuffle — and refuse loudly when any
    * batch id is already indexed. `corruption` names the
    * family-specific damage a re-ingest would do. */
  private[graft] def requireAppendOnly(ledgerIds: DataFrame,
      batchIds: DataFrame, joinCol: String, what: String,
      corruption: String): Unit = {
    import org.apache.spark.sql.functions.broadcast
    val dup = ledgerIds
      .join(broadcast(batchIds), Seq(joinCol), "left_semi")
      .limit(5).collect().map(_.get(0)).distinct
    require(dup.isEmpty,
      s"$what already contains batch ids ${dup.mkString(", ")}… — " +
        s"re-ingesting an indexed doc would $corruption; the append " +
        "contract is append-only (delete + rebuild to update)")
  }

  /** Layout-version gate shared by the artifact readers (five
    * hand-rolled copies before round 18): fails loudly with a
    * rebuild-the-artifact message when the meta predates versioning
    * or declares a different layout — never an opaque missing-column
    * error deep inside serving. `detail` names what the expected
    * layout carries (for the operator's error message). */
  private[graft] def requireMetaVersion(meta: String, dir: String,
      what: String, expected: Long, detail: String): Unit = {
    require(meta.contains("\"version\""),
      s"$what at $dir predates the versioned layout (no version " +
        s"field in _meta.json — $detail) — rebuild it")
    val v = metaLong(meta, dir, "version")
    require(v == expected,
      s"$what at $dir has layout version $v; this build " +
        s"reads/extends v$expected ($detail) only — rebuild it")
  }

  /** Compact a PARTITIONED parquet table of the index at `indexDir`
    * — the LSM-ish operational counterpart of the append family:
    * every ingest cycle lands a new SEGMENT dir (round-20 — appends
    * no longer touch served files), and after many cycles the
    * per-partition segment/file count — not the data — dominates
    * open/plan cost. Folds ALL segments into ONE new epoch dir:
    * partitions whose total part-file count across segments exceeds
    * one are rewritten to a single file each; partitions already at
    * one file are HARDLINKED over unrewritten (one link syscall per
    * file, never a byte rewrite — the object-store analog is a
    * server-side copy). Content identity is preserved (IndexPathSpec
    * pins query results before ≡ after) — this compactor
    * CONCATENATES, so it must never run on a SIGNED-delta table
    * whose single-segment state is assumed summed (those get their
    * family's summing compactor: [[TextDedup.compactSubstringSegments]],
    * [[Retrieval.compactBm25Dfs]]).
    *
    * SNAPSHOT-ISOLATED: the compacted table lands in a fresh
    * `<table>.e-*` dir and commits via [[commitEpoch]]'s atomic
    * manifest swap — a concurrent reader serves the old epoch or the
    * new, never a half-rewritten dir, and a crash before the swap
    * leaves the old layout untouched.
    *
    * Returns (partFilesBefore, partFilesAfter) across the compacted
    * partitions — the ScaleBench receipt. A single-segment table
    * already at one file per partition is a no-op (0, 0); a
    * multi-segment table at one file per partition still folds to
    * one segment (all links) and reports (0, 0). */
  private[graft] def compactIndexPartitions(spark: SparkSession,
      indexDir: String, table: String, partitionCol: String): (Int, Int) =
    withIndexWriter(indexDir) {
    import org.apache.spark.sql.functions.col
    // SIGNED tables (BM25's dfs: rows carry +/− df and serving's
    // single-segment fast path assumes one ALREADY-SUMMED row per
    // term) must compact through their SUMMING compactor — this
    // rewrite concatenates rows, which would leave signed duplicates
    // inside one segment and silently corrupt every score served off
    // the fast path (round-20 ADVICE).
    require(table != "dfs.parquet",
      s"compactIndexPartitions: $indexDir/$table is a SIGNED table — " +
        "concatenation would break the single-segment-is-summed " +
        "serving invariant; use Retrieval.compactBm25Dfs")
    val snap = indexSnapshot(indexDir)
    val segDirs = snap.paths(table).map(new java.io.File(_))
    segDirs.foreach(d => require(d.isDirectory,
      s"compactIndexPartitions: $d is not a directory"))
    def partFiles(d: java.io.File): Array[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
    // partition dirs grouped by NAME across segments (same value ⇒
    // same escaped dir name in every segment)
    val parts: Map[String, Seq[java.io.File]] = segDirs
      .flatMap(s => Option(s.listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory &&
          d.getName.startsWith(s"$partitionCol=")).toSeq)
      .groupBy(_.getName)
    // a null-valued partition cannot be selected back by an isin
    // filter (NULL never matches) — its rows would be silently ABSENT
    // from the new epoch table, data loss. Today's callers use
    // non-null partition columns (pfx/list_id); fail loudly rather
    // than generically mishandle (round-19 ADVICE).
    require(!parts.contains(s"$partitionCol=__HIVE_DEFAULT_PARTITION__"),
      s"compactIndexPartitions: $indexDir/$table has a null-valued " +
        s"partition ($partitionCol=__HIVE_DEFAULT_PARTITION__) — this " +
        "compactor's value-filtered rewrite cannot carry NULL " +
        "partitions; fix the writer to assign real partition values")
    val multi = parts.filter(_._2.map(partFiles(_).length).sum > 1)
    if (multi.isEmpty && segDirs.length <= 1) return (0, 0)
    val before = multi.values.map(_.map(partFiles(_).length).sum).sum
    // directory names carry Spark's partition-path ESCAPING; compare
    // in VALUE space or an escape-needing partition value (today's
    // callers are alnum/hex/int, but the function is generic) would
    // match zero rows in the filter below and its partition would be
    // silently ABSENT from the new epoch table — the
    // deleteStalePartitionDirs lesson (round-18 ADVICE), upgraded
    // from a benign no-op to data loss by the epoch rewrite
    // (round-19 review)
    val values = multi.keys.toSeq.map(n =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(n.stripPrefix(s"$partitionCol=")))
    val epochName = epochDirName(table)
    val epochDir = new java.io.File(indexDir, epochName)
    // one task per partition value -> one file per partition (two
    // values hashing together still emit one file per directory);
    // reads old files, writes new ones — no read-while-overwrite, so
    // no materialization barrier is needed
    if (multi.nonEmpty)
      snap.read(spark, table)
        .filter(col(partitionCol).isin(values: _*))
        .repartition(col(partitionCol))
        .write.partitionBy(partitionCol)
        .parquet(epochDir.toString)
    else epochDir.mkdirs()
    // carry the already-single-file partitions over by hardlink; the
    // segment index prefixes the link name so two segments' part
    // files can never collide under one partition dir
    for ((name, dirs) <- parts if !multi.contains(name)) {
      val dst = new java.io.File(epochDir, name)
      dst.mkdirs()
      for ((d, i) <- dirs.zipWithIndex; f <- partFiles(d))
        linkOrCopy(f, new java.io.File(dst, s"part-s$i-${
          f.getName.stripPrefix("part-")}"))
    }
    commitEpoch(indexDir, snap.allTables + (table -> Seq(epochName)))
    val after = multi.keys.map(m => partFiles(
      new java.io.File(epochDir, m)).length).sum
    (before, after)
  }

  /** Compact an UNPARTITIONED parquet table of the index at
    * `indexDir` to a single segment with a single part-file,
    * content-identical — [[compactIndexPartitions]]' counterpart for
    * the `ids.parquet` ledgers (BM25, substring, near-dup, CMS),
    * which gain one segment dir per ingest cycle and have no
    * partition column for the partitioned rewrite to key on
    * (round-17 verdict #6). Row MULTISET identity is preserved
    * (ledger consumers are semi-join probes, order-free).
    * SNAPSHOT-ISOLATED like the partitioned compaction. Returns
    * (partFilesBefore, partFilesAfter); a single-segment table
    * already at ≤ 1 part-file is a no-op (0, 0). */
  private[graft] def compactUnpartitionedLedger(spark: SparkSession,
      indexDir: String, table: String): (Int, Int) =
    withIndexWriter(indexDir) {
    val snap = indexSnapshot(indexDir)
    val segDirs = snap.paths(table).map(new java.io.File(_))
    segDirs.foreach(d => require(d.isDirectory,
      s"compactUnpartitionedLedger: $d is not a directory"))
    def partFiles(d: java.io.File): Int = Option(d.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(f => f.isFile && f.getName.startsWith("part-"))
    val before = segDirs.map(partFiles).sum
    if (before <= 1 && segDirs.length <= 1) return (0, 0)
    val epochName = epochDirName(table)
    snap.read(spark, table).coalesce(1)
      .write.parquet(s"$indexDir/$epochName")
    commitEpoch(indexDir, snap.allTables + (table -> Seq(epochName)))
    (before, partFiles(new java.io.File(indexDir, epochName)))
  }

  /** Shared tombstone-DELETE machinery for the DOC-LOCAL index
    * families (stored vector indexes, near-dup index — the q161
    * pattern with no aggregate to cancel; hoisted round-19 after the
    * near-line-for-line third copy): guard probes ∝ batch, then one
    * ledger append as the only mutation. `presenceTable` is the
    * stored table whose id column proves a batch id was indexed;
    * `idCol` names the ledger/table id column. Refusals: NULL or
    * duplicated batch ids, never-indexed ids (a tombstone for an
    * absent row can only mask a caller bug), already-tombstoned ids,
    * and a delete that would tombstone EVERY stored row (serving
    * would return empty and the purge would refuse — a dead index;
    * delete the directory and rebuild instead). */
  private[graft] def tombstoneDelete(spark: SparkSession,
      dir: String, batch: DataFrame, batchIdExpr: org.apache.spark.sql.Column,
      idCol: String, presenceTable: String, what: String): Unit =
    withIndexWriter(dir) {
    import org.apache.spark.sql.functions.{broadcast, col}
    val snap = indexSnapshot(dir)
    requireUniqueBatchIds(batch, batchIdExpr, s"$what delete")
    val batchIds = batch.select(batchIdExpr.as(idCol))
      .distinct().localCheckpoint(true)
    if (batchIds.isEmpty) return
    // every id must be indexed: column-pruned id scan, semi-joined
    // MAP-SIDE against the broadcast batch (exchange ∝ batch)
    val present = snap.read(spark, presenceTable)
      .select(col(idCol))
      .join(broadcast(batchIds), Seq(idCol), "left_semi")
      .distinct() // multi-assignment stores one row per list
      .localCheckpoint(true)
    val unindexed = batchIds.join(present, Seq(idCol), "left_anti")
      .limit(5).collect().map(_.get(0))
    require(unindexed.isEmpty,
      s"$what: ids ${unindexed.mkString(", ")}… were never indexed " +
        "(or have no stored rows) — a tombstone for an absent row " +
        "can only mask a caller bug; nothing would be deleted")
    if (snap.hasPhysical("dels.parquet")) {
      val twice = snap.read(spark, "dels.parquet")
        .join(broadcast(batchIds), Seq(idCol), "left_semi")
        .limit(5).collect().map(_.get(0))
      require(twice.isEmpty,
        s"$what: ids ${twice.mkString(", ")}… are already tombstoned")
    }
    // refuse to tombstone the LAST live rows — one column-pruned scan
    // with an early-out limit(1)
    val delsAll = if (snap.hasPhysical("dels.parquet"))
      batchIds.unionByName(snap.read(spark, "dels.parquet")
        .select(col(idCol)))
    else batchIds
    val remaining = snap.read(spark, presenceTable)
      .select(col(idCol))
      .join(broadcast(delsAll.distinct().localCheckpoint(true)),
        Seq(idCol), "left_anti")
      .limit(1).collect()
    require(remaining.nonEmpty,
      s"$what: this delete tombstones every indexed row — an index " +
        "over zero rows has nothing to serve; delete the index " +
        "directory and rebuild instead")
    appendToTable(dir, "dels.parquet", batchIds)
  }

  /** Shared tombstone-PURGE: rewrite each of `tables` without the
    * ledgered ids into fresh epoch dirs and drop the ledger — ONE
    * atomic manifest swap for the whole change (a concurrent reader
    * serves the pre-purge view with the anti-join, or the post-purge
    * view, never purged rows with live tombstones). Cost ∝ index
    * (the compaction-tier rewrite); purged ids become re-appendable.
    * Returns (rowsBefore, rowsAfter) over the FIRST table; a
    * ledger-less index is a no-op (0, 0). Refuses to purge the index
    * down to zero rows. `tables` = (logical name, partition column
    * if partitioned). */
  private[graft] def purgeTombstones(spark: SparkSession, dir: String,
      idCol: String, tables: Seq[(String, Option[String])],
      what: String): (Long, Long) = withIndexWriter(dir) {
    val snap = indexSnapshot(dir)
    if (!snap.has("dels.parquet")) return (0L, 0L)
    val dels = snap.read(spark, "dels.parquet")
      .distinct().localCheckpoint(true)
    var receipt = (0L, 0L)
    val newDirs = tables.zipWithIndex.map { case ((table, pcol), i) =>
      val rows = snap.read(spark, table)
      val kept = rows.join(dels, Seq(idCol), "left_anti")
      val epochName = epochDirName(table)
      if (i == 0) {
        val before = rows.count()
        // one materialization serves the count and the write (the
        // epoch layout reads old files / writes new — no overwrite
        // hazard, the checkpoint only saves a second scan)
        val keptM = kept.localCheckpoint(true)
        val after = keptM.count()
        require(after > 0,
          s"$what: purging would remove every stored row — delete " +
            "the index directory and rebuild instead")
        receipt = (before, after)
        writeEpochTable(keptM, dir, epochName, pcol)
      } else writeEpochTable(kept, dir, epochName, pcol)
      table -> Seq(epochName)
    }
    commitEpoch(dir, snap.allTables ++ newDirs - "dels.parquet")
    receipt
  }

  private def writeEpochTable(rows: DataFrame, dir: String,
      epochName: String, partitionCol: Option[String]): Unit =
    partitionCol match {
      case Some(pc) => rows
        .repartition(org.apache.spark.sql.functions.col(pc))
        .write.partitionBy(pc).parquet(s"$dir/$epochName")
      case None => rows.write.parquet(s"$dir/$epochName")
    }

  /** Append-side ghost guard shared by the doc-local families: a
    * tombstoned id stays un-appendable until the purge physically
    * removes its old rows — they would resurface next to the new
    * generation's under one id once the serve-time anti-join lifts.
    * Ledger existence is manifest-authoritative under a manifest
    * (deletes commit their ledger segment atomically — a crashed
    * delete left NO visible state, so there is nothing for a
    * physical probe to be conservative about; round-20, closing the
    * round-19 post-purge plain-name wedge); `batchIds` is only
    * evaluated when a ledger exists, so the common no-tombstone
    * append path pays nothing. */
  private[graft] def requireNoTombstoned(spark: SparkSession,
      snap: IndexSnapshot, batchIds: => DataFrame, idCol: String,
      what: String): Unit =
    if (snap.hasPhysical("dels.parquet")) {
      import org.apache.spark.sql.functions.broadcast
      val ghosts = snap.read(spark, "dels.parquet")
        .join(broadcast(batchIds), Seq(idCol), "left_semi")
        .limit(5).collect().map(_.get(0))
      require(ghosts.isEmpty,
        s"$what: ids ${ghosts.mkString(", ")}… are tombstoned — " +
          "re-ingesting before the purge would resurface their old " +
          "rows under the same id; purge first")
    }

  // ── epoch-manifest snapshot layer (round-19 verdict #1; extended
  //    to INGEST round-20 — round-19 verdict #1 again, one rung up) ──
  //
  // Serving-while-mutating: every mutating op — maintenance
  // (compaction, purge) AND ingest (append, delete) — writes its
  // result under NEW uniquely-named dirs/files (`<name>.e-<hex>`) and
  // commits with ONE atomic manifest swap; nothing ever appends into,
  // dynamically overwrites, or rewrites a dir a reader could be
  // listing. A logical table is a SEQUENCE OF SEGMENT DIRS: builds
  // mint one, each append cycle adds one (the LSM shape), compaction
  // folds them back to one, and readers scan the union. Small
  // mutable sidecars (`_meta.json` stats, `cms.bin`/`bloom.bin`
  // sketch bytes) are replaced as epoch-named FILES registered in the
  // same manifest, so a multi-table ingest cycle (BM25: postings +
  // dfs + ids + meta) lands as one unit — a reader resolves
  // `_manifest.json` once per query and sees a consistent snapshot of
  // EVERYTHING: the whole cycle or none of it, old epoch or new,
  // never a mix. Crash anywhere before the swap leaves the old
  // manifest and its dirs untouched (orphan epoch dirs are swept at a
  // later commit); crash mid-swap is impossible by POSIX rename
  // atomicity. Ingest crash-retry is therefore clean BY ATOMICITY:
  // the round-18 "ledger-first" orderings are retired — a crashed
  // cycle left no visible state, so the guards see nothing and the
  // retry simply re-runs the whole cycle.
  //
  // Grace: a dir/file leaving the manifest survives (a) at least ONE
  // further superseding commit — the sweep only deletes names
  // referenced by neither the new nor the outgoing manifest, and
  // PURE-ADDITION commits (segment appends, table births — every
  // outgoing segment still referenced) skip the sweep entirely — and
  // (b) at least `spark.graft.index.graceMinAgeSec` (default 300)
  // since it was superseded (commit marks supersession time on the
  // leaving dirs; round-19 verdict #3 — two quick maintenance ops
  // can no longer reclaim an epoch a slow query is still reading).
  // WRITERS serialize: every mutating op holds the per-index
  // [[withIndexWriter]] lock — a second concurrent maintainer
  // refuses loudly instead of interleaving epochs (round-19 verdict
  // #2), and the lock dies with a crashed holder's JVM.
  //
  // Legacy compatibility: an index that has never been mutated has no
  // manifest — `indexSnapshot` then resolves every table to its plain
  // build-time name, byte-identical to the pre-epoch behavior. The
  // FIRST commit records the legacy names for every table it does not
  // rewrite, so untouched tables never move.

  private[graft] val ManifestName = "_manifest.json"

  /** Whether a written table/segment dir holds any parquet data file.
    * An all-filtered-out batch writes only _SUCCESS (a partitioned
    * write with zero rows creates no part files at all) — such a dir
    * cannot infer a schema and must be invisible to readers. */
  private[graft] def dirHasData(f: java.io.File): Boolean =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .exists(dirHasData)
    else f.getName.startsWith("part-")

  /** One consistent view of an index directory's table layout —
    * constructed from ONE manifest read, so every table path it
    * resolves belongs to the same epoch. Readers build one per query;
    * mutating ops build one at entry and commit against it. */
  private[graft] final class IndexSnapshot(val root: String,
      private[graft] val tables: Option[Map[String, Seq[String]]]) {
    /** Physical segment paths of logical `table` ("postings.parquet",
      * …) under this snapshot, in registration order. Unregistered
      * tables resolve to their plain name (the build-time write path,
      * and the whole story for manifest-less legacy dirs). */
    def paths(table: String): Seq[String] =
      tables.flatMap(_.get(table)).getOrElse(Seq(table))
        .map(n => s"$root/$n")

    /** Single physical path of `table` — valid only for entries that
      * are replaced wholesale (meta/sketch files, freshly compacted
      * tables). Throws on a multi-segment table: any caller still
      * assuming one dir must fail loudly, not read one segment. */
    def path(table: String): String = {
      val p = paths(table)
      require(p.lengthCompare(1) == 0,
        s"$root: '$table' has ${p.length} segments — read it with " +
          "IndexSnapshot.read (a single-path consumer cannot see a " +
          "segmented table)")
      p.head
    }

    /** Scan of `table` across ALL its segments — the one reader every
      * serving/maintenance path uses. One scan per segment, unioned
      * by name (multi-path `spark.read.parquet` refuses sibling
      * partitioned roots — CONFLICTING_DIRECTORY_STRUCTURES — so each
      * segment is its own base path and the union is explicit);
      * partition discovery, pruning and filter pushdown apply per
      * child scan. Segments that hold no data files (an all-
      * filtered-out batch wrote only _SUCCESS) are skipped — a
      * file-less partitioned dir cannot infer a schema. */
    def read(spark: SparkSession, table: String): DataFrame = {
      val all = paths(table)
      val nonEmpty = all.filter(p => dirHasData(new java.io.File(p)))
      val use = if (nonEmpty.nonEmpty) nonEmpty else all.take(1)
      val children = use.map(spark.read.parquet(_))
      if (children.lengthCompare(1) == 0) return children.head
      // PARTITION-COLUMN TYPE INFERENCE runs per segment root, so a
      // hex-prefix partition column (`pfx=7` vs `pfx=c`) can infer
      // INT in an all-digit segment and STRING in another — the
      // union's coercion then casts letters to bigint and fails at
      // runtime. Align mismatched columns to STRING (the type the
      // pre-segment single-dir inference produced over the mixed
      // value set); data columns carry fixed parquet types and never
      // hit this.
      import org.apache.spark.sql.functions.col
      val types: Map[String, Set[org.apache.spark.sql.types.DataType]] =
        children.flatMap(_.schema.fields.map(f => f.name -> f.dataType))
          .groupBy(_._1).map { case (n, ts) => n -> ts.map(_._2).toSet }
      val mixed = types.filter(_._2.size > 1).keySet
      val aligned = if (mixed.isEmpty) children else children.map { c =>
        c.select(c.schema.fieldNames.map(n =>
          if (mixed(n)) col(n).cast("string").as(n) else col(n)): _*)
      }
      aligned.reduce(_.unionByName(_))
    }

    /** Whether `table` exists IN THIS SNAPSHOT. Manifest-authoritative
      * when a manifest exists: after a purge drops the tombstone
      * ledger, the superseded dels dirs linger on disk for the grace
      * window, and a new-epoch reader must not see them. */
    def has(table: String): Boolean = tables match {
      case Some(m) => m.contains(table)
      case None => new java.io.File(root, table).exists()
    }

    /** Physical existence of `table`'s registered segments (legacy
      * dirs: the plain name). Under a manifest an UNREGISTERED table
      * is absent even when a same-named PLAIN dir lingers on disk
      * (a grace-retained legacy ledger after its drop — the round-19
      * ADVICE post-purge wedge): mutations commit atomically, so
      * there is no crashed half-state a physical probe would need to
      * be conservative about. */
    def hasPhysical(table: String): Boolean = tables match {
      case Some(m) => m.get(table).exists(_.forall(n =>
        new java.io.File(root, n).exists()))
      case None => new java.io.File(root, table).exists()
    }

    /** The full logical→segments mapping a commit starts from: the
      * manifest's, or (first commit on a legacy dir) every existing
      * plain `*.parquet` table mapped to itself. */
    def allTables: Map[String, Seq[String]] = tables.getOrElse(
      Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(d => d.isDirectory && d.getName.endsWith(".parquet"))
        .map(d => d.getName -> Seq(d.getName)).toMap)
  }

  /** Manifest table values are strings (one segment) or string
    * arrays (segment lists) — the round-19 single-string form parses
    * unchanged. Names are validated at commit ([[validEntryName]]),
    * so the regexes below cannot be confused by quotes/braces inside
    * names. */
  private def parseManifest(txt: String,
      dir: String): Map[String, Seq[String]] = {
    val start = txt.indexOf("\"tables\":{")
    val end = txt.lastIndexOf("}")
    if (start < 0 || end <= start)
      throw new IllegalArgumentException(
        s"index manifest at $dir/$ManifestName is malformed " +
          s"(no tables object): $txt")
    val body = txt.substring(start + "\"tables\":{".length, end)
    """"([^"]+)":("[^"]+"|\[[^\]]*\])""".r.findAllMatchIn(body)
      .map { m =>
        val segs = """"([^"]+)"""".r.findAllMatchIn(m.group(2))
          .map(_.group(1)).toVector
        m.group(1) -> (segs: Seq[String])
      }.toMap
  }

  /** Resolve the index at `dir` to one consistent table snapshot (one
    * manifest read; legacy dirs resolve to plain names). */
  private[graft] def indexSnapshot(dir: String): IndexSnapshot = {
    val f = new java.io.File(dir, ManifestName)
    if (!f.exists()) new IndexSnapshot(dir, None)
    else new IndexSnapshot(dir, Some(parseManifest(
      java.nio.file.Files.readString(f.toPath), dir)))
  }

  /** Manifest entry names (logical and physical) must stay inside the
    * character set the manifest's regex parser and the sweep patterns
    * assume — a brace/quote/comma in a table name would corrupt the
    * manifest silently (round-19 review's named hazard, closed). */
  private def validEntryName(n: String): Boolean =
    n.nonEmpty && n.forall(c => c.isLetterOrDigit || c == '.' ||
      c == '_' || c == '-')

  /** Fresh physical name for a new epoch/segment of `table` (works
    * for dirs and sidecar files alike). */
  private[graft] def epochDirName(table: String): String = {
    require(validEntryName(table),
      s"index table name '$table' contains characters outside " +
        "[A-Za-z0-9._-] — unsupported in the epoch manifest")
    s"$table.e-${java.util.UUID.randomUUID().toString.take(8)}"
  }

  /** Epoch-named dirs AND sidecar files (postings.parquet.e-…,
    * cms.bin.e-…, _meta.json.e-…) are sweep candidates; plain-named
    * sidecar files are not (a first replacement leaves the stale
    * plain file shadowed by the manifest — bytes, not a hazard). */
  private val EpochNamePattern = """.+\.e-[0-9a-f]{8}"""

  /** Minimum age (ms) since SUPERSESSION before a dereferenced
    * dir/file may be swept — round-19 verdict #3: commit-counted
    * grace alone let two quick maintenance ops reclaim an epoch a
    * slow query was still reading. Read per commit from the active
    * session so tests and deployments tune it live. */
  private def graceMinAgeMs(): Long = {
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.conf.get("spark.graft.index.graceMinAgeSec", "300"))
      .getOrElse("300")
    (conf.toDouble * 1000).toLong
  }

  /** Commit a new table layout for the index at `dir`: write the new
    * manifest to a temp file, ATOMIC_MOVE it over `_manifest.json`
    * (readers see old XOR new — never a torn manifest), then sweep
    * entries referenced by NEITHER the new nor the outgoing manifest
    * (= superseded at least two commits ago, or orphaned by a crashed
    * op) AND older than the [[graceMinAgeMs]] floor since their
    * supersession. Entries of the manifest just replaced survive this
    * commit — the one-cycle reader grace — and their supersession
    * time is stamped now, so the age floor counts from the moment a
    * reader could last have resolved them. SEGMENT-ONLY appends
    * (every outgoing entry still referenced — pure addition, table
    * births) skip the sweep entirely; ingest cycles that REPLACE a
    * sidecar (BM25/CMS/Bloom metas and sketches) are not pure
    * addition — the outgoing sidecar leaves the manifest, the sweep
    * runs, and long-lived readers of such indexes are protected by
    * the [[graceMinAgeMs]] retention floor, not by commit shape
    * (round-20 ADVICE: the floor IS the guarantee there). */
  private[graft] def commitEpoch(dir: String,
      tables: Map[String, Seq[String]]): Unit = {
    tables.foreach { case (k, vs) =>
      require(validEntryName(k) && vs.nonEmpty && vs.forall(validEntryName),
        s"manifest entry '$k' -> $vs has an empty segment list or a " +
          "name outside [A-Za-z0-9._-]")
    }
    val root = new java.io.File(dir)
    val cur = new java.io.File(root, ManifestName)
    val hadManifest = cur.exists()
    val outgoing = if (hadManifest) indexSnapshot(dir).allTables
      else Map.empty[String, Seq[String]]
    val epoch: Long = (if (hadManifest)
      """"epoch":(\d+)""".r.findFirstMatchIn(
        java.nio.file.Files.readString(cur.toPath))
        .map(_.group(1).toLong).getOrElse(0L)
      else 0L) + 1
    val json = tables.toSeq.sortBy(_._1)
      .map { case (k, vs) =>
        if (vs.lengthCompare(1) == 0) s""""$k":"${vs.head}""""
        else vs.map(v => s""""$v"""").mkString(s""""$k":[""", ",", "]")
      }
      .mkString(s"""{"epoch":$epoch,"tables":{""", ",", "}}")
    val tmp = new java.io.File(root,
      s".$ManifestName.tmp-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.writeString(tmp.toPath, json)
    java.nio.file.Files.move(tmp.toPath, cur.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val newRefs = tables.values.flatten.toSet
    val outRefs = outgoing.values.flatten.toSet
    val pureAddition = hadManifest && outRefs.subsetOf(newRefs)
    if (!pureAddition) {
      val now = System.currentTimeMillis()
      // stamp supersession time on everything leaving the manifest:
      // the age floor must count from when a reader could last have
      // resolved the name, not from when the dir was built
      (outRefs -- newRefs).foreach { n =>
        val f = new java.io.File(root, n)
        if (f.exists()) f.setLastModified(now)
      }
      val referenced = newRefs ++ outRefs
      val floorMs = graceMinAgeMs()
      Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(d => (d.getName.endsWith(".parquet") ||
          d.getName.matches(EpochNamePattern)) && !referenced(d.getName))
        .filter(d => now - d.lastModified() >= floorMs)
        .foreach { d =>
          System.err.println(s"[epoch] sweeping superseded ${d.getName}" +
            s" under $dir")
          deleteRec(d)
        }
    }
  }

  /** Per-index WRITER lock (round-19 verdict #2): every mutating op —
    * append, delete, purge, compaction — runs under it, so the
    * single-maintenance-writer contract is ENFORCED, not documented.
    * A second concurrent maintainer (other thread or other JVM)
    * refuses loudly instead of interleaving epoch commits and
    * sweeping the first writer's grace dirs. Re-entrant per thread
    * (public ops nest the shared tombstone/purge/append machinery);
    * cross-JVM via an advisory `FileChannel` lock on
    * `<dir>/_writer.lock`, which DIES WITH A CRASHED HOLDER'S JVM
    * (the RunLock property) — no stale-lock recovery protocol needed.
    * The lock file lives under the POSIX-checked warehouse root
    * ([[indexRoot]] rejects raw object-store schemes), so advisory
    * locks hold; an object-store deployment that drops the POSIX
    * mount must swap this for its store's lease primitive. */
  private object WriterLocks {
    final class Holder(val thread: Thread) {
      var count: Int = 1
    }
    val held = new java.util.concurrent.ConcurrentHashMap[String, Holder]()
  }

  private[graft] def withIndexWriter[T](dir: String)(body: => T): T = {
    val key = new java.io.File(dir).getCanonicalPath
    val cur = WriterLocks.held.get(key)
    if (cur != null && (cur.thread eq Thread.currentThread())) {
      cur.count += 1
      try body finally cur.count -= 1
    } else {
      def refuse(): Nothing = throw new IllegalStateException(
        s"index at $dir already has a live writer (lock " +
          s"$key/_writer.lock) — concurrent maintainers would " +
          "interleave epoch commits and sweep each other's grace " +
          "dirs; serialize mutating ops per index")
      new java.io.File(dir).mkdirs()
      val ch = java.nio.channels.FileChannel.open(
        new java.io.File(dir, "_writer.lock").toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val lock =
        try ch.tryLock()
        catch { case _: java.nio.channels.OverlappingFileLockException =>
          ch.close(); refuse()
        }
      if (lock == null) { ch.close(); refuse() }
      val h = new WriterLocks.Holder(Thread.currentThread())
      if (WriterLocks.held.putIfAbsent(key, h) != null) {
        lock.release(); ch.close(); refuse()
      }
      try body finally {
        WriterLocks.held.remove(key, h)
        lock.release()
        ch.close()
      }
    }
  }

  /** One atomic multi-entry mutation of the index at `dir`: stage
    * segment appends and sidecar-file replacements, then [[commit]]
    * them as ONE manifest swap. THE ingest-cycle
    * primitive (round-20): a BM25 append stages postings + dfs + ids
    * segments and the meta replacement, and a concurrent reader sees
    * the whole cycle or none of it. Crash before commit leaves
    * orphan epoch names (swept, age-floored, at a later commit) and
    * NO visible state change — the retry re-runs cleanly, which is
    * what retires the round-18 ledger-first crash orderings. Must be
    * used under [[withIndexWriter]]. */
  private[graft] final class EpochTxn(spark: SparkSession, dir: String) {
    private[graft] val snap: IndexSnapshot = indexSnapshot(dir)
    private var next: Map[String, Seq[String]] = snap.allTables
    private var touched = false

    /** Stage one new SEGMENT of `table` holding exactly `rows` —
      * never reads or touches existing segments. A segment that wrote
      * NO data files (an all-filtered-out batch, e.g. every doc of an
      * ingest cycle shorter than the window length) is NOT registered:
      * a file-less dir cannot infer a schema, and were it a table's
      * only registered segment every reader of that table would throw.
      * The orphan epoch dir is swept, age-floored, by a later commit —
      * exactly the crash-before-commit story. */
    def appendSegment(table: String, rows: DataFrame,
        partitionCols: Seq[String] = Nil): Unit = {
      val name = epochDirName(table)
      val w = rows.write
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*)
       else w).parquet(s"$dir/$name")
      if (dirHasData(new java.io.File(s"$dir/$name"))) {
        next += table -> (next.getOrElse(table, Seq.empty) :+ name)
        touched = true
      }
    }

    /** Stage a replacement of sidecar FILE `name` (meta json, sketch
      * bytes): `write` receives the fresh epoch-named target. */
    def replaceFile(name: String)(write: java.io.File => Unit): Unit = {
      val n = epochDirName(name)
      write(new java.io.File(dir, n))
      next += name -> Seq(n)
      touched = true
    }

    /** Swap the staged layout in — one atomic manifest move. No-op
      * when nothing was staged. */
    def commit(): Unit = if (touched) commitEpoch(dir, next)
  }

  /** Append `rows` to logical `table` of the index at `dir` as one
    * new SEGMENT, creating the table when absent — the one-table
    * convenience over [[EpochTxn]] (tombstone ledgers, single-table
    * segment appends). Always epoch-named + registered with one
    * commit, even on a legacy dir (whose first mutation thereby mints
    * the manifest, carrying every plain-named table unchanged).
    * Write-then-register: a crash between the two leaves an orphan
    * segment dir and NO visible state change — the retry re-runs
    * cleanly. */
  private[graft] def appendToTable(dir: String, table: String,
      rows: DataFrame, partitionCols: Seq[String] = Nil): Unit =
    withIndexWriter(dir) {
      val txn = new EpochTxn(rows.sparkSession, dir)
      txn.appendSegment(table, rows, partitionCols)
      txn.commit()
    }

  /** Hardlink `src` into `dst` (same filesystem — the epoch dirs live
    * next to the table they supersede), falling back to a byte copy
    * where links are unsupported. Used to carry untouched partition
    * files into a new epoch dir without rewriting them. */
  private def linkOrCopy(src: java.io.File, dst: java.io.File): Unit =
    try java.nio.file.Files.createLink(dst.toPath, src.toPath)
    catch { case _: UnsupportedOperationException | _: java.io.IOException =>
      java.nio.file.Files.copy(src.toPath, dst.toPath)
    }

  /** Resolve `key` through the in-JVM cache. A cached path is NOT
    * trusted blindly (round-14 ADVICE): a JVM alive longer than
    * sweepAgeDays could hold a path a same-family publish in another
    * process has since swept, and a cache hit used to hand it out
    * without refreshing its last-use time — so on every hit the
    * artifact is re-checked usable (else evicted and rebuilt) and its
    * use recorded, keeping a long-lived process's artifacts sweep-safe
    * exactly like a fresh JVM's. */
  private def cachedDir(spark: SparkSession, family: String,
      key: String)(build: String => Unit): String = {
    def publish(): String = loadOrBuild(spark, family, key)(build)
    val dir = built.computeIfAbsent(key, _ => publish())
    val f = new java.io.File(dir)
    if (usable(f, key)) { touchUsed(f); dir }
    else {
      // swept (or doctored) since this JVM cached it: rebuild through
      // the normal publish path
      built.remove(key, dir)
      built.computeIfAbsent(key, _ => publish())
    }
  }

  /** The artifact boundary: first caller per key builds and
    * publishes, everyone else scans the columnar artifact. */
  private[graft] def materialized(spark: SparkSession, family: String,
      key: String)(build: => DataFrame): DataFrame = {
    val dir = cachedDir(spark, family, key)(d =>
      build.write.mode("overwrite").parquet(s"$d/pairs.parquet"))
    spark.read.parquet(s"$dir/pairs.parquet")
  }

  /** Directory-artifact boundary for builders that lay out their own
    * structure ([[Similarity.buildIvfIndex]],
    * [[TextDedup.buildNearDupIndex]]) — returns the published
    * directory path. */
  private[graft] def materializedDir(spark: SparkSession,
      family: String, key: String)(build: String => Unit): String =
    cachedDir(spark, family, key)(build)
}
