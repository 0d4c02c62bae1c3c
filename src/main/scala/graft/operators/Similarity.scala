package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search: brute-force cosine top-k (the exact
  * baseline) and random-hyperplane LSH bucketing (the scale path), plus
  * embedding-cosine near-duplicate pairs. Pure DataFrame/HOF programs —
  * dot products run inside whole-stage codegen via `zip_with` +
  * `aggregate`, no UDFs.
  *
  * Numeric discipline: element products are computed in double (IEEE —
  * identical on any engine) and accumulated as DECIMAL(38,12), so dot
  * products are exact and order-independent; the final cosine is one
  * double division + round(6). This makes results hash-comparable to a
  * SQL oracle and invariant to partitioning.
  *
  * Scale design (billions of vectors): brute force is O(Q×N) — fine
  * for a broadcast query set against a partitioned corpus (no
  * shuffle; each partition scores its slice and a final top-k
  * merges). The LSH variant buckets corpus+queries by `bands`
  * sign-pattern keys so each query only meets its bucket collisions —
  * the standard recall/cost trade; both share the same scorer.
  */
object Similarity {

  /** Exact decimal dot product of two float-array columns. */
  def dotExact(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") * y.cast("double")).cast("decimal(28,12)")),
      lit(0).cast("decimal(38,12)"),
      // re-cast: decimal + decimal widens the type, but HOF aggregate
      // requires merge output == accumulator type exactly
      (acc, v) => (acc + v).cast("decimal(38,12)"))

  /** Squared L2 norm, exact decimal. */
  def norm2Exact(a: Column): Column = dotExact(a, a)

  /** Cosine similarity (double, rounded to 6 dp) from exact decimal
    * dot/norm building blocks — deterministic across engines. */
  def cosine(a: Column, b: Column): Column =
    round(
      dotExact(a, b).cast("double") /
        (sqrt(norm2Exact(a).cast("double")) *
          sqrt(norm2Exact(b).cast("double"))), 6)

  /** Fast all-double cosine — a fused native Catalyst expression
    * ([[graft.functions.VectorExpressions.cosineSimilarity]], one
    * allocation-free codegen loop for dot + both norms), used to
    * PREFILTER/PRERANK large candidate sets before the exact decimal
    * scorer runs on the few survivors. Deterministic (fixed
    * accumulation order) but engine-local — never emit this value. */
  def cosineFast(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosineSimilarity(a, b)

  /** Guard band between the fast-double prefilter and the exact
    * rounded-decimal decision boundary. */
  private val FastMargin = 1e-4

  /** Brute-force exact top-k cosine neighbors of each query vector.
    * `queries` is expected to be small (it is broadcast); the corpus
    * streams partition-parallel with no shuffle until the final
    * window. Self-matches (same id) are excluded. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_fast", cosineFast(col("qv"), col("cv")))
    rerankExact(scored, k)
  }

  /** Two-phase ranking: cheap double prerank keeps k+64 candidates per
    * query, then the exact decimal cosine scores that tiny set and
    * produces the final deterministic top-k. The guard band absorbs
    * double-vs-rounded-decimal drift; the one shape it cannot fully
    * cover is >64 candidates whose cosines tie at 6 dp exactly at the
    * k-th boundary (quantized embeddings) — widen the margin for such
    * corpora. */
  private def rerankExact(scored: DataFrame, k: Int): DataFrame = {
    val wFast = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_fast").desc, col("neighbor_id").asc)
    val exact = scored.withColumn("rk0", row_number().over(wFast))
      .filter(col("rk0") <= k + 64)
      .withColumn("cos", cosine(col("qv"), col("cv")))
    topKByScore(exact, "cos", k)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank"))
  }

  /** The ONE definition of the KNN family's deterministic top-k
    * contract — rank by (score desc, neighbor_id asc) per query —
    * shared by the exact reranker and the quantized-domain scorer so
    * the tie-break every oracle mirrors cannot drift between
    * implementations. */
  private def topKByScore(scored: DataFrame, scoreCol: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreCol).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Approximate top-k: queries meet only corpus vectors sharing one
    * of `tables` LSH bucket keys; exact cosine on the candidates.
    * Recall < 1 by construction; raise `tables`/lower `planes` to
    * trade cost for recall. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      planes: Int = 12, tables: Int = 4): DataFrame = {
    // no driver-side dims probe: the key kernel sizes its plane matrix
    // from the vectors at run time, so plan construction launches zero
    // Spark jobs (PlanSpec asserts this)
    def keyed(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id), col(vecCol).as(s"${id}_v"),
        explode(graft.functions.VectorExpressions.lshSignKeys(
          col(vecCol), planes, tables))
          .as(s"${id}_bk"))
    val q = keyed(queries, "query_id")
    val c = keyed(corpus, "neighbor_id")
    val cand = q.join(c,
        col("query_id_bk") === col("neighbor_id_bk") &&
          col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        col("query_id_v").as("qv"), col("neighbor_id_v").as("cv"))
      .distinct()
    val scored = cand.withColumn("cos_fast", cosineFast(col("qv"), col("cv")))
    rerankExact(scored, k)
  }

  /** IVF (inverted-file) ANN — the clustering scale path next to the
    * LSH one: a deterministic mini-k-means builds `nLists` centroids
    * (seeds = lowest xxhash64(id), `iterations` Lloyd steps, all as
    * DataFrame aggregations), every corpus vector lands in its nearest
    * list, and each query probes the `nProbe` nearest lists only. The
    * candidate set is then scored with the shared two-phase
    * (double → exact decimal) ranker. Recall < 1 by construction —
    * raise `nProbe` toward `nLists` to trade cost for recall. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nLists: Int = 0, nProbe: Int = 4,
      iterations: Int = 2, assignments: Int = 1,
      materializeCorpus: Boolean = false,
      trainCap: Int = 0): DataFrame =
    rerankExact(
      ivfCandidates(queries, corpus, idCol, vecCol, nLists, nProbe,
          iterations, assignments, materializeCorpus, trainCap)
        .withColumn("cos_fast", cosineFast(col("qv"), col("cv"))), k)

  /** IVF + SQ8 + exact rerank (q125) — the full production ANN
    * serving stack in one plan: the coarse quantizer prunes the
    * corpus to probed lists ([[ivfCandidates]] — ~√n of the
    * brute-force volume), the int8 SCALAR-QUANTIZED score preranks
    * the candidates (the memory-side path of [[quantizedTopK]]: a
    * deployment scores stored codes without touching the float
    * column), and the exact decimal cosine decides the final top-k
    * over the k+64 prerank survivors — [[rerankExact]]'s two-phase
    * contract with the double prefilter replaced by the SQ8 score,
    * whose rank perturbation the same guard band absorbs
    * (SimilaritySpec measures int8 recall@10 ≥ 0.9, so the top-k+64
    * window holds the true top-k with huge margin on this corpus).
    * Because the exact scorer decides the boundary, the output sits
    * under the SAME exact-KNN recall oracle as q47 — a candidate the
    * SQ8 prerank wrongly buried, or a list the probe missed, drops a
    * row and fails the hash. Codes are computed in-plan here (the
    * candidate volume is √n-bounded); the stored-index deployment
    * keeps them IN the inverted file next to each assignment, which
    * is precisely the IVF-SQ8 layout q115's partitioned artifact
    * extends to. */
  def ivfSq8TopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nLists: Int = 0, nProbe: Int = 4,
      iterations: Int = 2, assignments: Int = 1,
      trainCap: Int = 0): DataFrame = {
    val cand = ivfCandidates(queries, corpus, idCol, vecCol, nLists,
      nProbe, iterations, assignments, trainCap = trainCap)
    // scales HOIST to columns before the code lambdas reference them:
    // an inline int8Scale tree inside the per-lane `when` re-evaluates
    // the array_max once PER LANE (no loop-invariant hoisting inside
    // HOF lambdas — measured 21.8 s vs 2.6 s for this query), while a
    // multiply-referenced non-cheap alias survives CollapseProject as
    // its own projection
    val coded = cand
      .withColumn("sa", int8Scale(col("qv")))
      .withColumn("sb", int8Scale(col("cv")))
      .withColumn("cos_fast", cosineFast(
        int8CodesFrom(col("qv"), col("sa")).cast("array<float>"),
        int8CodesFrom(col("cv"), col("sb")).cast("array<float>")))
    rerankExact(coded, k)
  }

  /** The shared IVF training loop: derive the list count (√n by
    * default — a CONSTANT nLists degenerates at 100×: lists grow
    * linearly and every probe scans n/nLists ∝ n; the derive uses
    * the bounded [[approxRowCount]], never a full pre-scan), then
    * run the checkpointed Lloyd rounds over the BOUNDED training
    * sample. Each round is checkpointed because centroids are tiny
    * (nLists × dim) but their LINEAGE contains every prior round's
    * sample-wide assignment — left lazy, each downstream consumer
    * re-executes the whole k-means chain. The caller assigns the
    * full corpus once against the returned centroids. */
  private def trainCentroids(c: DataFrame, nLists: Int,
      iterations: Int, trainCap: Int): (DataFrame, Int) = {
    val n = approxRowCount(c)
    val lists =
      if (nLists > 0) nLists
      else math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    val cap = if (trainCap > 0) trainCap else ivfTrainCapDefault(lists)
    // checkpoint the SAMPLED frame (identity path stays lazy): the
    // seed pick and every Lloyd round otherwise re-execute the
    // full-corpus TakeOrdered, re-scanning n rows per round — the
    // very cost the bounded-training contract removes (the PQ path
    // checkpoints its sampled subvectors for the same reason)
    val train0 = trainingSample(c, cap, n)
    val train = if (train0 ne c) train0.localCheckpoint(true) else train0
    var centroids = deterministicSeeds(train, lists)
      .localCheckpoint(true)
    for (_ <- 0 until iterations)
      centroids = recomputeCentroids(assign(train, centroids, 1))
        .localCheckpoint(true)
    (centroids, lists)
  }

  /** Deterministic bounded TRAINING sample: the `cap` lowest-
    * xxhash64(id) corpus rows, or the corpus itself when it is at or
    * below the cap (identity — the correctness-gate regime, so every
    * oracle result is unchanged by sampling). This is what makes
    * k-means training cost independent of corpus size: at 10⁹
    * vectors the Lloyd rounds assign `cap` rows, not n, while the
    * full corpus is still encoded/assigned exactly once against the
    * sampled centroids/books.
    *
    * Two properties keep the sampled path deterministic and
    * seed-compatible: (a) the sample is the globally-lowest-hash
    * prefix, so [[deterministicSeeds]] (lowest nLists by the same
    * hash) and the per-subspace seed pick of [[trainPqBooks]]
    * (lowest ks by the same hash) select IDENTICAL seeds from the
    * sample as from the full corpus; (b) orderBy+limit is a
    * deterministic TakeOrdered — no RNG, reproducible across runs
    * and engines. The n ≤ cap branch returns the corpus frame
    * itself (reference-equal), so at gate scale the plans are
    * byte-identical to the unsampled ones. */
  private[graft] def trainingSample(c: DataFrame, cap: Int,
      approxN: Long): DataFrame =
    if (approxN <= cap) c
    else c.orderBy(xxhash64(col("neighbor_id")), col("neighbor_id"))
      .limit(cap)

  /** Default IVF training cap: ≥ 64 sample vectors per centroid,
    * floor 10⁴ — training volume grows with nLists (√n under the
    * default heuristic), never with n. */
  private def ivfTrainCapDefault(lists: Int): Int =
    math.max(10000, 64 * lists)

  /** Default PQ training cap: ≥ 256 sample vectors per codebook
    * entry, floor 10⁴ — independent of corpus size. */
  private def pqTrainCapDefault(ks: Int): Int =
    math.max(10000, 256 * ks)

  /** The IVF candidate set (query_id, qv, neighbor_id, cv) BEFORE any
    * scoring — public so the cost contract is testable: on a corpus
    * with real cluster locality, candidate rows must be a small
    * fraction of n·queries (the brute-force volume). */
  def ivfCandidates(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String,
      nLists: Int = 0, nProbe: Int = 4,
      iterations: Int = 2, assignments: Int = 1,
      materializeCorpus: Boolean = false,
      trainCap: Int = 0): DataFrame = {
    // the corpus projection is consumed by the list-count probe, the
    // seed pick, every Lloyd round, and the final assignment. When the
    // input is DERIVED (q53's jittered union), each consumer re-runs
    // the derivation — materializeCorpus=true feeds them from one
    // materialization (q53 5.4->4.7 s). For a plain table scan the
    // rescan is cheaper than the copy (q47 measured +0.4 s), hence
    // opt-in. At true 100 TB scale the IVF BUILD stages its assignment
    // table to storage anyway (this in-memory build is the per-job
    // path)
    val c0 = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val c = if (materializeCorpus) c0.localCheckpoint(true) else c0
    val (centroids, lists) = trainCentroids(c, nLists, iterations,
      trainCap)
    // multi-assignment (`assignments` > 1): store each corpus vector in
    // its top-N lists — standard IVF redundancy that multiplies storage
    // by N but cuts the unprobed-list miss rate superlinearly (a vector
    // is lost only if ALL its lists go unprobed)
    val assigned = assign(c, centroids, assignments)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probes = probeLists(q, centroids, nProbe)
    // probes = queries × nProbe rows — small by the same contract that
    // broadcasts the query set everywhere else. The explicit hint
    // matters because size ESTIMATES here are crossJoin-inflated (no
    // CBO): without it the planner may shuffle the corpus-sized
    // assignment table instead of map-side-joining it
    val scored = broadcast(probes).join(assigned, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("qv"), col("neighbor_id"), col("cv"))
      // a (query, neighbor) pair can meet in several probed lists under
      // multi-assignment — dedup before scoring
      .distinct()
    scored
  }

  /** Persist an IVF-SQ8 index to `dir`: centroids + per-list corpus
    * assignments. This is the economics q47's scaladoc calls out —
    * an ANN index only beats brute force when its BUILD amortizes
    * over many query batches, which requires the build to be a
    * separate, storable artifact. Layout:
    *  - `centroids.parquet` (list_id, centroid) — tiny, broadcast at
    *    query time;
    *  - `assignments.parquet` partitioned BY list_id — so a probe of
    *    nProbe lists touches nProbe/nLists of the files (Spark prunes
    *    partitions via dynamic partition pruning on the list_id join),
    *    the on-disk analog of an inverted file. Each assignment row
    *    carries the vector's symmetric-int8 quantization next to the
    *    float vector — `scale` (double) + `codes` (array<tinyint>,
    *    4× smaller than the floats) — which is exactly the IVF-SQ8
    *    layout: a probe preranks from the code column alone (column
    *    pruning never touches `cv`, see [[ivfSq8TopKFromIndex]]) and
    *    only the rerank survivors read the floats back.
    * Same deterministic build as [[ivfCandidates]] (hash-seeded
    * k-means, checkpointed Lloyd rounds, √n default list count from
    * the bounded sampled row count). */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, nLists: Int = 0, iterations: Int = 2,
      assignments: Int = 1, trainCap: Int = 0): Unit = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .localCheckpoint(true)
    val (centroids, _) = trainCentroids(c, nLists, iterations,
      trainCap)
    // meta records the ACTUAL built list count, not the requested
    // one: a Lloyd round can empty a list (recomputeCentroids groups
    // by assigned list_id — a duplicate-heavy corpus starves seeds),
    // and a cross-check against the REQUEST would permanently reject
    // an index the build itself just produced (round-16 review). The
    // count is one job over the tiny checkpointed centroid frame.
    val lists = centroids.count()
    centroids.write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    assign(c, centroids, assignments)
      // SQ8 codes materialize at BUILD time (the scale hoisted to its
      // own column first — the HOF loop-invariant rule): queries pay
      // zero quantization cost for the corpus side, and the stored
      // code column is the int8 artifact a serving tier holds in RAM
      .withColumn("scale", int8Scale(col("cv")))
      .withColumn("codes",
        int8CodesFrom(col("cv"), col("scale")).cast("array<tinyint>"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$dir/assignments.parquet")
    // the artifact records its own geometry (the _meta discipline):
    // the append path reads `assignments` back rather than trusting
    // a caller's redundancy parameter
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_meta.json"),
      s"""{"nLists":$lists,"iterations":$iterations,"assignments":$assignments}""")
  }

  /** Append an ingest batch to a persisted IVF index WITHOUT a
    * rebuild — the maintenance operation every deployed ANN index
    * runs per cycle: new vectors are assigned to the EXISTING
    * centroids (the coarse quantizer is a trained artifact; it does
    * not move per batch — re-clustering is the periodic offline job,
    * not the ingest path) and their rows — float vector + the SQ8
    * (scale, codes) pair — are appended into the matching `list_id`
    * partition directories. Per-cycle cost ∝ batch: one batch ×
    * centroids assignment (centroids broadcast), one partitioned
    * append; the existing corpus is never read, let alone
    * re-shuffled.
    *
    * Correctness is an identity, not an approximation: assignment is
    * per-vector against fixed centroids, so existing ∪ appended
    * assignments ≡ the assignment of the UNION corpus onto these
    * centroids — the appended index IS the index `buildIvfIndex`
    * would write given these centroids (IndexPathSpec pins it row
    * for row). Recall stays dataset-conditional in the usual sense:
    * centroids trained before the batch arrived can drift from the
    * union's true geometry, which is why deployments re-cluster
    * periodically; the q133 gate proves the exact-KNN oracle still
    * holds after a 25% append on the harness corpus.
    *
    * The append relies on the warehouse's POSIX roots (enforced by
    * [[Warehouse.indexRoot]]): partitioned `mode("append")` is not
    * atomic across files, so a batch append belongs INSIDE the
    * artifact build (the q133 entry appends during the warehouse
    * publish, never against a live served directory) or behind the
    * deployment's own ingest-cycle barrier. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = Warehouse.withIndexWriter(dir) {
    val meta = Warehouse.readMetaJson(dir, "IVF index")
    def metaInt(key: String): Int =
      Warehouse.metaLong(meta, dir, key).toInt
    val assignments = metaInt("assignments")
    val nLists = metaInt("nLists")
    val snap = Warehouse.indexSnapshot(dir)
    // a TOMBSTONED id is not re-appendable until the purge physically
    // removes its old rows — they would resurface next to the new
    // generation's under one id once the serve-time anti-join lifts
    // (the BM25 q161 rule; duplicate APPENDS of a live id stay benign
    // — serving dedups candidate pairs). By-name batch ids: the
    // common no-ledger append path pays no extra job.
    Warehouse.requireNoTombstoned(spark, snap,
      batch.select(col(idCol).as("neighbor_id")).distinct(),
      "neighbor_id", s"IVF index at $dir")
    val centroids = spark.read.parquet(snap.path("centroids.parquet"))
      .localCheckpoint(true)
    // cross-check the full geometry, not just the redundancy
    // (round-16 ADVICE): a hand-assembled directory whose centroids
    // disagree with _meta.json would otherwise be silently accepted —
    // the meta discipline everywhere else re-reads ALL geometry
    val nCent = centroids.count()
    require(nCent == nLists,
      s"IVF index at $dir is inconsistent: _meta.json declares " +
        s"nLists=$nLists but centroids.parquet holds $nCent rows — " +
        "mismatched or hand-assembled artifact; rebuild the index")
    val b = batch.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"))
    // one new list_id-partitioned SEGMENT + one manifest swap
    // (round-20): nothing appends into a dir a concurrent reader
    // could be listing — the reader serves pre- or post-append, never
    // a torn batch
    Warehouse.appendToTable(dir, "assignments.parquet",
      assign(b, centroids, assignments)
        .withColumn("scale", int8Scale(col("cv")))
        .withColumn("codes",
          int8CodesFrom(col("cv"), col("scale")).cast("array<tinyint>")),
      Seq("list_id"))
  }

  /** Query a persisted IVF index ([[buildIvfIndex]]): probe the
    * `nProbe` nearest lists per query, score candidates with the
    * shared two-phase ranker. Identical results to an in-memory
    * [[ivfTopK]] built with the same parameters (SimilaritySpec pins
    * the equivalence); the index scan reads only probed list
    * partitions. */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, idCol: String, vecCol: String, dir: String,
      k: Int, nProbe: Int = 4): DataFrame = {
    // ONE snapshot per batch: both artifact scans and the tombstone
    // filter resolve against the same epoch (a purge committing
    // mid-query can never mix old rows with a dropped ledger)
    val snap = Warehouse.indexSnapshot(dir)
    val centroids = spark.read.parquet(snap.path("centroids.parquet"))
    val assigned = withoutDeleted(spark, snap,
      snap.read(spark, "assignments.parquet"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // checkpoint the tiny probe table (queries x nProbe rows): it has
    // TWO consumers — the driver-side probed-id resolve and the
    // broadcast scoring join — and left lazy each would re-run the
    // centroid scan + crossJoin + window (one extra job per batch,
    // measured on the q134 suite cell)
    val probes = probeLists(q, centroids, nProbe).localCheckpoint(true)
    // STATIC partition pruning, by construction: resolve the probed
    // list ids driver-side (bounded — at most queries × nProbe rows
    // of one int; this is the inherent "plan the read" phase of any
    // index lookup) and filter the partition column with literals, so
    // the file listing itself skips every unprobed list directory.
    // Dynamic partition pruning was tried and is NOT trustworthy
    // here: its broadcast-reuse-only default plans the leaf scan
    // stage before any broadcast stage exists under AQE, and the
    // filter silently degrades to `true` — a full scan that erases
    // the index read-side economics. IndexPathSpec pins partitions
    // read == lists probed.
    val probedIds = probes.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    // probes = queries × nProbe rows — broadcast by the same contract
    // that broadcasts the query set everywhere else, so the (pruned)
    // assignments scan map-side-joins without a shuffle
    val scored = broadcast(probes)
      .join(assigned.filter(col("list_id")
        .isin(probedIds.toSeq: _*)), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("qv"), col("neighbor_id"), col("cv"))
      .distinct()
      .withColumn("cos_fast", cosineFast(col("qv"), col("cv")))
    rerankExact(scored, k)
  }

  /** Serve ANN from the STORED IVF-SQ8 index (q126) — the cheapest
    * rung of the serving ladder and the path a deployment actually
    * runs per query batch: [[ivfSq8TopK]]'s three phases with both
    * index-side phases fed from [[buildIvfIndex]]'s artifact instead
    * of in-plan work.
    *
    *  1. PROBE: centroids (tiny) rank the `nProbe` nearest lists per
    *     query; the probed ids resolve driver-side (bounded:
    *     queries × nProbe ints) into literal partition filters, so
    *     the file listing skips every unprobed list directory (the
    *     same static-pruning decision as [[ivfTopKFromIndex]] — DPP
    *     degrades to `true` here, see that scaladoc).
    *  2. SQ8 PRERANK from the artifact: the candidate scan reads
    *     (neighbor_id, scale, codes) ONLY — parquet column pruning
    *     drops the float `cv` column, so the serving read is the 4×
    *     smaller int8 layout end to end (IndexPathSpec asserts the
    *     code scan's ReadSchema carries no `cv`). Query vectors
    *     quantize in-plan (they are ad-hoc; the corpus codes are the
    *     stored ones) and the scales cancel out of the cosine, so
    *     the prerank never dequantizes.
    *  3. EXACT RERANK: the k+64 prerank survivors (queries × (k+64)
    *     rows) join back to the float vectors via a SECOND scan of
    *     the artifact — still pruned to the probed partitions, now
    *     reading `cv` for survivor rows only — and the exact decimal
    *     cosine decides the final top-k. Same oracle contract as
    *     q47/q115/q125: one neighbor the stored codes wrongly buried
    *     drops a row and fails the hash.
    *
    * Identical results to [[ivfSq8TopK]] built with the same
    * parameters: the stored codes are [[int8CodesFrom]] of the same
    * vectors, so prerank scores — and therefore survivor sets and
    * the exact decision — match bit for bit (IndexPathSpec pins the
    * equivalence). */
  def ivfSq8TopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, idCol: String, vecCol: String, dir: String,
      k: Int, nProbe: Int = 4): DataFrame = {
    val snap = Warehouse.indexSnapshot(dir)
    val centroids = spark.read.parquet(snap.path("centroids.parquet"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // checkpoint the tiny probe table (queries x nProbe rows): it has
    // TWO consumers — the driver-side probed-id resolve and the
    // broadcast scoring join — and left lazy each would re-run the
    // centroid scan + crossJoin + window (one extra job per batch,
    // measured on the q134 suite cell)
    val probes = probeLists(q, centroids, nProbe).localCheckpoint(true)
    val probedIds = probes.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    // queries quantize in-plan: scale hoisted to a column before the
    // code lambda references it (the q125 loop-invariant rule)
    val qCoded = probes
      .withColumn("sa", int8Scale(col("qv")))
      .withColumn("qcodes",
        int8CodesFrom(col("qv"), col("sa")).cast("array<float>"))
      .select(col("query_id"), col("qv"), col("qcodes"), col("list_id"))
    // phase 2: the codes-only serving scan. The projection lists
    // exactly the prerank columns so the parquet reader never
    // materializes `cv` — the scan IS the int8 memory layout.
    val codeScan = withoutDeleted(spark, snap,
      snap.read(spark, "assignments.parquet")
        .filter(col("list_id").isin(probedIds.toSeq: _*))
        .select(col("list_id"), col("neighbor_id"), col("codes")))
    val prerank = broadcast(qCoded).join(codeScan, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // multi-assignment: a pair can meet in several probed lists
      .select(col("query_id"), col("qv"), col("qcodes"),
        col("neighbor_id"), col("codes"))
      .distinct()
      .withColumn("cos_fast",
        cosineFast(col("qcodes"), col("codes").cast("array<float>")))
    val wFast = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_fast").desc, col("neighbor_id").asc)
    val survivors = prerank
      .withColumn("rk0", row_number().over(wFast))
      .filter(col("rk0") <= k + 64)
      .select(col("query_id"), col("qv"), col("neighbor_id"))
    // phase 3: fetch floats for the survivors — a second, still
    // partition-pruned scan of the artifact, joined map-side against
    // the broadcast survivor set (queries × (k+64) rows) FIRST, so
    // `cv` is materialized for probed-partition rows only and
    // SHUFFLED for survivors only. The multi-assignment dedup
    // (a vector stored in several probed lists yields identical
    // rows) runs AFTER the join, keyed on the survivor pair — a
    // dedup before the join would be an aggregate over every probed
    // row's float vector, re-shipping the very column the SQ8
    // layout exists to avoid (round-15 review).
    // no tombstone filter needed here: a deleted id cannot survive
    // the (filtered) prerank, and cvFetch only joins survivors
    val cvFetch = snap.read(spark, "assignments.parquet")
      .filter(col("list_id").isin(probedIds.toSeq: _*))
      .select(col("neighbor_id"), col("cv"))
    val exact = cvFetch.join(broadcast(survivors), Seq("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cos", cosine(col("qv"), col("cv")))
    topKByScore(exact, "cos", k)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank"))
  }

  // ── product quantization (q130) ────────────────────────────────────

  /** (id, s, sv): every vector exploded into its `m` subvectors. */
  private def subvectors(c: DataFrame, m: Int, subDim: Int): DataFrame =
    c.select(col("neighbor_id"), explode(array((0 until m).map(s =>
        struct(lit(s).as("s"),
          slice(col("cv"), s * subDim + 1, subDim).as("sv"))): _*)).as("e"))
      .select(col("neighbor_id"), col("e.s").as("s"), col("e.sv").as("sv"))

  /** PQ codebooks (s, c, centroid): per-subspace k-means, trained the
    * IVF way (hash-picked deterministic seeds, checkpointed Lloyd
    * rounds) but keyed by subspace — all `m` books train in ONE
    * DataFrame job per round over the exploded subvector table, not
    * m driver-side loops. */
  private def trainPqBooks(subs: DataFrame, ks: Int,
      iterations: Int): DataFrame = {
    val wSeed = Window.partitionBy(col("s"))
      .orderBy(xxhash64(col("neighbor_id")), col("neighbor_id"))
    var books = subs.withColumn("rn", row_number().over(wSeed))
      .filter(col("rn") <= ks)
      .select(col("s"), (col("rn") - 1).as("c"), col("sv").as("centroid"))
      .localCheckpoint(true)
    // the ADC table indexes positionally as s·ks + c, which requires
    // EVERY book to hold exactly ks entries — a corpus smaller than ks
    // seeds partial books and silently misaligns the LUT (round-16
    // ADVICE). Fail loudly like the other scope bounds; the check is
    // one job over the tiny checkpointed seed frame (m rows grouped).
    val seedCounts = books.groupBy(col("s")).count().collect()
    require(seedCounts.nonEmpty &&
        seedCounts.forall(_.getLong(1) == ks),
      s"PQ training needs a corpus of at least ks=$ks vectors " +
        s"(per-subspace seed counts: ${seedCounts.map(r =>
          s"s=${r.getInt(0)}:${r.getLong(1)}").mkString(", ")}) — " +
        "a smaller corpus cannot fill the books and would misalign " +
        "the positional ADC table; lower ks or grow the corpus")
    for (_ <- 0 until iterations) {
      val assigned = assignPq(subs, books)
      val recomputed = assigned
        .select(col("s"), col("c"),
          posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("s"), col("c"), col("pos"))
        // EXACT decimal mean, not avg(double): a double sum is
        // partition-order dependent, and PQ's thin rerank margin on
        // Gaussian data turns a last-ulp centroid wobble into a
        // pass/fail flicker of the hash gate (measured: the same
        // corpus/window passed isolated and failed under Verify's
        // concurrent scheduling). Decimal accumulation makes the
        // books a pure function of the corpus — training cost only.
        .agg((sum(col("x").cast("decimal(28,12)")) /
          count(lit(1))).cast("double").as("mv"))
        .groupBy(col("s"), col("c"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mv"))))
          .as("pm"))
        .select(col("s"), col("c"),
          transform(col("pm"), e => e.getField("mv").cast("float"))
            .as("nc"))
      // EMPTY-CLUSTER handling: an entry that attracted no subvector
      // this round (duplicate-heavy corpora starve entries — the
      // clustered fixture does) keeps its previous centroid, so every
      // book always holds exactly ks entries and the ADC table's
      // positional indexing (s·ks + c) stays dense
      books = books.join(recomputed, Seq("s", "c"), "left")
        .select(col("s"), col("c"),
          coalesce(col("nc"), col("centroid")).as("centroid"))
        .localCheckpoint(true)
    }
    books
  }

  /** Nearest-codebook-entry assignment per (id, subspace) — ONE
    * per-row kernel over the collected books
    * ([[graft.functions.VectorExpressions.pqNearestCode]], r22 guide
    * §2.4/§1.2): the former broadcast-join + min_by/first formulation
    * fanned subvectors out × ks rows and aggregated them back, and
    * because the agg buffer carried the ARRAY-typed `sv` it planned
    * as a SortAggregate pair around a full corpus × m exchange —
    * measured 30-40 s of task time per pass at sf0.1 (the dominant
    * CPU of every Lloyd round and of the one-time encode). Books are
    * m × ks rows by construction (what the old plan broadcast) and
    * every caller hands them over materialized; the kernel
    * replicates `min_by(c, struct(d2, c))` bit for bit (same L2
    * accumulation order, SQL double ordering, ascending-c strict
    * tie-break). Assignment now runs shuffle-free in the subvector
    * table's partitioning, `sv` passing through untouched. */
  private def assignPq(subs: DataFrame, books: DataFrame): DataFrame = {
    val rows = books.select(col("s"), col("c"), col("centroid"))
      .collect()
    val m = rows.map(_.getInt(0)).max + 1
    require(rows.length % m == 0,
      s"PQ books are not dense: ${rows.length} entries over $m subspaces")
    val ks = rows.length / m
    val arr = new Array[Array[Float]](rows.length)
    rows.foreach { r =>
      arr(r.getInt(0) * ks + r.getInt(1)) = r.getSeq[Float](2).toArray
    }
    require(arr.forall(_ != null),
      "PQ books are not dense: missing (s, c) entries")
    subs.withColumn("c", graft.functions.VectorExpressions.pqNearestCode(
        col("sv"), col("s"), arr, ks))
      .select(col("neighbor_id"), col("s"), col("c"), col("sv"))
  }

  /** Brute-force ANN over PRODUCT-QUANTIZED codes (q130) — the
    * deepest-compression rung of the ANN ladder (brute → LSH → IVF →
    * SQ8 → PQ): the corpus is represented by `m` one-byte codebook
    * ids per vector (m = 8 at d = 64 is 8 bytes — 32× smaller than
    * the float column, 4× smaller again than SQ8), scored by
    * ASYMMETRIC DISTANCE COMPUTATION: each query precomputes a
    * lookup table of its subvector dot products against every
    * codebook entry (m × ks values), and a candidate's approximate
    * dot is m table lookups — no float vector is touched until the
    * exact rerank.
    *
    * Pipeline: per-subspace k-means codebooks (deterministic
    * hash-seeded Lloyd, trained in one job per round over the
    * exploded subvector table) → corpus encoded to (codes,
    * reconstruction norm) → queries broadcast with their ADC tables
    * → approximate cosine = Σ lut[s][code_s] / (‖q‖·‖x̂‖) preranks →
    * the k+`rerank` survivors join their float vectors back and the
    * exact decimal cosine decides — the same two-phase contract as
    * [[ivfSq8TopK]] with a WIDER guard window (PQ is a coarser
    * quantizer than SQ8). Window economics are dataset-conditional
    * in exactly q47's sense: on a corpus with real cluster structure
    * the true neighbors sit at the very top of the ADC order and the
    * default 256-row window is generous (q131 demonstrates this on
    * the clustered corpus at the ks=16 default); on the GAUSSIAN
    * fixture — PQ's worst case, no structure for the codebooks to
    * exploit — displacement is deep (measured: ks=16 buried true
    * top-3 below rank 74 at 500 vectors; ks=64 still misses 2 of 30
    * inside 256 at 2000 vectors) and the q130 gate pins a
    * near-half-corpus window, the PQ analog of q47's near-exhaustive
    * probe. A deployment tunes ks/m up, not the window (finer
    * codebooks shrink displacement; a window ∝ n erodes the 32×
    * read saving). Same exact-KNN oracle either way: a true
    * neighbor the PQ distortion buries below rank k+rerank drops a
    * row and fails the hash.
    *
    * Scale shape: training touches the corpus iterations+2 times
    * (column-pruned float reads); serving scans only the 8-byte code
    * column with a broadcast LUT — the q124 brute-force shape at a
    * 32nd of the memory traffic. A deployment stores (codes, xnorm)
    * as the serving artifact exactly like the SQ8 column of
    * [[buildIvfIndex]]. */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, dims: Int = 64,
      m: Int = 8, ks: Int = 16, iterations: Int = 2,
      rerank: Int = 256, trainCap: Int = 0): DataFrame = {
    require(dims % m == 0, s"PQ needs m | dims ($m vs $dims)")
    val subDim = dims / m
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv")).localCheckpoint(true)
    val (subs, books) = trainBooksSampled(c, m, subDim, ks, iterations,
      trainCap)
    val codes = encodePq(subs, books)
    pqServe(queries, idCol, vecCol, books, codes, c, k, m, ks, subDim,
      rerank)
  }

  /** PQ codebook training over the BOUNDED sample + the full-corpus
    * subvector table for the one-time encode: returns (subs, books).
    * At gate scale (corpus ≤ cap) the sample IS the corpus and ONE
    * exploded subvector table feeds seeding, every Lloyd round, and
    * the final encode — byte-identical plans to the unsampled path.
    * Past the cap, training volume is cap × m × ks per round no
    * matter how large the corpus; only the single encode pass stays
    * linear. */
  private def trainBooksSampled(c: DataFrame, m: Int, subDim: Int,
      ks: Int, iterations: Int, trainCap: Int): (DataFrame, DataFrame) = {
    val cap = if (trainCap > 0) trainCap else pqTrainCapDefault(ks)
    val train = trainingSample(c, cap, approxRowCount(c))
    val subs = subvectors(c, m, subDim).localCheckpoint(true)
    val subsTrain =
      if (train eq c) subs
      else subvectors(train, m, subDim).localCheckpoint(true)
    (subs, trainPqBooks(subsTrain, ks, iterations))
  }

  /** Encode: nearest entry per subspace; codes packed s-ascending,
    * reconstruction norm ‖x̂‖ from the chosen entries' norms —
    * (neighbor_id, codes, xnorm), the PQ serving artifact. */
  private def encodePq(subs: DataFrame, books: DataFrame): DataFrame = {
    val bookN2 = books.withColumn("n2",
      aggregate(col("centroid"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
    assignPq(subs, bookN2.select(col("s"), col("c"), col("centroid")))
      .join(broadcast(bookN2.select(col("s"), col("c"), col("n2"))),
        Seq("s", "c"))
      .groupBy(col("neighbor_id"))
      .agg(
        transform(array_sort(collect_list(struct(col("s"), col("c")))),
          e => e.getField("c")).as("codes"),
        // decimal sum: m doubles aggregated in nondeterministic row
        // order would wobble the reconstruction norm by an ulp —
        // same determinism discipline as the codebook means
        sqrt(sum(col("n2").cast("decimal(28,12)")).cast("double"))
          .as("xnorm"))
  }

  /** The ADC query side, the ONE definition shared by every PQ
    * serving path (flat [[pqServe]] and the inverted-file
    * [[ivfPqTopKFromIndex]]): per query, the lookup table
    * lut[s·ks + c] = dot(q_s, centroid_{s,c}) (m × ks doubles) plus
    * the query norm — both broadcast with the query row, so a
    * candidate's approximate dot is m table lookups. */
  private def adcQuerySide(q: DataFrame, books: DataFrame,
      ks: Int, subDim: Int): DataFrame = {
    val lut = q.crossJoin(broadcast(books))
      .withColumn("dp", aggregate(
        zip_with(slice(col("qv"), col("s") * subDim + 1, lit(subDim)),
          col("centroid"),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v))
      .groupBy(col("query_id"))
      .agg(
        transform(array_sort(collect_list(
            struct((col("s") * ks + col("c")).as("i"), col("dp")))),
          e => e.getField("dp")).as("lut"))
    q.join(lut, Seq("query_id"))
      .withColumn("qnorm",
        sqrt(aggregate(col("qv"), lit(0.0),
          (acc, v) => acc + v.cast("double") * v.cast("double"))))
  }

  /** The ADC approximate cosine over a candidate row carrying
    * (codes, xnorm, lut, qnorm): Σ_s lut[s·ks + codes_s] /
    * (‖q‖·‖x̂‖) — m positional lookups, no float vector touched. */
  private def adcScore(m: Int, ks: Int): Column =
    aggregate(
      zip_with(col("codes"),
        sequence(lit(0), lit(m - 1)),
        (cc, s) => element_at(col("lut"),
          (s * ks + cc + 1).cast("int"))),
      lit(0.0), (acc, v) => acc + v) /
      (col("qnorm") * col("xnorm"))

  /** The PQ SERVING phase, shared by the in-plan [[pqTopK]] and the
    * stored-index [[pqTopKFromIndex]]: broadcast ADC tables, code-only
    * prerank, exact rerank on the k+`window` survivors fetched from
    * `cvSource` (the float side — the corpus in-plan, a column-pruned
    * second artifact scan when stored). */
  private def pqServe(queries: DataFrame, idCol: String, vecCol: String,
      books: DataFrame, codes: DataFrame, cvSource: DataFrame,
      k: Int, m: Int, ks: Int, subDim: Int, window: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val qSide = adcQuerySide(q, books, ks, subDim)
    // ADC prerank: m lookups per candidate, scanning codes only
    val prerank = codes
      .select(col("neighbor_id"), col("codes"), col("xnorm"))
      .join(broadcast(qSide), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_pq", adcScore(m, ks))
    val wFast = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_pq").desc, col("neighbor_id").asc)
    val survivors = prerank
      .withColumn("rk0", row_number().over(wFast))
      .filter(col("rk0") <= k + window)
      .select(col("query_id"), col("qv"), col("neighbor_id"))
    val exact = cvSource.select(col("neighbor_id"), col("cv"))
      .join(broadcast(survivors), Seq("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    topKByScore(exact, "cos", k)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank"))
  }

  /** Persist a PQ index to `dir`: `books.parquet` (s, c, centroid —
    * tiny, broadcast at query time) and `codes.parquet`
    * (neighbor_id, codes, xnorm, cv) — one row per corpus vector
    * carrying the m-byte code next to the float vector, so the
    * serving scan column-prunes to the code layout and only the
    * rerank survivors read floats back (the [[buildIvfIndex]]
    * contract, flat instead of list-partitioned: ADC is a brute scan
    * by design). Same deterministic build as [[pqTopK]]. */
  def buildPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, dims: Int = 64, m: Int = 8, ks: Int = 16,
      iterations: Int = 2, trainCap: Int = 0): Unit = {
    require(dims % m == 0, s"PQ needs m | dims ($m vs $dims)")
    val subDim = dims / m
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv")).localCheckpoint(true)
    val (subs, books) = trainBooksSampled(c, m, subDim, ks, iterations,
      trainCap)
    books.write.mode("overwrite").parquet(s"$dir/books.parquet")
    encodePq(subs, books).join(c, Seq("neighbor_id"))
      .write.mode("overwrite").parquet(s"$dir/codes.parquet")
    // the artifact DEFINES its geometry: the serving side reads
    // these back rather than trusting caller parameters — a
    // mismatched ks/m would not error, it would silently misalign
    // the positional ADC table (the buildNearDupIndex _meta
    // precedent, round-15 review)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_meta.json"),
      s"""{"dims":$dims,"m":$m,"ks":$ks,"iterations":$iterations}""")
  }

  /** Append an ingest batch to a persisted PQ index WITHOUT a
    * rebuild — [[appendToIvfIndex]]'s analog for the flat PQ layout
    * (round-15 verdict #3): the batch is encoded against the FIXED
    * stored codebooks (books are a trained artifact; they do not move
    * per batch — retraining is the periodic offline job) and its
    * (codes, xnorm, cv) rows are appended to `codes.parquet`.
    * Per-cycle cost ∝ batch: one batch × m × ks encode assignment
    * (books broadcast), one flat append; the existing corpus is
    * never read.
    *
    * Correctness is the same identity as the IVF append: encoding is
    * per-vector against fixed books, so existing ∪ appended codes ≡
    * the encode of the UNION corpus against these books —
    * IndexPathSpec pins existing rows untouched and appended rows ≡
    * the batch. Recall stays dataset-conditional: books trained
    * before the batch arrived can drift from the union's geometry,
    * which is why deployments retrain periodically; the q135 gate
    * proves the exact-KNN oracle still holds after a 25% append.
    *
    * Geometry (dims, m, ks) comes from the artifact's own
    * `_meta.json`, cross-checked against the stored books (the
    * established meta discipline); like the IVF append, the
    * non-atomic file append belongs inside an artifact build or
    * behind the deployment's ingest-cycle barrier. */
  def appendToPqIndex(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = Warehouse.withIndexWriter(dir) {
    val meta = Warehouse.readMetaJson(dir, "PQ index")
    def metaInt(key: String): Int =
      Warehouse.metaLong(meta, dir, key).toInt
    val dims = metaInt("dims"); val m = metaInt("m")
    val ks = metaInt("ks")
    val snap = Warehouse.indexSnapshot(dir)
    val nBooks = graft.Tables.parquetRowCount(spark,
      snap.path("books.parquet"))
    require(nBooks == m.toLong * ks,
      s"PQ index at $dir is inconsistent: _meta.json declares " +
        s"m=$m ks=$ks (${m * ks} book entries) but books.parquet " +
        s"holds $nBooks — rebuild the index")
    val books = spark.read.parquet(snap.path("books.parquet"))
      .localCheckpoint(true)
    val b = batch.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv")).localCheckpoint(true)
    // tombstoned ids must purge before re-appending (see
    // [[appendToIvfIndex]])
    Warehouse.requireNoTombstoned(spark, snap,
      b.select(col("neighbor_id")).distinct(), "neighbor_id",
      s"PQ index at $dir")
    // one new code SEGMENT + one manifest swap (round-20): a
    // concurrent reader serves pre- or post-append, never a torn batch
    Warehouse.appendToTable(dir, "codes.parquet",
      encodePq(subvectors(b, m, dims / m), books)
        .join(b, Seq("neighbor_id")))
  }

  /** Serve ANN from a persisted PQ index ([[buildPqIndex]]):
    * identical results to an in-plan [[pqTopK]] built with the same
    * parameters (the stored codes are the same deterministic
    * encode), with zero training cost per query batch — the PQ
    * analog of [[ivfSq8TopKFromIndex]], and the cheapest serving
    * rung when the whole corpus must be scanned: the prerank reads
    * m bytes + one float per vector (IndexPathSpec asserts the code
    * scan's ReadSchema carries no `cv`). The index geometry (dims,
    * m, ks) comes from the artifact's own `_meta.json` — never from
    * the caller, whose mismatch would silently misalign the
    * positional ADC table; a missing meta file means a partial
    * build or manual copy and fails loudly. `rerank` stays a
    * query-time knob. */
  def pqTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, idCol: String, vecCol: String, dir: String,
      k: Int, rerank: Int = 256): DataFrame = {
    val meta = Warehouse.readMetaJson(dir, "PQ index")
    def metaInt(key: String): Int =
      Warehouse.metaLong(meta, dir, key).toInt
    val dims = metaInt("dims")
    val m = metaInt("m")
    val ks = metaInt("ks")
    val snap = Warehouse.indexSnapshot(dir)
    val books = spark.read.parquet(snap.path("books.parquet"))
    val stored = snap.read(spark, "codes.parquet")
    // tombstone filter on the PRERANK side only: a deleted id cannot
    // survive it, and the float fetch joins survivors
    pqServe(queries, idCol, vecCol, books,
      withoutDeleted(spark, snap,
        stored.select(col("neighbor_id"), col("codes"), col("xnorm"))),
      stored.select(col("neighbor_id"), col("cv")),
      k, m, ks, dims / m, rerank)
  }

  // ── IVF-PQ composed index (IVFADC, q134) ───────────────────────────

  /** Persist an IVF-PQ (IVFADC) index to `dir` — the composition of
    * the two rungs the ladder proves separately, and the production
    * layout at 10⁹ vectors: PQ codes stored INSIDE the
    * list-partitioned inverted file, so query-time ADC runs only
    * over probed lists (~√n of [[pqTopKFromIndex]]'s flat code scan)
    * while keeping PQ's m-byte-per-vector read volume. Layout:
    *  - `centroids.parquet` (list_id, centroid) — the coarse
    *    quantizer, tiny, broadcast at query time;
    *  - `books.parquet` (s, c, centroid) — the PQ codebooks, tiny,
    *    broadcast into each query's ADC table;
    *  - `assignments.parquet` partitioned BY list_id, each row
    *    (neighbor_id, cv, codes, xnorm): the float vector next to
    *    its m-byte PQ code and reconstruction norm, so the prerank
    *    column-prunes to the code layout and only rerank survivors
    *    read floats back (the [[buildIvfIndex]] contract with the
    *    SQ8 column swapped for PQ codes).
    * Codes quantize the RAW vectors (not per-list residuals — the
    * cosine ADC of [[pqTopK]], so one codebook set serves every
    * list and the stored encode is the same deterministic
    * [[encodePq]] the flat index stores); same deterministic
    * hash-seeded k-means as both parents. */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, nLists: Int = 0, iterations: Int = 2,
      assignments: Int = 1, dims: Int = 64, m: Int = 8, ks: Int = 16,
      pqIterations: Int = 2, trainCap: Int = 0): Unit = {
    require(dims % m == 0, s"PQ needs m | dims ($m vs $dims)")
    val subDim = dims / m
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .localCheckpoint(true)
    val (centroids, _) = trainCentroids(c, nLists, iterations,
      trainCap)
    // ACTUAL built list count into meta (see buildIvfIndex): a Lloyd
    // round can empty a list, and the serving-side cross-check must
    // compare against what was built, not what was requested. Books
    // need no such guard — trainPqBooks' empty-cluster rule keeps
    // every book at exactly ks entries by construction.
    val lists = centroids.count()
    centroids.write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    val (subs, books) = trainBooksSampled(c, m, subDim, ks,
      pqIterations, trainCap)
    books.write.mode("overwrite").parquet(s"$dir/books.parquet")
    // one corpus-wide equi-join marries each vector's list assignment
    // to its PQ encode — build-time cost, amortized like every index
    // build; the artifact is what the serving tier scans
    assign(c, centroids, assignments)
      .join(encodePq(subs, books), Seq("neighbor_id"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$dir/assignments.parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_meta.json"),
      s"""{"nLists":$lists,"iterations":$iterations,""" +
        s""""assignments":$assignments,"dims":$dims,"m":$m,""" +
        s""""ks":$ks,"pqIterations":$pqIterations}""")
  }

  /** Append an ingest batch to a persisted IVF-PQ index WITHOUT a
    * rebuild — the composed analog of [[appendToIvfIndex]] +
    * [[appendToPqIndex]] (both coarse quantizer and codebooks are
    * trained artifacts; neither moves per batch): the batch assigns
    * to the stored centroids, encodes against the stored books, and
    * its rows append into the matching `list_id` partitions. Same
    * identity as the parents (per-vector against fixed artifacts ≡
    * the union build on these artifacts), same geometry cross-checks,
    * same tombstone purge-first rule, per-cycle cost ∝ batch. */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = Warehouse.withIndexWriter(dir) {
    val meta = Warehouse.readMetaJson(dir, "IVF-PQ index")
    def metaInt(key: String): Int =
      Warehouse.metaLong(meta, dir, key).toInt
    val dims = metaInt("dims"); val m = metaInt("m")
    val ks = metaInt("ks"); val nLists = metaInt("nLists")
    val assignments = metaInt("assignments")
    val snap = Warehouse.indexSnapshot(dir)
    val nBooks = graft.Tables.parquetRowCount(spark,
      snap.path("books.parquet"))
    val nCent = graft.Tables.parquetRowCount(spark,
      snap.path("centroids.parquet"))
    require(nBooks == m.toLong * ks,
      s"IVF-PQ index at $dir is inconsistent: _meta.json declares " +
        s"m=$m ks=$ks (${m * ks} book entries) but books.parquet " +
        s"holds $nBooks — rebuild the index")
    require(nCent == nLists,
      s"IVF-PQ index at $dir is inconsistent: _meta.json declares " +
        s"nLists=$nLists but centroids.parquet holds $nCent — " +
        "rebuild the index")
    val b = batch.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv")).localCheckpoint(true)
    Warehouse.requireNoTombstoned(spark, snap,
      b.select(col("neighbor_id")).distinct(), "neighbor_id",
      s"IVF-PQ index at $dir")
    val centroids = spark.read.parquet(snap.path("centroids.parquet"))
      .localCheckpoint(true)
    val books = spark.read.parquet(snap.path("books.parquet"))
      .localCheckpoint(true)
    // one new list_id-partitioned SEGMENT + one manifest swap
    // (round-20) — see [[appendToIvfIndex]]
    Warehouse.appendToTable(dir, "assignments.parquet",
      assign(b, centroids, assignments)
        .join(encodePq(subvectors(b, m, dims / m), books),
          Seq("neighbor_id")),
      Seq("list_id"))
  }

  /** Serve ANN from a persisted IVF-PQ index ([[buildIvfPqIndex]]) —
    * the deepest serving rung: probe → static partition prune → ADC
    * over probed lists only → exact rerank.
    *
    *  1. PROBE: stored centroids rank the `nProbe` nearest lists per
    *     query; probed ids resolve driver-side into literal partition
    *     filters (static pruning by construction — DPP degrades to
    *     `true` here, see [[ivfTopKFromIndex]]).
    *  2. ADC PRERANK from the artifact: the candidate scan reads
    *     (list_id, neighbor_id, codes, xnorm) ONLY — column pruning
    *     drops the float `cv`, so the serving read is m bytes + one
    *     double per candidate, over probed partitions only (the two
    *     economies composed; IndexPathSpec asserts both ReadSchema
    *     and partitions read == lists probed). Queries carry their
    *     broadcast ADC tables ([[adcQuerySide]], the one shared
    *     definition).
    *  3. EXACT RERANK: the k+`rerank` survivors fetch floats via a
    *     second, still-pruned artifact scan and the exact decimal
    *     cosine decides — the same exact-KNN oracle contract as
    *     every ANN gate: a neighbor buried by PQ distortion OR lost
    *     to an unprobed list drops a row and fails the hash.
    *
    * Geometry (dims, m, ks) comes from the artifact's own
    * `_meta.json` and is cross-checked against the stored books and
    * centroids — never caller-trusted (the established meta
    * discipline). */
  def ivfPqTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, idCol: String, vecCol: String, dir: String,
      k: Int, nProbe: Int = 4, rerank: Int = 256): DataFrame = {
    val meta = Warehouse.readMetaJson(dir, "IVF-PQ index")
    def metaInt(key: String): Int =
      Warehouse.metaLong(meta, dir, key).toInt
    val dims = metaInt("dims"); val m = metaInt("m")
    val ks = metaInt("ks"); val nLists = metaInt("nLists")
    val snap = Warehouse.indexSnapshot(dir)
    val books = spark.read.parquet(snap.path("books.parquet"))
    val centroids = spark.read.parquet(snap.path("centroids.parquet"))
    // cross-check stored geometry against the meta declaration — a
    // hand-assembled dir with mismatched books/centroids must fail
    // loudly, not silently misalign the positional ADC table. Counts
    // come from the parquet FOOTERS ([[graft.Tables.parquetRowCount]])
    // — zero Spark jobs, so the check costs microseconds per batch
    val nBooks = graft.Tables.parquetRowCount(spark,
      snap.path("books.parquet"))
    val nCent = graft.Tables.parquetRowCount(spark,
      snap.path("centroids.parquet"))
    require(nBooks == m.toLong * ks,
      s"IVF-PQ index at $dir is inconsistent: _meta.json declares " +
        s"m=$m ks=$ks (${m * ks} book entries) but books.parquet " +
        s"holds $nBooks — rebuild the index")
    require(nCent == nLists,
      s"IVF-PQ index at $dir is inconsistent: _meta.json declares " +
        s"nLists=$nLists but centroids.parquet holds $nCent — " +
        "rebuild the index")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // checkpoint the tiny probe table (queries x nProbe rows): it has
    // TWO consumers — the driver-side probed-id resolve and the
    // broadcast scoring join — and left lazy each would re-run the
    // centroid scan + crossJoin + window (one extra job per batch,
    // measured on the q134 suite cell)
    val probes = probeLists(q, centroids, nProbe).localCheckpoint(true)
    val probedIds = probes.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    // phase 2: the codes-only, partition-pruned serving scan (with
    // the serve-time tombstone filter — survivors drive phase 3, so
    // the prerank filter alone keeps deleted ids out)
    val codeScan = withoutDeleted(spark, snap,
      snap.read(spark, "assignments.parquet")
        .filter(col("list_id").isin(probedIds.toSeq: _*))
        .select(col("list_id"), col("neighbor_id"), col("codes"),
          col("xnorm")))
    // multi-assignment dedup runs on the NARROW candidate rows
    // (query_id, neighbor_id, m-byte codes, xnorm ≈ tens of bytes)
    // BEFORE the per-query ADC table attaches: a distinct over rows
    // carrying the m × ks double LUT would shuffle/hash kilobytes
    // per candidate — measured 3.7 s vs 2.0 s for the q134 gate
    val cand = broadcast(probes.select(col("query_id"), col("list_id")))
      .join(codeScan, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("codes"),
        col("xnorm"))
      .distinct()
    // the ADC table + query norm + float query vector join back in
    // per query AFTER the dedup — broadcast (queries × m × ks
    // doubles), so the wide columns never ride an exchange
    val prerank = cand
      .join(broadcast(adcQuerySide(q, books, ks, dims / m)),
        Seq("query_id"))
      .withColumn("cos_pq", adcScore(m, ks))
    val wFast = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_pq").desc, col("neighbor_id").asc)
    val survivors = prerank
      .withColumn("rk0", row_number().over(wFast))
      .filter(col("rk0") <= k + rerank)
      .select(col("query_id"), col("qv"), col("neighbor_id"))
    // phase 3: float fetch for survivors — second pruned scan,
    // map-side joined against the broadcast survivor set, dedup
    // AFTER the join keyed on the survivor pair (the q126 rationale:
    // a pre-join dedup would aggregate every probed row's floats)
    val cvFetch = snap.read(spark, "assignments.parquet")
      .filter(col("list_id").isin(probedIds.toSeq: _*))
      .select(col("neighbor_id"), col("cv"))
    val exact = cvFetch.join(broadcast(survivors), Seq("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cos", cosine(col("qv"), col("cv")))
    topKByScore(exact, "cos", k)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank"))
  }

  // ── tombstone deletes for the stored ANN indexes (round-19
  //    verdict #3 — the q161 pattern where rows are DOC-LOCAL) ──────

  /** Serve-time tombstone filter: anti-join the ledger on
    * neighbor_id. Un-hinted — AQE broadcasts the (small) ledger while
    * deletion volume is low, degrades to a shuffle otherwise.
    * Manifest-gated like the BM25 twin: a post-purge reader must not
    * see the superseded ledger dir in its grace window. */
  private def withoutDeleted(spark: org.apache.spark.sql.SparkSession,
      snap: Warehouse.IndexSnapshot, rows: DataFrame): DataFrame =
    if (!snap.has("dels.parquet")) rows
    else rows.join(snap.read(spark, "dels.parquet"),
      Seq("neighbor_id"), "left_anti")

  /** Tombstone DELETES for the stored vector indexes — the easy
    * shape of the q160/q161 delete tier: every stored row is
    * DOC-LOCAL (a vector's assignment/code row is a function of the
    * vector alone), so there is NO aggregate to cancel — the delete
    * is one tombstone-ledger append ([[Warehouse.tombstoneDelete]]:
    * NULL/dup ids, never-indexed, already-tombstoned, and
    * would-empty-index all refuse loudly; the ledger write is the
    * only mutation, so crash ordering is trivial), serving filters
    * with a serve-time anti-join, and [[Warehouse.purgeTombstones]]
    * physically reclaims — after which purged ids are re-appendable
    * (the append guards refuse tombstoned ids with a purge-first
    * message: their physical rows would otherwise resurface).
    * Takedown/opt-out applies to embeddings exactly as to postings;
    * re-deriving a 10⁹-vector index per removal batch is not an
    * option. `batch` needs only the id column — deletion is by
    * identity. */
  private def deleteFromVectorIndex(
      spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      idCol: String, dir: String, table: String, what: String): Unit = {
    Warehouse.readMetaJson(dir, what) // the meta gate
    Warehouse.tombstoneDelete(spark, dir, batch, col(idCol),
      "neighbor_id", table, what)
  }

  /** [[deleteFromVectorIndex]] for the IVF / IVF-SQ8 artifact
    * ([[buildIvfIndex]] — one artifact serves both q115 and q126):
    * tombstones filter both serving paths' assignment scans. */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, idCol: String, dir: String): Unit =
    deleteFromVectorIndex(spark, batch, idCol, dir,
      "assignments.parquet", s"IVF index at $dir")

  def purgeIvfDeletes(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Long, Long) = {
    Warehouse.readMetaJson(dir, s"IVF index at $dir") // the meta gate
    Warehouse.purgeTombstones(spark, dir, "neighbor_id",
      Seq("assignments.parquet" -> Some("list_id")),
      s"IVF index at $dir")
  }

  /** [[deleteFromVectorIndex]] for the flat PQ artifact
    * ([[buildPqIndex]]). */
  def deleteFromPqIndex(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, idCol: String, dir: String): Unit =
    deleteFromVectorIndex(spark, batch, idCol, dir, "codes.parquet",
      s"PQ index at $dir")

  def purgePqDeletes(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Long, Long) = {
    Warehouse.readMetaJson(dir, s"PQ index at $dir") // the meta gate
    Warehouse.purgeTombstones(spark, dir, "neighbor_id",
      Seq("codes.parquet" -> None), s"PQ index at $dir")
  }

  /** [[deleteFromVectorIndex]] for the IVF-PQ (IVFADC) artifact
    * ([[buildIvfPqIndex]]). */
  def deleteFromIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, idCol: String, dir: String): Unit =
    deleteFromVectorIndex(spark, batch, idCol, dir,
      "assignments.parquet", s"IVF-PQ index at $dir")

  def purgeIvfPqDeletes(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Long, Long) = {
    Warehouse.readMetaJson(dir, s"IVF-PQ index at $dir") // the meta gate
    Warehouse.purgeTombstones(spark, dir, "neighbor_id",
      Seq("assignments.parquet" -> Some("list_id")),
      s"IVF-PQ index at $dir")
  }

  /** SEMANTIC eval-set decontamination from the stored IVF-SQ8 index
    * (round-19 verdict #5) — the embedding twin of the q64 n-gram
    * sweep: paraphrased or translated eval contamination shares no
    * verbatim 8-gram, so the n-gram pass walks straight past it, but
    * it sits at high cosine to its source. Eval queries PROBE the
    * corpus index ([[buildIvfIndex]]'s artifact — the same one
    * q115/q126 serve from) and every corpus vector whose QUANTIZED
    * cosine reaches `tau` is flagged as (train_id, eval_id, score).
    *
    * Scoring is the q124 integer-exact discipline over the index's
    * STORED int8 codes: per-vector scales cancel out of the cosine,
    * every product and partial sum is an integer below 2⁵³, so the
    * score is a partition-order-independent rational — hash-exact
    * under a DuckDB oracle recomputing the same quantization, no
    * tolerance flag. The float column is never read.
    *
    * Scale shape: the eval side is tiny by nature (benchmarks are
    * KBs–MBs against a 100 TB corpus) and broadcasts; each eval
    * vector reads only its `nProbe` nearest lists' code columns
    * (static partition pruning, the q126 mechanics), so the sweep
    * costs probes × list size — never a corpus scan. Recall is
    * dataset-conditional like every ANN gate: a τ-near pair has
    * strong nearest-centroid locality (the cluster-fixture
    * argument), and the q166 gate's planted paraphrases sit at
    * cos ≈ 0.99. Tombstoned (deleted) corpus vectors never flag. */
  def semanticContaminationFromIndex(
      spark: org.apache.spark.sql.SparkSession, evalSet: DataFrame,
      idCol: String, vecCol: String, dir: String, tau: Double,
      nProbe: Int = 4): DataFrame = {
    // the meta discipline (round-19 review): a partial or
    // hand-assembled dir must refuse loudly, never serve a silently
    // wrong contamination report; geometry cross-checked from the
    // parquet FOOTERS — zero Spark jobs
    val meta = Warehouse.readMetaJson(dir, "IVF index")
    val nLists = Warehouse.metaLong(meta, dir, "nLists")
    val snap = Warehouse.indexSnapshot(dir)
    val nCent = graft.Tables.parquetRowCount(spark,
      snap.path("centroids.parquet"))
    require(nCent == nLists,
      s"IVF index at $dir is inconsistent: _meta.json declares " +
        s"nLists=$nLists but centroids.parquet holds $nCent rows — " +
        "rebuild the index")
    val centroids = spark.read.parquet(snap.path("centroids.parquet"))
    val q = evalSet.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"))
    val probes = probeLists(q, centroids, nProbe).localCheckpoint(true)
    val probedIds = probes.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    val qCoded = probes
      .withColumn("sa", int8Scale(col("qv")))
      .withColumn("qcodes",
        int8CodesFrom(col("qv"), col("sa")).cast("array<float>"))
      .select(col("query_id"), col("qcodes"), col("list_id"))
    val codeScan = withoutDeleted(spark, snap,
      snap.read(spark, "assignments.parquet")
        .filter(col("list_id").isin(probedIds.toSeq: _*))
        .select(col("list_id"), col("neighbor_id"), col("codes")))
    broadcast(qCoded).join(codeScan, Seq("list_id"))
      // multi-assignment: a pair can meet in several probed lists
      .select(col("query_id"), col("qcodes"), col("neighbor_id"),
        col("codes"))
      .distinct()
      .withColumn("qc",
        cosineFast(col("qcodes"), col("codes").cast("array<float>")))
      .filter(col("qc") >= tau)
      .select(col("neighbor_id").as("train_id"),
        col("query_id").as("eval_id"),
        // + 0.0 = the mandated negative-zero normalization (q124)
        (round(col("qc"), 6) + 0.0).as("score"))
  }

  /** The `nProbe` nearest lists per query (centroids broadcast). */
  private def probeLists(q: DataFrame, centroids: DataFrame,
      nProbe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist").desc, col("list_id").asc)
    q.crossJoin(broadcast(centroids))
      .withColumn("cdist", cosineFast(col("qv"), col("centroid")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("list_id"))
  }

  /** Bounded-cost row-count estimate: count at most 16 partitions and
    * extrapolate by the partition fraction. Parquet splits are sized
    * uniformly (`maxPartitionBytes`), so the estimate is within a
    * small factor of the truth — ample for the √n list heuristic —
    * and the driver-side work is O(16 partitions) no matter how large
    * the corpus. On a corpus with ≤ 16 partitions this IS the exact
    * count (the CORRECTNESS-gate regime, so the oracle never moves). */
  private def approxRowCount(df: DataFrame): Long = {
    val rdd = df.queryExecution.toRdd // InternalRow — no row conversion
    val parts = rdd.getNumPartitions
    if (parts == 0) 0L
    else {
      val sampled = math.min(parts, 16)
      val counts = df.sparkSession.sparkContext.runJob(
        rdd,
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
          var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
        },
        0 until sampled)
      math.round(counts.sum.toDouble * parts / sampled)
    }
  }

  /** Deterministic centroid seeds: the `nLists` vectors with the
    * lowest id hash (no RNG — reproducible across runs; a distributed
    * top-k, not a global window). */
  private def deterministicSeeds(c: DataFrame, nLists: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val picked = c.orderBy(xxhash64(col("neighbor_id")), col("neighbor_id"))
      .limit(nLists)
    // the input is ≤ nLists rows (post-limit), so the single-partition
    // window is intentional and bounded (Spark 4's
    // EliminateWindowPartitions strips the foldable key and WARNs —
    // expected and harmless at this row count)
    val w = Window.partitionBy(lit(1))
      .orderBy(xxhash64(col("neighbor_id")), col("neighbor_id"))
    picked.withColumn("list_id", row_number().over(w) - 1)
      .select(col("list_id"), col("cv").as("centroid"))
  }

  /** Top-`assignments` nearest-centroid assignment (`assignments` = 1
    * is classic single-list IVF), as ONE per-row kernel over the
    * collected centroid table
    * ([[graft.functions.VectorExpressions.nearestLists]], r22 guide
    * §2.4/§1.2): the former crossJoin + row_number formulation fanned
    * the corpus out × nLists rows and then EXCHANGED the fanout (the
    * window's hash-by-neighbor_id shuffle) just to pick each vector's
    * top lists — a full corpus shuffle per Lloyd round and per final
    * assignment that a per-row argmin never needed. Centroids are
    * bounded by construction (≤ nLists = √n rows — what made them
    * broadcastable before), so collecting them moves no more data
    * than the old BroadcastExchange, and every caller hands them over
    * materialized (checkpointed or a read-back artifact); the kernel
    * replicates the old `ORDER BY cdist DESC, list_id ASC` pick
    * bit for bit (same cosine accumulation order, SQL double
    * ordering, ascending-id tie-break). Assignment now runs
    * shuffle-free in corpus scan partitioning. */
  private def assign(c: DataFrame, centroids: DataFrame,
      assignments: Int): DataFrame = {
    val cents = centroids.select(col("list_id"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    c.select(col("neighbor_id"), col("cv"),
      explode(graft.functions.VectorExpressions.nearestLists(
        col("cv"), cents, assignments)).as("list_id"))
  }

  /** Lloyd step: element-wise mean per list via posexplode + two-level
    * aggregation (the scalable way to average vectors — no driver
    * collect). */
  private def recomputeCentroids(assigned: DataFrame): DataFrame =
    assigned
      .select(col("list_id"), posexplode(col("cv")).as(Seq("pos", "x")))
      .groupBy(col("list_id"), col("pos"))
      .agg(avg(col("x").cast("double")).as("m"))
      .groupBy(col("list_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("list_id"),
        // back to float: the cosine kernel expects ARRAY<FLOAT>
        transform(col("pm"), e => e.getField("m").cast("float"))
          .as("centroid"))

  /** Embedding-space OUTLIERS per group: each vector's cosine to its
    * group's centroid (element-wise mean), with the `bottomK` lowest
    * scores per group flagged — the embedding-QA step that catches
    * mislabeled / off-manifold vectors before they pollute a cluster
    * or a training mix. Rank-based (not an absolute τ) so the flag is
    * meaningful whatever the corpus's cohesion; the (score, id)
    * tie-break keeps it deterministic and engine-portable.
    *
    * Scale shape (100 TB): the posexplode feeds a (group, pos) partial
    * aggregation — map-side combined down to |groups|·dims rows, the
    * only wide exchange over exploded data — and the rebuilt centroid
    * arrays broadcast back, so SCORING never shuffles the corpus: one
    * per-row HOF cosine against the broadcast centroid. The ranking
    * window shuffles only the slim (id, group, score) projection,
    * partitioned by group. Exact decimal dot/norm terms
    * ([[dotExact]]) keep the 6-dp score engine-portable. */
  def centroidOutliers(vecs: DataFrame, idCol: String, vecCol: String,
      groupCol: String, bottomK: Int = 5): DataFrame = {
    val cent = vecs
      .select(col(groupCol).as("grp"), posexplode(col(vecCol)).as(Seq("i", "xf")))
      .select(col("grp"), col("i"),
        col("xf").cast("double").cast("decimal(28,12)").as("x"))
      .groupBy(col("grp"), col("i"))
      .agg((sum(col("x")).cast("double") / count(lit(1))).as("c"))
      .groupBy(col("grp"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        e => e.getField("c")).as("centroid"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("cos_centroid").asc, col(idCol).asc)
    vecs.join(broadcast(cent), vecs(groupCol) === cent("grp"))
      .select(col(idCol), col(groupCol),
        cosine(col(vecCol), col("centroid")).as("cos_centroid"))
      .withColumn("outlier",
        (row_number().over(w) <= bottomK).cast("int"))
  }

  /** Embedding-cosine near-duplicate pairs (a < b, cosine ≥ τ).
    * EXACT but O(n²) by construction (inequality join = cartesian) —
    * the correctness baseline and the oracle path for
    * [[cosineNearDupPairsLsh]], never the 100 TB path. */
  def cosineNearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
      minCosine: Double): DataFrame = {
    val a = vecs.select(col(idCol).as("a"), col(vecCol).as("av"))
    val b = vecs.select(col(idCol).as("b"), col(vecCol).as("bv"))
    a.join(b, col("a") < col("b"))
      // codegen'd double prefilter kills ~all of the O(n²) pairs;
      // the exact decimal scorer then decides the boundary precisely
      .filter(cosineFast(col("av"), col("bv")) >= minCosine - FastMargin)
      .withColumn("cos", cosine(col("av"), col("bv")))
      .filter(col("cos") >= minCosine)
      .select(col("a"), col("b"), col("cos"))
  }

  /** Salted LSH bucket keys via the fused native kernel
    * ([[graft.functions.VectorExpressions.lshSignKeys]]): all
    * planes×tables projections in one allocation-free codegen loop
    * per row, plane matrix (splitmix64-derived, driver-side)
    * referenced once. Replaces the posexplode → hash-aggregate shape,
    * which shuffled `dims` rows per vector into planes×tables sum
    * buffers — same key values (identical plane components and
    * ascending-index accumulation), ZERO shuffle. Returns (id, bk)
    * exploded — 8-byte rows, no vectors carried. */
  private def saltedKeysAgg(vecs: DataFrame, idCol: String, vecCol: String,
      planes: Int, tables: Int): DataFrame =
    vecs.select(col(idCol).as("id"),
      explode(graft.functions.VectorExpressions.lshSignKeys(
        col(vecCol), planes, tables)).as("bk"))

  /** Near-duplicate pairs via LSH-bucketed pair generation — the
    * 100 TB path: vectors meet only inside shared salted bucket keys
    * (an equi-join, shuffle-partitionable by key; NO cross join in the
    * plan), then the same double-prefilter → exact-decimal scorer
    * decides. Per-pair miss probability is (1 − p_sig)^tables with
    * p_sig = (1 − arccos(τ)/π)^planes — the q48 defaults put it at
    * ~5e-6 for τ = 0.4 (and far lower for anything more similar) at
    * the price of coarse buckets; true near-dup thresholds (τ ≥ 0.9)
    * should raise `planes` to prune hard (the scale derivation does).
    *
    * Scale shape, parameter-driven: in the SELECTIVE regime
    * (tables/2^planes < 1 — each pair expects < 1 shared bucket),
    * candidate (a, b) IDS are generated and deduplicated from the
    * 16-byte (id, bk) join first and vectors join back in only for
    * the surviving pairs — the bucket-join shuffle never carries an
    * embedding. In the DEGENERATE regime (fan-out ≥ 1 per pair, the
    * τ=0.4 oracle-compat settings) the id-distinct would itself
    * shuffle ~every pair, so vectors ride the bucket join and dedup
    * happens after the codegen prefilter has killed ~all rows. */
  /** Derive (planes, tables) for a target per-pair miss ≤ `maxMiss`
    * at the threshold cosine, constrained to the SELECTIVE regime: a
    * random pair (cos ≈ 0 → plane agreement ½) expects
    * tables/2^planes shared buckets, and that expectation is capped at
    * `maxCollision` so candidate volume stays far below the cartesian.
    * Smallest such `planes` wins — more planes past the cap only buys
    * more per-row key work. Used whenever [[cosineNearDupPairsLsh]]'s
    * caller doesn't pin the parameters, so the DEFAULT path can never
    * silently land in the super-quadratic regime the τ=0.4
    * oracle-compat entry (q48) documents. */
  def lshParamsFor(minCosine: Double, maxMiss: Double = 1e-4,
      maxCollision: Double = 0.125): (Int, Int) = {
    require(minCosine > 0.0 && minCosine < 1.0,
      s"minCosine must be in (0, 1), got $minCosine")
    val p = 1.0 - math.acos(minCosine) / math.Pi
    (1 to 30).iterator.map { planes =>
      val pSig = math.pow(p, planes)
      val tables = math.max(1,
        math.ceil(math.log(maxMiss) / math.log1p(-pSig)).toInt)
      (planes, tables)
    }.find { case (planes, tables) =>
      tables.toDouble / math.pow(2.0, planes) <= maxCollision
    }.getOrElse(throw new IllegalArgumentException(
      s"no selective LSH config for minCosine=$minCosine"))
  }

  /** Scale-aware parameter derivation: tighten the random-pair
    * collision cap to `candidatesPerVector / n` so EXPECTED candidate
    * volume is ~candidatesPerVector·n/2 — LINEAR in corpus size. A
    * FIXED cap (the plain [[lshParamsFor]] default) keeps candidates a
    * constant fraction of the n²/2 cartesian, which the 10× corpus
    * bench measured as 100× candidate growth for 10× data
    * (BASELINE.md §Demonstrated scaling); this derivation holds the
    * per-vector budget instead, paying more planes×tables key work per
    * row (linear, embarrassingly parallel) for quadratically fewer
    * pairs. The per-pair miss stays ≤ `maxMiss` at the threshold in
    * every returned config.
    *
    * `planes` is capped at 32 (the native kernel's key width): past
    * n ≈ 3M·candidatesPerVector the cap binds and the tightest config
    * is returned with a warning — growth then degrades gracefully
    * toward quadratic-with-tiny-constant; shard the corpus (e.g. by a
    * coarse IVF list) before bucketing past that size. */
  def lshParamsForScale(minCosine: Double, n: Long,
      candidatesPerVector: Double = 32.0,
      maxMiss: Double = 1e-4): (Int, Int) = {
    require(minCosine > 0.0 && minCosine < 1.0,
      s"minCosine must be in (0, 1), got $minCosine")
    require(n > 0 && candidatesPerVector > 0)
    val cap = candidatesPerVector / n.toDouble
    val p = 1.0 - math.acos(minCosine) / math.Pi
    val cfgs = (1 to 32).map { planes =>
      val pSig = math.pow(p, planes)
      (planes, math.max(1,
        math.ceil(math.log(maxMiss) / math.log1p(-pSig)).toInt))
    }
    cfgs.find { case (planes, tables) =>
      tables.toDouble / math.pow(2.0, planes) <= cap
    }.getOrElse {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"lshParamsForScale(n=$n) exceeds the 32-plane key width; " +
          s"returning the tightest config ${cfgs.last} — candidate " +
          "volume grows super-linearly from here, shard the corpus")
      cfgs.last
    }
  }

  /** `planes`/`tables` = 0 (the default) derives a selective
    * configuration from `minCosine` via [[lshParamsFor]]; pinning both
    * keeps expert control but a degenerate pin (expected random-pair
    * fan-out ≥ 1 — super-quadratic candidate volume) logs a loud
    * warning naming the derived alternative.
    *
    * `candidatesPerVector` > 0 switches the derivation to
    * [[lshParamsForScale]], holding candidate volume ~linear in corpus
    * size instead of a constant cartesian fraction — the setting a
    * 100 TB run wants; the plain derive is kept as the default for
    * small-corpus compat (and the oracle gates). The corpus size for
    * that derivation comes from `corpusSizeHint` when the caller knows
    * it (q48 reads it from parquet footers —
    * [[graft.Tables.parquetRowCount]] — so plan construction launches
    * ZERO Spark jobs and the derived parameters are exact and
    * partition-layout-independent; PlanSpec gates this). Only when no
    * hint is given does the bounded 16-partition sampled count run —
    * a blocking driver job at construction time, acceptable
    * interactively but never on the gated query paths. */
  def cosineNearDupPairsLsh(vecs: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, planes: Int = 0, tables: Int = 0,
      candidatesPerVector: Double = 0.0,
      corpusSizeHint: Long = 0L): DataFrame = {
    val (pl, tb) =
      if (planes > 0 && tables > 0) (planes, tables)
      else if (candidatesPerVector > 0) {
        val n = if (corpusSizeHint > 0) corpusSizeHint
          else math.max(1L, approxRowCount(vecs.select(col(idCol))))
        lshParamsForScale(minCosine, n, candidatesPerVector)
      }
      else lshParamsFor(minCosine)
    val degenerate = tb.toDouble / (1L << pl) >= 1.0
    if (degenerate) {
      val (dp, dt) = lshParamsFor(minCosine)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"cosineNearDupPairsLsh(planes=$pl, tables=$tb) is DEGENERATE: " +
          s"expected ${tb.toDouble / (1L << pl)}x the cartesian's pairs " +
          s"before distinct; derive with planes=0 (→ ($dp, $dt)) unless " +
          "oracle-compat output is the goal")
    }
    if (degenerate) {
      // checkpoint before the self-join: both sides of x⋈y would
      // otherwise re-run the planes×tables projection — the
      // materialized form is (id, bucket) at 16 bytes × tables rows
      // per vector, negligible next to the embeddings themselves.
      // persist(), NOT localCheckpoint: construction must launch zero
      // Spark jobs (the lshTopK contract, PlanSpec-gated) and even a
      // lazy checkpoint .execute()s its child at construction — under
      // AQE that materializes the upstream shuffle stages right there.
      // The CacheManager swaps both self-join branches for ONE
      // InMemoryRelation computed at first action; these narrow
      // (id, long-key) rows are exactly what the columnar cache is
      // good at (the gram-array case where cache measured 2× worse —
      // TextDedup.shared — does not apply here)
      val keyed = saltedKeysAgg(vecs, idCol, vecCol, pl, tb).persist()
      val withV = keyed.join(
        vecs.select(col(idCol).as("id"), col(vecCol).as("v")), Seq("id"))
        .persist()
      withV.as("x").join(withV.as("y"),
          col("x.bk") === col("y.bk") && col("x.id") < col("y.id"))
        .select(col("x.id").as("a"), col("y.id").as("b"),
          col("x.v").as("av"), col("y.v").as("bv"))
        .filter(cosineFast(col("av"), col("bv")) >= minCosine - FastMargin)
        .withColumn("cos", cosine(col("av"), col("bv")))
        .filter(col("cos") >= minCosine)
        .select(col("a"), col("b"), col("cos")).distinct()
    } else {
      val cand = lshCandidatePairs(vecs, idCol, vecCol, pl, tb)
      val av = vecs.select(col(idCol).as("a"), col(vecCol).as("av"))
      val bv = vecs.select(col(idCol).as("b"), col(vecCol).as("bv"))
      cand.join(av, Seq("a")).join(bv, Seq("b"))
        .filter(cosineFast(col("av"), col("bv")) >= minCosine - FastMargin)
        .withColumn("cos", cosine(col("av"), col("bv")))
        .filter(col("cos") >= minCosine)
        .select(col("a"), col("b"), col("cos"))
    }
  }

  /** Deduplicated candidate id pairs (a < b) sharing at least one
    * salted LSH bucket key — the pre-scoring volume of the SELECTIVE
    * near-dup path, public so the sub-cartesian cost contract is
    * directly testable (SimilaritySpec asserts candidate count ≪
    * n(n−1)/2 on the near-dup fixture at the derived parameters). The
    * bucket-join shuffle carries 16-byte (id, key) rows only — no
    * embedding rides it. */
  def lshCandidatePairs(vecs: DataFrame, idCol: String, vecCol: String,
      planes: Int, tables: Int): DataFrame = {
    // persist before the self-join: both sides of x⋈y would otherwise
    // re-run the planes×tables key projection. persist (not
    // localCheckpoint) keeps construction job-free — see
    // cosineNearDupPairsLsh's note on AQE and lazy checkpoints
    val keyed = saltedKeysAgg(vecs, idCol, vecCol, planes, tables)
      .persist()
    keyed.as("x").join(keyed.as("y"),
        col("x.bk") === col("y.bk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
  }

  // ── int8 quantization (the ANN memory-side half) ───────────────────

  /** Symmetric per-vector int8 quantization audit — the memory story
    * 100 TB similarity search stands on: a float32 corpus quantized
    * to int8 serves ANN from a QUARTER of the RAM/disk (the standard
    * IVF-SQ8 layout), and this operator emits exactly what a
    * deployment stores per vector — the scale (max |x| / 127) and
    * the int8 code vector — plus the audit a pipeline gates on.
    *
    * Oracle design: the quantized INTEGERS are exact cross-engine
    * (double divide + `floor(x + 0.5)` half-up both sides, md5 over
    * the rendered code vector proves EVERY lane), while the float
    * reconstruction laws ride SELF-GATING flags (the q61/q83
    * tolerance-twin precedent): `ok_err` = every lane's
    * reconstruction error ≤ scale/2 (the rounding guarantee), and
    * `ok_cos` = reconstruction cosine ≥ 0.999 — guaranteed by
    * ‖err‖ ≤ √d·scale/2 = (√d/254)·max|x| ≤ 0.0315·‖x‖ at d = 64,
    * so a flag flip means a quantizer bug, not noise.
    *
    * Scale shape: per-row, zero shuffle (the gate's ORDER BY aside);
    * at corpus scale the code table is the artifact an IVF probe
    * scans, 4× smaller than the float column it replaces. Zero
    * vectors quantize to all-zero codes by the `when` guard (the
    * harness corpus has none; the oracle's bare division would fail
    * loudly if one ever appeared). */
  /** Per-vector symmetric int8 scale: max |x| / 127 (double). */
  private def int8Scale(x: Column): Column =
    array_max(transform(x, v => abs(v.cast("double")))) / 127.0

  /** int8 code vector from a float vector and its scale — floor-half-up,
    * the rounding both engines spell identically; a zero scale (zero
    * vector) codes to all zeros. */
  private def int8CodesFrom(x: Column, scale: Column): Column =
    transform(x, v =>
      when(scale === 0.0, lit(0))
        .otherwise(floor(v.cast("double") / scale + 0.5).cast("int")))

  def int8QuantAudit(vecs: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val x = col(vecCol)
    val withQ = vecs
      .select(col(idCol), x.as("x"), int8Scale(x).as("scale"))
      .withColumn("q", int8CodesFrom(col("x"), col("scale")))
    // ONE zip expression feeds both consumers inside one projection —
    // Spark's subexpression elimination evaluates the repeated
    // deterministic subtree once per row, so the struct array is not
    // allocated twice (audit-only HOF path; the hot kernels stay
    // native)
    val zipped = arrays_zip(col("x"), col("q"))
    val err = transform(zipped, p =>
      abs(p.getField("x").cast("double") -
        p.getField("q").cast("double") * col("scale")))
    val xr = aggregate(zipped, lit(0.0),
      (acc, p) => acc + p.getField("x").cast("double") *
        (p.getField("q").cast("double") * col("scale")))
    val xx = aggregate(col("x"), lit(0.0),
      (acc, v) => acc + v.cast("double") * v.cast("double"))
    val rr = aggregate(col("q"), lit(0.0),
      (acc, v) => acc + (v.cast("double") * col("scale")) *
        (v.cast("double") * col("scale")))
    withQ.select(col(idCol),
      md5(concat_ws(",", transform(col("q"), _.cast("string"))))
        .as("q_md5"),
      aggregate(col("q"), lit(0L), (a, v) => a + v.cast("long"))
        .as("q_sum"),
      array_min(col("q")).as("q_min"),
      array_max(col("q")).as("q_max"),
      (array_max(err) <= col("scale") / 2.0 + lit(1e-12)).cast("int")
        .as("ok_err"),
      when(col("scale") === 0.0, lit(1))
        .otherwise((xr / (sqrt(xx) * sqrt(rr)) >= 0.999).cast("int"))
        .as("ok_cos"))
  }

  /** Brute-force top-k in the QUANTIZED integer domain (q124) — the
    * serving-side twin of [[int8QuantAudit]]: scores computed over
    * the int8 code vectors alone, exactly as an IVF-SQ8 probe scores
    * candidates without ever touching the float column. The
    * per-vector scales CANCEL out of the cosine (cos(s_a·q_a,
    * s_b·q_b) = cos(q_a, q_b)), so the quantized score needs no
    * dequantization at all — and because every product and partial
    * sum is an integer below 2⁵³ (codes ≤ 127, d = 64 ⇒ dot ≤
    * 1,032,256), the all-double native kernel
    * ([[graft.functions.VectorExpressions.cosineSimilarity]]) is
    * EXACT here, not approximate: any summation order yields the
    * same rational value, one IEEE divide and two sqrts from
    * bit-identical on every engine. That is what puts an ANN scoring
    * path under a hash-exact oracle with no tolerance flag.
    *
    * Plan shape = [[bruteForceTopK]]: queries broadcast, corpus
    * streams partition-parallel, one window top-k; ties (identical
    * code vectors — near-dups quantize together) break by
    * neighbor_id on both sides. */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    def coded(df: DataFrame, as: String, idAs: String): DataFrame =
      df.select(col(idCol).as(idAs), col(vecCol).as("x"),
          int8Scale(col(vecCol)).as("scale"))
        .select(col(idAs),
          int8CodesFrom(col("x"), col("scale"))
            .cast("array<float>").as(as))
    val q = coded(queries, "qa", "query_id")
    val c = coded(corpus, "qb", "neighbor_id")
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("qc", cosineFast(col("qa"), col("qb")))
    topKByScore(scored, "qc", k)
      .select(col("query_id"), col("neighbor_id"),
        // + 0.0 = the repo's mandated negative-zero normalization
        // after a final round (the q79 log2 incident): at d = 64 the
        // smallest nonzero |qc| is 1/(64·127²) ≈ 9.7e-7 and cannot
        // round to zero, but the margin shrinks with 1/d and a
        // dim ≥ 125 corpus would render -0.0 vs 0.0 across engines
        (round(col("qc"), 6) + 0.0).as("qcos"), col("rank"))
  }
}
