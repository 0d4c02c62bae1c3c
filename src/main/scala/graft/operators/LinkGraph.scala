package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality as a document-quality prior — the signal
  * crawl-curation pipelines derive from the URL graph (a page many
  * reputable pages link to is a better pretraining candidate than an
  * orphan): fixed-iteration PageRank over an edge table.
  *
  * Numeric discipline: the textbook damped update is computed in
  * FIXED POINT — ranks are integer micro-units of a total mass
  * (default 10¹²), every step is integer multiply / integer (floor)
  * division / integer sum. Doubles never appear, so the result is
  * bit-identical on any engine and sits under the hash oracle with
  * no tolerance flag (the BM25 lesson one step further: division is
  * correctly rounded in IEEE, but iterated double SUMS are
  * partition-order dependent — integers are not). The floor
  * divisions leak sub-unit remainders (bounded by edges + nodes per
  * iteration, ~10⁻⁹ of the mass here) — the operator's documented
  * fixed-point semantics, mirrored exactly by the oracle.
  *
  * Scale shape (100 TB link graphs): the per-iteration work is ONE
  * shuffle — contributions group by destination; the edge table is
  * joined on src, so a deployment buckets/pre-partitions edges by
  * src once and every iteration's join is co-located. Rounds chain
  * LAZILY within one job (shuffle files are the inter-round
  * materialization) with a lineage-truncating checkpoint every
  * [[CkptEvery]] rounds — the Pregel-style cadence; the dangling
  * variant's per-round share is a 1-row in-plan aggregate broadcast
  * into the update, so it rides the same lazy chain (at the tighter
  * [[CkptEveryTwoRef]] cadence, since its rounds reference the
  * contribution frame twice). Dangling mass (nodes with no in-links, edges
  * to unknown ids) is handled by construction: contributions to
  * non-node ids drop in the final left join, absent contributions
  * coalesce to zero.
  */
object LinkGraph {

  /** Fixed-point PageRank: `iterations` damped rounds over
    * `edges` (src, dst — both long), ranks for every row of
    * `nodes`. Returns (id, r) with r in mass micro-units.
    * `dampingPermille` = 850 is the classic 0.85. A caller that
    * already knows the node count (e.g. from parquet footers —
    * [[graft.Tables.parquetRowCount]]) passes `nodeCountHint` and
    * skips the count job (the stored-index precedent; round-16
    * review — q140 was paying the count twice). */
  /** Out-degree denormalized onto each edge ONCE before a loop: the
    * per-edge contribution is r div outdeg, and joining degree per
    * iteration would re-shuffle the corpus-scale edge table every
    * round. Shared by every PageRank variant. */
  private def degreeEdges(edges: DataFrame): DataFrame =
    edges.join(edges.groupBy(col("src")).agg(count(lit(1)).as("od")),
        Seq("src"))
      .select(col("src"), col("dst"), col("od"))
      .localCheckpoint(true)

  /** THE damped fixed-point loop all three PageRank variants share
    * (one implementation — round-18 review: three hand-mirrored
    * copies meant a loop fix had to find them all). Every variant is
    * the same per-round shape — contributions grouped by destination
    * over the once-built degree-denormalized edge table — differing
    * only in the per-node TELEPORT column of `spine` (id, tel) and
    * the optional dangling divisor `danglingDiv` (absent elsewhere —
    * integer `+ 0` is the identity, so the fixed/personalized
    * arithmetic is unchanged token for token and every unrolled-CTE
    * oracle still matches).
    *
    * Materialization cadence (r21, guide §1.2/§2.4 — measured: five
    * per-round localCheckpoints were 2.1 of q140's 3.4 s, each a
    * driver barrier over a |nodes|-rows-of-two-longs frame): rounds
    * chain LAZILY — the whole fixed-point runs as ONE job whose
    * shuffle files are the inter-round materialization, with a
    * lineage-truncating checkpoint only every [[CkptEvery]] rounds
    * (the Pregel-style cadence; at the 4-5 round gates the chain
    * never checkpoints).
    *
    * The dangling variant (r22, guide §2.4/§5 — its per-round driver
    * `collect()` + checkpoint were 2 jobs/round and kept it 2-3×
    * slower than its lazy siblings) now folds the dangling-mass sum
    * INTO the contribution aggregation: the caller augments the edge
    * table with one PSEUDO-EDGE (src=danglingId, dst=NULL, od=1) per
    * dangling node, so a dangling node's whole rank (r div 1 = r)
    * lands in the NULL destination group of the very same per-round
    * exchange the contributions ride — no second aggregation, no
    * driver action. `danglingDiv = Some(n)` splits that group back
    * out: the NULL row's cs is Σ dangling ranks, its floor share
    * `cs div n` broadcasts as a 1-row frame into the rank update
    * (r' = tel + (d·(cs + share)) div 1000 — token-identical to the
    * oracle's unrolled CTEs; `div` on the non-negative sum ≡ the old
    * driver-side long division). A seeded (NULL, 0) row keeps the
    * group present when no node dangles. The dangling round
    * references the aggregated `contrib` frame TWICE (share + join),
    * so its lazy logical tree doubles per round — physically the
    * duplicated shuffle is deduplicated by exchange/stage reuse, and
    * the tighter [[CkptEveryTwoRef]] cadence bounds the tree (2⁴
    * copies worst case) where the single-reference variants grow
    * linearly under [[CkptEvery]]. NULL destinations are reserved
    * for the pseudo-edges: the dangling caller drops real null-dst
    * edges up front (they never reached the old spine join either).
    *
    * SINGLE-ACTION CONTRACT (round-21 ADVICE): when the final rounds
    * fall between checkpoints the returned frame is lazy — a caller
    * that fires several actions on it re-executes those rounds per
    * action. Every in-repo consumer (bench noop, Verify dump, the
    * prior builds' one write, the gates' single downstream plan)
    * fires exactly one; a multi-action caller should checkpoint the
    * result itself. */
  private val CkptEvery = 8
  private val CkptEveryTwoRef = 4

  private def dampedLoop(spine: DataFrame, edgesDeg: DataFrame,
      init: DataFrame, iterations: Int, dampingPermille: Int,
      danglingDiv: Option[Long]): DataFrame = {
    val every = if (danglingDiv.isDefined) CkptEveryTwoRef else CkptEvery
    val seed = spine.sparkSession.sql(
      "SELECT CAST(NULL AS BIGINT) AS id, CAST(0 AS BIGINT) AS c")
    var ranks = init
    for (round <- 1 to iterations) {
      val contribIn = ranks
        .join(edgesDeg, ranks("id") === edgesDeg("src"))
        .select(col("dst").as("id"), expr("r div od").as("c"))
      val contrib =
        (if (danglingDiv.isDefined) contribIn.unionByName(seed)
         else contribIn)
          .groupBy(col("id"))
          .agg(sum(col("c")).as("cs"))
      ranks = danglingDiv match {
        case None => spine.join(contrib, Seq("id"), "left")
          .select(col("id"),
            (col("tel") + expr(
              s"($dampingPermille * (coalesce(cs, CAST(0 AS BIGINT)) " +
                "+ CAST(0 AS BIGINT))) div 1000"))
              .as("r"))
        case Some(n) =>
          val ex = contrib.filter(col("id").isNull)
            .select(expr(s"cs div CAST($n AS BIGINT)").as("ex"))
          spine.join(contrib.filter(col("id").isNotNull), Seq("id"), "left")
            .crossJoin(broadcast(ex))
            .select(col("id"),
              (col("tel") + expr(
                s"($dampingPermille * (coalesce(cs, CAST(0 AS BIGINT)) " +
                  "+ ex)) div 1000"))
                .as("r"))
      }
      if (round % every == 0)
        ranks = ranks.localCheckpoint(true)
    }
    ranks.select(col("id"), col("r"))
  }

  def pageRankFixed(edges: DataFrame, nodes: DataFrame, idCol: String,
      iterations: Int = 5, dampingPermille: Int = 850,
      mass: Long = 1000000000000L, nodeCountHint: Long = 0L): DataFrame = {
    val nodeIds = nodes.select(col(idCol).cast("long").as("id"))
      .localCheckpoint(true)
    val n = if (nodeCountHint > 0) nodeCountHint else nodeIds.count()
    require(n > 0, "pageRankFixed needs a nonempty node set")
    // all integer arithmetic, division order pinned (the oracle
    // mirrors it token for token): r0 = mass div n; base teleport
    // term = (r0 · (1000 − d)) div 1000
    val r0 = mass / n
    val base = r0 * (1000 - dampingPermille) / 1000
    dampedLoop(nodeIds.select(col("id"), lit(base).as("tel")),
      degreeEdges(edges),
      nodeIds.select(col("id"), lit(r0).as("r")),
      iterations, dampingPermille, None)
  }

  /** [[pageRankFixed]] with DANGLING-MASS REDISTRIBUTION — the
    * variant production link-quality priors run: a node with no
    * out-edges (a crawl leaf) re-emits its rank uniformly to every
    * node instead of dropping it, so total mass is conserved up to
    * the documented floor-division remainders. Same all-integer
    * discipline; the one addition per round is the dangling nodes'
    * rank sum — computed IN the plan (r22, guide §2.4/§5): each
    * dangling node carries a PSEUDO-EDGE (src=id, dst=NULL, od=1),
    * so its whole rank lands in the NULL group of the per-round
    * contribution exchange, and that group's floor share
    * `sum div n` broadcast-cross-joins the damped update as
    * r' = base + (d · (cs + share)) div 1000, mirrored token for
    * token by the oracle's unrolled CTEs (`div` on the non-negative
    * sum ≡ the old driver-side long division). No driver action runs
    * per round anymore — the variant rides [[dampedLoop]]'s lazy
    * Pregel cadence like its siblings. The dangling id set is
    * computed ONCE (nodes anti-join edge sources) before the loop;
    * real null-dst edges are dropped up front (they still count in
    * out-degrees, and their contributions never survived the old
    * spine join), reserving NULL for the pseudo-edges. */
  def pageRankFixedDangling(edges: DataFrame, nodes: DataFrame,
      idCol: String, iterations: Int = 5, dampingPermille: Int = 850,
      mass: Long = 1000000000000L, nodeCountHint: Long = 0L): DataFrame = {
    val nodeIds = nodes.select(col(idCol).cast("long").as("id"))
      .localCheckpoint(true)
    val n = if (nodeCountHint > 0) nodeCountHint else nodeIds.count()
    require(n > 0, "pageRankFixedDangling needs a nonempty node set")
    val danglingIds = nodeIds
      .join(edges.select(col("src").as("id")).distinct(),
        Seq("id"), "left_anti")
      .localCheckpoint(true)
    val r0 = mass / n
    val base = r0 * (1000 - dampingPermille) / 1000
    // the one variant-specific piece: pseudo-edges route each
    // dangling node's whole rank (r div 1) into the NULL group of
    // the contribution exchange; dampedLoop turns that group's sum
    // into the broadcast share `sum div n`
    val pseudo = danglingIds.select(col("id").as("src"),
      lit(null).cast("long").as("dst"), lit(1L).as("od"))
    dampedLoop(nodeIds.select(col("id"), lit(base).as("tel")),
      degreeEdges(edges).filter(col("dst").isNotNull)
        .unionByName(pseudo),
      nodeIds.select(col("id"), lit(r0).as("r")),
      iterations, dampingPermille, Some(n))
  }

  /** Fixed-point HITS — the OTHER classic link prior: a page is a
    * good AUTHORITY when good hubs link to it, a good HUB when it
    * links to good authorities (Kleinberg's mutual reinforcement).
    * Crawl curation uses the pair where PageRank alone conflates the
    * two roles: link directories score as hubs, canonical pages as
    * authorities.
    *
    * Same all-integer discipline as [[pageRankFixed]], with HITS'
    * per-round normalization replaced by integer SUM-normalization:
    * after each half-step the raw scores are rescaled to total
    * `mass` via `raw · mass div Σraw` — multiply before divide, all
    * longs, so the result is hash-exact cross-engine (the textbook
    * L2 norm is a sqrt — exactly the transcendental the fixed-point
    * family exists to avoid). With `mass` ≤ 10⁹ the rescale product
    * is ≤ 10¹⁸ < 2⁶³ because each raw score is bounded by the
    * PREVIOUS round's total mass — a bound that holds only on SIMPLE
    * graphs, so edges are deduplicated at intake (parallel edges
    * collapse; unbounded multigraph fan-in could otherwise push one
    * raw score past the margin and wrap silently). Edges with an
    * endpoint outside `nodes` are dropped at intake too: an unknown
    * id would hold hub or authority mass that no node reports, and
    * its share would still count in every rescale's total.
    *
    * Scale shape: two shuffles per round (authorities group by dst,
    * hubs group by src — a deployment buckets the edge table by each
    * once) plus two SCALAR normalization aggregates (one bounded
    * driver action each, the dangling-PageRank precedent); scores
    * are checkpointed per half-round so plans do not grow. */
  def hitsFixed(edges: DataFrame, nodes: DataFrame, idCol: String,
      iterations: Int = 4, mass: Long = 1000000000L,
      nodeCountHint: Long = 0L): DataFrame = {
    require(mass <= 1000000000L,
      "mass above 1e9 can overflow the integer rescale product")
    val nodeIds = nodes.select(col(idCol).cast("long").as("id"))
      .localCheckpoint(true)
    val n = if (nodeCountHint > 0) nodeCountHint else nodeIds.count()
    require(n > 0, "hitsFixed needs a nonempty node set")
    // each edge's two endpoints become rows (`pos` 0 and 1) that
    // ONE semi-join checks against the node set: a semi-join per
    // endpoint column broadcasts the node set twice, and once per
    // branch of a union-built edge law. An edge keeps both positions
    // exactly when both endpoints are nodes; the group-by that checks
    // it also collapses parallel edges
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .select(col("src"), col("dst"),
        posexplode(array(col("src"), col("dst"))).as(Seq("pos", "id")))
      .join(nodeIds, Seq("id"), "left_semi")
      .groupBy(col("src"), col("dst"))
      .agg((min(col("pos")) < max(col("pos"))).as("closed"))
      .filter(col("closed")).select(col("src"), col("dst"))
      .localCheckpoint(true)
    // rescale LAZILY over the checkpointed raw frame — no spine join,
    // no extra materialization per half-round. Only ids that received
    // mass appear, and every one of them is a node because `e` holds
    // only edges between nodes; an absent node's score is 0, and a
    // zero score contributes nothing to the next half-round's integer
    // sums, so the slim frame feeds the loop with the values a
    // spine-complete frame would (the zeros are re-attached once, at
    // the end).
    // Old shape: spine join + localCheckpoint per half-round = 2 extra
    // jobs per round that moved no information the next join needed.
    def rescaleSlim(raw: DataFrame, total: Long, out: String): DataFrame =
      raw.select(col("id"), expr(
        s"(cs * CAST($mass AS BIGINT)) div CAST($total AS BIGINT)")
        .as(out))
    def massOf(raw: DataFrame): Long = {
      val s = raw.agg(coalesce(sum(col("cs")), lit(0L)))
        .collect()(0).getLong(0)
      require(s > 0, "HITS mass vanished — node set unreachable " +
        "from the edge set; check the edge law")
      s
    }
    // a projection of the checkpointed node ids: nothing to materialize.
    // Dropping the checkpoint that stood here saves the one job the
    // endpoint semi-join above adds, which keeps q149's job count
    // unchanged (57 at sf0.001) — edit either place and that count moves
    var hubs = nodeIds.select(col("id"), lit(mass / n).as("h"))
    var auths: DataFrame = nodeIds.select(col("id"), lit(0L).as("a"))
    for (_ <- 1 to iterations) {
      val araw = hubs.join(e, hubs("id") === e("src"))
        .select(col("dst").as("id"), col("h"))
        .groupBy(col("id")).agg(sum(col("h")).as("cs"))
        .localCheckpoint(true) // consumed twice: scalar + rescale
      auths = rescaleSlim(araw, massOf(araw), "a")
      val hraw = auths.join(e, auths("id") === e("dst"))
        .select(col("src").as("id"), col("a"))
        .groupBy(col("id")).agg(sum(col("a")).as("cs"))
        .localCheckpoint(true)
      hubs = rescaleSlim(hraw, massOf(hraw), "h")
    }
    // re-attach the spine once: nodes that never received mass score 0
    // in both roles (exactly the values the per-round spine join
    // used to materialize)
    nodeIds
      .join(auths, Seq("id"), "left")
      .join(hubs, Seq("id"), "left")
      .select(col("id"), coalesce(col("a"), lit(0L)).as("a"),
        coalesce(col("h"), lit(0L)).as("h"))
  }

  /** PERSONALIZED fixed-point PageRank — the targeted-selection twin
    * of [[pageRankFixed]] (the DSIR-style "rank relative to a target
    * domain" prior): the teleport vector concentrates on `seeds`
    * instead of spreading uniformly, so rank measures proximity to
    * the seed set through the link structure — a crawl page heavily
    * linked FROM the target domain's neighborhood outranks a globally
    * popular but unrelated hub. Classic formulation (Page et al.'s
    * personalized vector; Haveliwala's topic-sensitive PageRank),
    * same all-integer discipline: seeds start with `mass div nSeeds`
    * (everyone else 0) and receive the whole teleport share each
    * round — r' = [seed]·(r₀·(1000−d)) div 1000 + (d·cs) div 1000 —
    * so every value stays a long and the result is hash-exact under
    * an unrolled-CTE oracle. Dangling mass drops (the [[pageRankFixed]]
    * semantics, documented; the redistribution variant composes the
    * same way as q146 if needed). Scale shape unchanged: one
    * dst-grouped shuffle per round over the degree-denormalized edge
    * table, the seed flag denormalized onto the rank table once
    * before the loop, one bounded seed count up front. */
  def pageRankFixedPersonalized(edges: DataFrame, nodes: DataFrame,
      idCol: String, seeds: DataFrame, seedCol: String,
      iterations: Int = 5, dampingPermille: Int = 850,
      mass: Long = 1000000000000L): DataFrame = {
    val nodeIds = nodes.select(col(idCol).cast("long").as("id"))
      .localCheckpoint(true)
    val seedIds = seeds.select(col(seedCol).cast("long").as("id"))
      .distinct().localCheckpoint(true)
    val nSeeds = seedIds.count()
    require(nSeeds > 0,
      "pageRankFixedPersonalized needs a nonempty seed set")
    // seed flag denormalized once: the per-round teleport term is
    // isSeed · base, never a join against the seed set inside the loop
    val flagged = nodeIds
      .join(seedIds.withColumn("isSeed", lit(1L)), Seq("id"), "left")
      .select(col("id"), coalesce(col("isSeed"), lit(0L)).as("isSeed"))
      .localCheckpoint(true)
    val r0 = mass / nSeeds
    val base = r0 * (1000 - dampingPermille) / 1000
    dampedLoop(flagged.select(col("id"), (col("isSeed") * base).as("tel")),
      degreeEdges(edges),
      flagged.select(col("id"), (col("isSeed") * r0).as("r")),
      iterations, dampingPermille, None)
  }

  /** Persist a PageRank PRIOR artifact — the "compute offline, join
    * at curation time" form of the centrality family (round-17
    * verdict #1 of the missing list): every selection query was
    * re-running five PageRank rounds in-plan, the one expensive
    * derivation that did not ride the Warehouse, and no deployment
    * recomputes the crawl graph's PageRank per selection batch (the
    * reference's own denormalized `primary_group` precompute —
    * reference/tally-export-config.yaml:15-17 — is the same move).
    * Layout: `ranks.parquet` (id, r) + `_meta.json` {version,
    * iterations, dampingPermille, mass, n}. The meta records the
    * TRAINING parameters; [[readPageRankPrior]] requires the
    * caller's expectation to match them, so a prior trained under
    * different damping/rounds can never silently gate a selection
    * (the stored-geometry discipline of every index here). Serving
    * is then ONE equi-join against an |nodes|-rows-of-two-longs
    * table — zero retrain per batch. Rebuild cadence is the
    * deployment's corpus-version cycle, like the ANN retrain. */
  def buildPageRankPrior(edges: DataFrame, nodes: DataFrame,
      idCol: String, dir: String, iterations: Int = 5,
      dampingPermille: Int = 850, mass: Long = 1000000000000L,
      nodeCountHint: Long = 0L): Unit = {
    val n = if (nodeCountHint > 0) nodeCountHint
      else nodes.select(col(idCol)).count()
    pageRankFixed(edges, nodes, idCol, iterations, dampingPermille,
        mass, n)
      .write.mode("overwrite").parquet(s"$dir/ranks.parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_meta.json"),
      s"""{"version":1,"iterations":$iterations,""" +
        s""""dampingPermille":$dampingPermille,"mass":$mass,"n":$n}""")
  }

  /** Read a stored PageRank prior back as (id, r), failing loudly on
    * partial dirs and on any mismatch between the caller's expected
    * training parameters and the stored ones — ranks are meaningless
    * under other (iterations, damping, mass), and a silent mismatch
    * would move every gate they feed. Returns the ranks AND the
    * stored node count (the uniform-prior threshold r₀ = mass div n
    * derives from it — read back, never caller-trusted). */
  def readPageRankPrior(spark: org.apache.spark.sql.SparkSession,
      dir: String, iterations: Int = 5, dampingPermille: Int = 850,
      mass: Long = 1000000000000L): (DataFrame, Long) = {
    val meta = Warehouse.readMetaJson(dir, "PageRank prior")
    Warehouse.requireMetaVersion(meta, dir, "PageRank prior", 1L,
      "persisted rank table + training parameters")
    def f(key: String): Long = Warehouse.metaLong(meta, dir, key)
    require(f("iterations") == iterations &&
        f("dampingPermille") == dampingPermille && f("mass") == mass,
      s"PageRank prior at $dir was trained with $meta, queried with " +
        s"iterations=$iterations dampingPermille=$dampingPermille " +
        s"mass=$mass — rebuild or match the training parameters")
    (spark.read.parquet(s"$dir/ranks.parquet"), f("n"))
  }

  /** [[buildPageRankPrior]]'s HITS twin: `ranks.parquet` (id, a, h) +
    * `_meta.json` {version, iterations, mass, n}. Same contract —
    * train offline once per corpus version, serve by joining. */
  def buildHitsPrior(edges: DataFrame, nodes: DataFrame, idCol: String,
      dir: String, iterations: Int = 4, mass: Long = 1000000000L,
      nodeCountHint: Long = 0L): Unit = {
    val n = if (nodeCountHint > 0) nodeCountHint
      else nodes.select(col(idCol)).count()
    hitsFixed(edges, nodes, idCol, iterations, mass, n)
      .write.mode("overwrite").parquet(s"$dir/ranks.parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_meta.json"),
      s"""{"version":1,"iterations":$iterations,"mass":$mass,""" +
        s""""n":$n}""")
  }

  /** Read a stored HITS prior back as (id, a, h) — the
    * [[readPageRankPrior]] discipline. */
  def readHitsPrior(spark: org.apache.spark.sql.SparkSession,
      dir: String, iterations: Int = 4,
      mass: Long = 1000000000L): DataFrame = {
    val meta = Warehouse.readMetaJson(dir, "HITS prior")
    Warehouse.requireMetaVersion(meta, dir, "HITS prior", 1L,
      "persisted rank table + training parameters")
    def f(key: String): Long = Warehouse.metaLong(meta, dir, key)
    require(f("iterations") == iterations && f("mass") == mass,
      s"HITS prior at $dir was trained with $meta, queried with " +
        s"iterations=$iterations mass=$mass — rebuild or match the " +
        "training parameters")
    spark.read.parquet(s"$dir/ranks.parquet")
  }
}
