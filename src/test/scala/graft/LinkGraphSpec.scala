package graft

import graft.operators.{Curation, LinkGraph}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LinkGraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("hitsFixed: bipartite hubs/authorities land on the closed form") {
    // 0→{2,3}, 1→{2,3}: 0 and 1 are pure equal hubs, 2 and 3 pure
    // equal authorities — every round halves the mass onto each side
    // symmetrically, so the fixed point is exact: auth = hub = 0 on
    // the wrong side, mass/2 on the right side
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("id")
    val edges = Seq((0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L))
      .toDF("src", "dst")
    val m = 1000000000L
    val r = LinkGraph.hitsFixed(edges, nodes, "id", iterations = 3,
        mass = m).orderBy($"id").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(0L, 0L, m / 2, m / 2))
    assert(r.map(_.getLong(2)).toSeq == Seq(m / 2, m / 2, 0L, 0L))
  }

  test("hitsFixed: sum normalization conserves mass up to floor remainders") {
    val docs = Tables.documents(spark, SparkTestSession.sf)
    val n = docs.count()
    val edges = docs.select($"doc_id".cast("long").as("src"))
      .select($"src", explode(array(
        ($"src" * 31 + 7) % n,
        ($"src" * 17 + 3) % n,
        ($"src" * 13 + 11) % n)).as("dst"))
    val m = 1000000000L
    val r = LinkGraph.hitsFixed(edges, docs, "doc_id", iterations = 4,
        mass = m, nodeCountHint = n)
      .agg(sum($"a"), sum($"h"), count(lit(1))).head()
    val (sa, sh) = (r.getLong(0), r.getLong(1))
    // each rescale floors per node: total ∈ (mass − n, mass]
    assert(sa <= m && sa > m - n, s"auth mass $sa outside bounds")
    assert(sh <= m && sh > m - n, s"hub mass $sh outside bounds")
    assert(r.getLong(2) == n)
  }

  /** hitsFixed's rounds on driver-side maps: hubs start at
    * `mass div n`, each half-step sums over the simple edge set and
    * rescales to `raw · mass div Σraw`. `closed` drops the edges with
    * an endpoint outside `nodes`. */
  private def hitsReference(nodes: Seq[Long], edges: Seq[(Long, Long)],
      iterations: Int, mass: Long, closed: Boolean): Seq[(Long, Long, Long)] = {
    val e = edges.distinct.filter { case (s, d) =>
      !closed || (nodes.contains(s) && nodes.contains(d)) }
    def rescale(raw: Map[Long, Long]): Map[Long, Long] = {
      val total = raw.values.sum
      raw.map { case (id, v) => id -> v * mass / total }
    }
    var hubs = nodes.map(_ -> mass / nodes.size).toMap
    var auths = Map.empty[Long, Long]
    (1 to iterations).foreach { _ =>
      auths = rescale(e.groupBy(_._2).map { case (d, in) =>
        d -> in.map(x => hubs.getOrElse(x._1, 0L)).sum })
      hubs = rescale(e.groupBy(_._1).map { case (s, out) =>
        s -> out.map(x => auths.getOrElse(x._2, 0L)).sum })
    }
    nodes.sorted.map(id => (id, auths.getOrElse(id, 0L), hubs.getOrElse(id, 0L)))
  }

  test("hitsFixed drops edges to ids outside the node set") {
    // 7 and 9 are not nodes: 1 and 4 link out to them, 9 links in to 3
    val nodes = Seq(0L, 1L, 2L, 3L, 4L)
    val edges = Seq((0L, 2L), (0L, 3L), (1L, 2L), (1L, 9L), (1L, 7L),
      (9L, 3L), (3L, 4L), (4L, 7L), (2L, 4L), (0L, 2L))
    val m = 1000000000L
    val want = hitsReference(nodes, edges, 3, m, closed = true)
    assert(want != hitsReference(nodes, edges, 3, m, closed = false),
      "fixture: the unknown ids must change the scores")
    val got = LinkGraph.hitsFixed(edges.toDF("src", "dst"),
        nodes.toDF("id"), "id", iterations = 3, mass = m)
      .orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    // all the mass stays on the nodes, up to the floor remainders
    assert(got.map(_._2).sum > m - nodes.size && got.map(_._3).sum > m - nodes.size)
  }

  test("hitsFixed collapses parallel edges (simple-graph intake)") {
    // the overflow bound raw ≤ previous total mass holds only on
    // simple graphs; intake dedup makes a multigraph input score
    // exactly like its simple projection
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("id")
    val simple = Seq((0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L))
      .toDF("src", "dst")
    val multi = simple.unionByName(simple).unionByName(simple)
    val a = LinkGraph.hitsFixed(simple, nodes, "id", iterations = 3)
      .orderBy($"id").collect().toSeq
    val b = LinkGraph.hitsFixed(multi, nodes, "id", iterations = 3)
      .orderBy($"id").collect().toSeq
    assert(a == b)
  }

  test("stored centrality priors reproduce the in-plan derivation; meta gates") {
    val docs = Tables.documents(spark, SparkTestSession.sf)
      .limit(200).localCheckpoint(true)
    val n = docs.count()
    val edges = docs.select($"doc_id".cast("long").as("src"))
      .select($"src", (($"src" * 31 + 7) % n).as("dst"))
      .localCheckpoint(true)
    val dir = java.nio.file.Files
      .createTempDirectory("linkprior").toString
    try {
      LinkGraph.buildPageRankPrior(edges, docs, "doc_id",
        s"$dir/pr", iterations = 3, nodeCountHint = n)
      LinkGraph.buildHitsPrior(edges, docs, "doc_id",
        s"$dir/hits", iterations = 2, nodeCountHint = n)
      // serving ≡ retraining, row for row (the prior IS the same
      // fixed-point derivation, persisted)
      val (pr, storedN) = LinkGraph.readPageRankPrior(spark,
        s"$dir/pr", iterations = 3)
      assert(storedN == n)
      val prLive = LinkGraph.pageRankFixed(edges, docs, "doc_id",
        iterations = 3, nodeCountHint = n)
      assert(pr.orderBy($"id").collect().toSeq ==
        prLive.orderBy($"id").collect().toSeq)
      val hits = LinkGraph.readHitsPrior(spark, s"$dir/hits",
        iterations = 2)
      val hitsLive = LinkGraph.hitsFixed(edges, docs, "doc_id",
        iterations = 2, nodeCountHint = n)
      assert(hits.orderBy($"id").collect().toSeq ==
        hitsLive.orderBy($"id").collect().toSeq)
      // declared-parameters discipline: a caller expecting different
      // training parameters is refused — ranks are meaningless under
      // other (iterations, damping, mass)
      val e1 = intercept[IllegalArgumentException] {
        LinkGraph.readPageRankPrior(spark, s"$dir/pr", iterations = 5)
      }
      assert(e1.getMessage.contains("rebuild or match"))
      val e2 = intercept[IllegalArgumentException] {
        LinkGraph.readHitsPrior(spark, s"$dir/hits", iterations = 4)
      }
      assert(e2.getMessage.contains("rebuild or match"))
      // a meta-less dir is not an artifact
      new java.io.File(s"$dir/pr/_meta.json").delete()
      intercept[IllegalArgumentException] {
        LinkGraph.readPageRankPrior(spark, s"$dir/pr", iterations = 3)
      }
    } finally graft.operators.Warehouse.deleteRec(new java.io.File(dir))
  }

  test("q155/q156 stored-prior serving equals the in-plan q153/q149 entries") {
    val sf = SparkTestSession.sf
    assert(Curation.q155LinkPriorStored(spark, sf).collect().toSeq ==
      Curation.q153LinkQualityGate(spark, sf).collect().toSeq)
    assert(Curation.q156HitsPriorStored(spark, sf).collect().toSeq ==
      Curation.q149LinkHits(spark, sf).collect().toSeq)
  }

  test("q149 scores separate hubs from authorities on the arithmetic law") {
    val out = Curation.q149LinkHits(spark, SparkTestSession.sf)
    // non-degenerate: both scores vary, and the two rankings differ
    // (the mutual-reinforcement signal PageRank alone cannot split)
    val distinctAuth = out.select($"auth").distinct().count()
    val distinctHub = out.select($"hub").distinct().count()
    assert(distinctAuth > 1 && distinctHub > 1)
    val topAuth = out.orderBy($"auth".desc, $"doc_id").limit(5)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val topHub = out.orderBy($"hub".desc, $"doc_id").limit(5)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(topAuth != topHub, "hub and authority rankings coincide")
  }
}
