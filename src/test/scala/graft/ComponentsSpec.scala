package graft

import graft.operators.Components
import org.scalatest.funsuite.AnyFunSuite

class ComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("bounded and fixpoint variants agree on chains, cliques, singletons") {
    // a 20-node path (diameter 19 — propagation-only needs 19 rounds;
    // the fixpoint variant's pointer jumping must get there in far
    // fewer), a 4-clique, an isolated pair
    val chain = (1L until 20L).map(i => (i, i + 1))
    val clique = for (a <- 100L to 103L; b <- (a + 1) to 103L) yield (a, b)
    val pair = Seq((200L, 201L))
    val edges = (chain ++ clique ++ pair).toDF("a", "b")
    val bounded = labels(Components.connectedComponentsBounded(edges,
      rounds = 19))
    val fixed = labels(Components.connectedComponents(edges))
    assert(bounded == fixed)
    assert((1L to 20L).forall(bounded(_) == 1L))
    assert((100L to 103L).forall(bounded(_) == 100L))
    assert(bounded(200L) == 200L && bounded(201L) == 200L)
    // only edge-incident vertices appear
    assert(bounded.keySet == ((1L to 20L) ++ (100L to 103L) ++
      Seq(200L, 201L)).toSet)
  }

  test("default rounds resolve near-clique duplicate groups exactly") {
    // the shape dupClusters actually sees: small mutually-connected
    // groups — radius 1-2, far inside the default bound
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L))
      .toDF("a", "b")
    val got = labels(Components.connectedComponentsBounded(edges))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("bounded variant's plan grows linearly in rounds") {
    // the round-10 regression pin: a round that references its own
    // output twice doubles the logical plan per round — with a real
    // LSH edge pipeline inside, Catalyst optimization went exponential
    // (minutes of driver CPU before the first task). Each round must
    // add a CONSTANT number of plan nodes.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    def nodes(rounds: Int): Int =
      Components.connectedComponentsBounded(edges, rounds = rounds)
        .queryExecution.logical.collect { case p => p }.size
    val d34 = nodes(4) - nodes(3)
    val d45 = nodes(5) - nodes(4)
    val d56 = nodes(6) - nodes(5)
    assert(d45 == d34 && d56 == d45,
      s"plan growth not linear: +$d34, +$d45, +$d56 nodes per round")
  }

  test("dupClusters labels singletons with their own id") {
    val docs = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val edges = Seq((2L, 5L), (5L, 9L), (3L, 4L)).toDF("a", "b")
    val got = labels(Components.dupClusters(docs, "doc_id", edges))
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L, 5L -> 2L,
      6L -> 6L, 7L -> 7L, 8L -> 8L, 9L -> 2L, 10L -> 10L))
  }

  test("chain topology: bounded variant provably under-merges, fixpoint " +
    "converges in logarithmic rounds (the q142 contract)") {
    // a 64-node chain (diameter 63): every doc near-dups its
    // neighbor, ends share nothing — the crawl re-post topology
    // SURVEY D10 reserves the fixpoint variant for
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    // the bounded variant at q68's oracle setting reaches 3 hops:
    // node 63 is 63 hops from the min — it MUST be mislabeled (the
    // failure mode that motivates the fixpoint twin)
    val b3 = labels(Components.connectedComponentsBounded(edges,
      rounds = 3))
    assert(b3(63L) != 0L,
      "bounded rounds=3 unexpectedly resolved a 63-hop chain")
    assert(b3.values.toSet.size > 1,
      "bounded rounds=3 unexpectedly merged the whole chain")
    // the fixpoint variant resolves it, in ≤ ⌈log₂ 63⌉ + 2 rounds
    // (propagate+jump shrinks label distance at least geometrically;
    // +2 = the first-round offset and the final no-change round that
    // PROVES the fixpoint)
    val (lbl, rounds) = Components.connectedComponentsWithRounds(edges)
    val fx = labels(lbl)
    assert((0L to 63L).forall(fx(_) == 0L),
      s"fixpoint mislabeled the chain: ${fx.filter(_._2 != 0L).take(5)}")
    val bound = math.ceil(math.log(63.0) / math.log(2.0)).toInt + 2
    assert(rounds <= bound,
      s"fixpoint took $rounds rounds on diameter 63 (bound $bound) — " +
        "pointer jumping is not converging logarithmically")
    // and the q142 cluster law end-to-end: chains of Q142ChainLen
    // label every member with the chain head
    val docs = (0L until 250L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val n = 250L
    val chainLen = graft.operators.Curation.Q142ChainLen
    val chainEdges = (0L until n).filter(i =>
        i % chainLen != chainLen - 1 && i + 1 < n)
      .map(i => (i, i + 1)).toDF("a", "b")
    val got = labels(Components.dupClustersFixpoint(docs, "doc_id",
      chainEdges))
    assert((0L until n).forall(i => got(i) == (i / chainLen) * chainLen),
      "q142 chain law mislabeled")
  }

  test("empty edge set: fixpoint converges immediately, clusters are all singletons") {
    // round-17 ADVICE: a corpus with ZERO duplicate pairs is a
    // legitimate dupClustersFixpoint input — the label-sum convergence
    // check used to NPE on the null sum over the empty label frame
    val docs = (1L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Components.connectedComponents(empty).count() == 0)
    val got = Components.dupClustersFixpoint(docs, "doc_id", empty)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 5L).map(i => i -> i).toMap)
  }

  test("fixpoint variant fails loudly when maxIters is too small") {
    val edges = (1L until 10L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Components.connectedComponents(edges, maxIters = 1)
    }
    assert(e.getMessage.contains("converge"))
  }
}
