package graft

import graft.operators.Bpe
import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("hand-computed merges: pair frequency argmax with lexicographic " +
    "tie-break, merges chain onto earlier merges") {
    // corpus: low ×5, lower ×2, newest ×6, widest ×3
    // char pairs: (e,s) and (s,t) appear in newest+widest = 9 — top;
    // tie between (e,s) and (e,w)? (n,e): newest 6; (e,w): newest 6;
    // (e,s): 9, (s,t): 9 → step1 argmax: n=9 tie between (e,s),(s,t)
    // → lexicographic: (e,s). step2: (es,t) now 9 → top again.
    val docs = Seq(
      (1L, ("low " * 5).trim),
      (2L, ("lower " * 2).trim),
      (3L, ("newest " * 6).trim),
      (4L, ("widest " * 3).trim)).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, "text", 3)
    assert(merges(0) == ((1, "e", "s")), s"step1: ${merges(0)}")
    assert(merges(1) == ((2, "es", "t")), s"step2: ${merges(1)}")
    // step3: remaining pairs — lo: 7 (low 5 + lower 2) tops n/w ests
    // joins: (n,e)=6,(w,e)? newest: n e w e s t → (e,w) 6, widest:
    // w i d e s t → (d,est) 3... (l,o) = 7 is the max
    assert(merges(2) == ((3, "l", "o")), s"step3: ${merges(2)}")
  }

  test("greedy application: consecutive pair runs merge every " +
    "occurrence (the double-space representation law)") {
    // "ababab" as chars: a b a b a b — merge (a,b) must produce
    // ab ab ab (3 tokens), not the single-space representation's
    // 2 merges + stranded middle pair
    val words = Seq("ababab").toDF("w")
    val got = Bpe.wordTokenCounts(words, "w", Seq((1, "a", "b")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got("ababab") == 3L)
    // and an odd run merges greedily left to right: aaa -> aa a
    val odd = Seq("aaa").toDF("w")
    val gotOdd = Bpe.wordTokenCounts(odd, "w", Seq((1, "a", "a")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(gotOdd("aaa") == 2L)
  }

  test("doc token counts: multiset-weighted, zero-token docs count 0") {
    val docs = Seq(
      (1L, "low low newest"),
      (2L, "!!! ..."),
      (3L, "widest")).toDF("doc_id", "text")
    // no merges: every word counts its characters
    val got = Bpe.docTokenCounts(docs, "doc_id", "text", Seq.empty)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 12L, 2L -> 0L, 3L -> 6L))
  }

  test("stored merge table round-trips; partial artifacts rejected") {
    val docs = Seq((1L, "low lower lowest")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bpespec").toString
    try {
      Bpe.buildMergeTable(spark, docs, "text", dir, 4)
      val merges = Bpe.readMerges(spark, dir)
      assert(merges.size == 4 && merges.map(_._1) == Seq(1, 2, 3, 4))
      assert(merges == Bpe.trainMerges(docs, "text", 4))
      // meta discipline
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(s"$dir/_meta.json"))
      val err = intercept[IllegalArgumentException] {
        Bpe.readMerges(spark, dir)
      }
      assert(err.getMessage.contains("_meta.json"))
    } finally graft.operators.Warehouse.deleteRec(new java.io.File(dir))
  }

  test("segmented encode ≡ the one-projection fold on trained merges; " +
    "past-the-wall merge tables encode correctly") {
    // trained merges with real cascading effect: the gate-scale
    // equality pin (segmentation is a plan barrier, never semantic)
    val docs = Seq(
      (1L, ("low " * 5).trim), (2L, ("lower " * 2).trim),
      (3L, ("newest " * 6).trim), (4L, ("widest " * 3).trim))
      .toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, "text", 12)
    val words = Seq("lowest", "newest", "widest", "low", "ababab")
      .toDF("w")
    def counts(segmentEvery: Int) =
      Bpe.wordTokenCounts(words, "w", merges, segmentEvery)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val oneShot = counts(1000)
    assert(counts(3) == oneShot && counts(5) == oneShot)
    // a merge table past the one-projection wall (512+ nested
    // replaces StackOverflow Spark's Column→Expression conversion —
    // the measured law in Bpe.DefaultSegmentEvery's scaladoc): each
    // merge k consumes one more 'b' into the growing prefix symbol,
    // so every merge has real effect and the final count is exact
    val deep = (1 to 700).map(k => (k, "a" + "b" * (k - 1), "b"))
    val long = Seq("a" + "b" * 1024).toDF("w")
    val got = Bpe.wordTokenCounts(long, "w", deep)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // 1025 char symbols, 700 merges each absorbing one: 325 tokens
    assert(got("a" + "b" * 1024) == 325L)
  }

  test("incremental pair-count training ≡ the full recount, " +
    "merge for merge, on the harness corpus") {
    // round-19 verdict #4: trainMerges now maintains the pair-count
    // table by delta (only words containing the winning pair re-emit
    // counts) instead of a full vocab recount per round — the merge
    // SEQUENCE must be bit-identical, including the (n desc, x asc,
    // y asc) tie-breaks, through a real corpus's long tie-heavy tail
    val docs = Tables.documents(spark, SparkTestSession.sf)
    val incremental = Bpe.trainMerges(docs, "text", 64)
    val recount = Bpe.trainMergesRecount(docs, "text", 64)
    assert(incremental == recount,
      s"first divergence: ${incremental.zip(recount)
        .indexWhere(p => p._1 != p._2)}")
  }

  test("driver-side training ≡ the distributed incremental loop, " +
    "merge for merge, on the harness corpus — and the cap routes") {
    // round-20 (round-19 verdict #4's finish): under the word cap
    // (the near-universal case — the histogram, not the corpus, is
    // the training input), the whole merge loop runs in driver
    // memory; the selection rule (max n, then x asc, y asc) and the
    // greedy left-to-right merge application are the SAME, so the
    // merge table must be bit-identical to the distributed loop's,
    // tie-heavy tail included
    val docs = Tables.documents(spark, SparkTestSession.sf)
    val driver = Bpe.trainMerges(docs, "text", 64) // routes driver-side
    val prev = spark.conf.get("spark.graft.bpe.driverMaxWords", "4000000")
    val distributed = try {
      spark.conf.set("spark.graft.bpe.driverMaxWords", "0")
      Bpe.trainMerges(docs, "text", 64) // cap 0 forces the Spark loop
    } finally spark.conf.set("spark.graft.bpe.driverMaxWords", prev)
    assert(driver == distributed,
      s"first divergence: ${driver.zip(distributed)
        .indexWhere(p => p._1 != p._2)}")
    // the stats counters record the same incremental law either way
    val sD = new Bpe.TrainStats
    Bpe.trainMerges(docs, "text", 16, Some(sD))
    val sS = new Bpe.TrainStats
    try {
      spark.conf.set("spark.graft.bpe.driverMaxWords", "0")
      Bpe.trainMerges(docs, "text", 16, Some(sS))
    } finally spark.conf.set("spark.graft.bpe.driverMaxWords", prev)
    assert(sD.affectedRows == sS.affectedRows &&
      sD.recountRows == sS.recountRows,
      s"stats diverge: driver (${sD.affectedRows}, ${sD.recountRows})" +
        s" vs spark (${sS.affectedRows}, ${sS.recountRows})")
  }

  test("training fails loudly when the vocabulary exhausts its pairs") {
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException] {
      Bpe.trainMerges(docs, "text", 3) // only 1 possible merge
    }
    assert(err.getMessage.contains("exhausted"))
  }
}
