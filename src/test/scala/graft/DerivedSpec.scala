package graft

import graft.operators.TextDedup
import graft.sources.Derived
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DerivedSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("explode view flattens one level carrying parent columns") {
    val df = Seq(
      ("v1", "2020-04-05", Seq(("Widget", 3.0), ("Gadget", 1.0))),
      ("v2", "2020-04-06", Seq(("Gizmo", 2.0))))
      .toDF("guid", "date", "entries")
      .withColumn("entries", col("entries").cast(
        "array<struct<item:string,qty:double>>"))
    val child = Derived.explodeView(df, "entries", Seq("guid", "date"))
    assert(child.columns.toSeq == Seq("guid", "date", "item", "qty"))
    assert(child.count() == 3)
    val v1 = child.filter($"guid" === "v1").collect()
    assert(v1.map(_.getString(2)).toSet == Set("Widget", "Gadget"))
  }

  test("dedupedCorpus removes exact and near duplicates, keeps min ids") {
    val base = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (0L, base), (1L, base),                       // exact dup → keep 0
      (2L, base.replace("sigma", "SIGMA2")),        // near dup of 0 → drop
      (3L, "totally different content with unique words only here"))
      .toDF("doc_id", "text")
    val kept = TextDedup.dedupedCorpus(docs, "doc_id", "text",
        minJaccard = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 3L))
  }
}
