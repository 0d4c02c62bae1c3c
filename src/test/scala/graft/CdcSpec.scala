package graft

import graft.operators.Cdc
import org.scalatest.funsuite.AnyFunSuite

class CdcSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def target = Seq(
    ("g1", 1L, "a"), ("g2", 1L, "b"), ("g3", 2L, "c"))
    .toDF("guid", "alterid", "name")
  // g1 unchanged, g2 bumped (changed), g3 gone (deleted), g4 new
  private def source = Seq(
    ("g1", 1L, "a"), ("g2", 5L, "B"), ("g4", 3L, "d"))
    .toDF("guid", "alterid", "name")

  test("changeLog emits D for deleted and U for version-bumped keys") {
    val log = Cdc.changeLog(target, source, "guid", "alterid")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(log == Set(("D", "g3"), ("U", "g2")))
  }

  test("merge = source-wins upsert; incremental ≡ full-resync here") {
    val merged = Cdc.merge(target, source, Seq("guid"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(merged == Set(("g1", 1L, "a"), ("g2", 5L, "B"),
      ("g3", 2L, "c"), ("g4", 3L, "d")))
    // NOTE: merge keeps target rows absent from source; a full CDC
    // delete applies changeLog "D" keys first:
    val deleted = Cdc.changeLog(target, source, "guid", "alterid")
      .filter($"op" === "D").select($"guid")
    val afterDelete = Cdc.cascadeDelete(
      Cdc.merge(target, source, Seq("guid")), deleted, "guid")
    assert(afterDelete.count() == 3)  // g3 removed → equals source
  }

  test("cascadeDelete removes child rows of deleted parents") {
    val children = Seq(("g3", "c1"), ("g3", "c2"), ("g1", "c3"))
      .toDF("parent_guid", "item")
    val del = Seq("g3").toDF("guid")
    val kept = Cdc.cascadeDelete(children, del, "parent_guid").collect()
    assert(kept.map(_.getString(1)).toSet == Set("c3"))
  }

  test("cascadeUpdate refreshes denormalized names via FK") {
    val child = Seq(("g2", "old"), ("gX", "keep"))
      .toDF("fk", "parent_name")
    val master = Seq(("g2", "NEW")).toDF("guid", "name")
    val updated = Cdc.cascadeUpdate(child, master,
        "fk", "guid", "name", "parent_name")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(updated == Map("g2" -> "NEW", "gX" -> "keep"))
  }

  test("maxWatermark spans multiple tables") {
    val t1 = Seq(("a", 3L)).toDF("guid", "alterid")
    val t2 = Seq(("b", 9L), ("c", 4L)).toDF("guid", "alterid")
    assert(Cdc.maxWatermark(Seq(t1, t2), "alterid") == 9L)
  }
}
