package perfbench

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

class TracedTickSpec extends AnyFunSuite {
  private def metrics(rec: Recorder, root: String) =
    Layers.of(rec, rec.roots.find(_.name == root).get, Reports.Names)

  test("a traced incremental tick leaves the same warehouse as an untraced " +
    "one, and its spans account for its wall time") {
    val work = new File(BenchSession.work, "incremental")
    work.mkdirs()
    val env = new Env(BenchSession.spark, work, IncrementalSync.Tables)
    val wl = new IncrementalSync(env, 4, 300)
    val rec = new Recorder(BenchSession.spark)
    try {
      wl.setup()
      assert(wl.prepare(Some(rec)) == 0)
      // both ticks are checked against the same reference tables
      assert(wl.op(0, None).failed == 0)
      assert(wl.op(1, Some(rec)).failed == 0)
      assert(wl.errors.isEmpty)
      val op = metrics(rec, "op")
      assert(op("merge.rows_deleted") > 0 && op("merge.rows_appended") > 0)
      assert(op("source.diff_rows") > 0 && op("source.voucher_number_rows") > 0)
      assert(op("warehouse.rewrite_calls") > 0 && op("http.calls") > 0)
      assert(op("warehouse.bucket_frac") > 0 && op("warehouse.bucket_frac") <= 1)
      // whatever no layer span covers is small next to the tick
      assert(op("trace.unattributed_s") < 0.05 * op("trace.op_s"))
      assert(metrics(rec, "noop")("merge.rows_appended") == 0)
    } finally { rec.detach(); wl.close() }
  }

  test("the traced full sync times each loader layer and serves every report") {
    val wl = new FullSync(BenchSession.env, 6, 300)
    val rec = new Recorder(BenchSession.spark)
    try {
      wl.setup()
      assert(wl.prepare(Some(rec)) == 0)
      assert(wl.op(0, Some(rec)).failed == 0)
      val op = metrics(rec, "op")
      val tables = BenchSession.env.specs.size.toDouble
      assert(op("http.calls") == tables && op("warehouse.write_calls") == tables)
      assert(op("tallyxml.rows") > 0 && op("tallyxml.tsv_to_rows_s") > 0)
      assert(op("merge.spark_jobs") == 0 && op("warehouse.rewrite_calls") == 0)
      assert(op("trace.unattributed_s") < 0.05 * op("trace.op_s"))
      val pass = metrics(rec, "pass")
      assert(Reports.Names.forall(n => pass(s"reports.${n}_s") > 0))
      assert(pass("reports.tree_walk_jobs") > 0)
    } finally { rec.detach(); wl.close() }
  }
}
