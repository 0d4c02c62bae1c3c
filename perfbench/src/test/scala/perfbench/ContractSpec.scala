package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** BENCHMARK.json declares what the benchmark prints: the names and
  * units there must be the ones the code reports. */
class ContractSpec extends AnyFunSuite {
  private lazy val json = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
  private def declared(key: String) = json.get(key).elements().asScala
    .map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("per-layer metrics match the declaration") {
    assert(declared("per_layer") == Layers.metrics(Reports.Names))
  }

  test("end-to-end metrics and workloads match the declaration") {
    assert(declared("end_to_end").map(_._1) == Seq("op_s", "warehouse_mb", "setup_s"))
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      BenchMain.Workloads)
  }
}
