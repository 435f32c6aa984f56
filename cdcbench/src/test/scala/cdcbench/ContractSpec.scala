package cdcbench

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The harness prints exactly the metrics BENCHMARK.json declares. */
class ContractSpec extends AnyFunSuite {
  private val declared = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File("../BENCHMARK.json"))
  private def names(key: String) =
    declared.get(key).elements().asScala.map(m =>
      m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("the traced run prints the declared per-layer metrics, in order") {
    assert(Main.layerNames == names("per_layer"))
  }

  test("every declared end-to-end metric has an overhead counterpart") {
    assert(names("end_to_end").map(_._1).toSet == Main.e2eNames.toSet)
    assert(Main.workloads.keySet ==
      declared.get("workloads").elements().asScala.map(_.get("name").asText()).toSet)
  }
}
