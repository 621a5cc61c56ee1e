package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json and the metrics Main prints must name the same
  * metrics with the same units.
  */
class BenchmarkJsonSpec extends AnyFunSuite {
  private val spec: JsonNode = new ObjectMapper().readTree(
    java.nio.file.Files.readString(java.nio.file.Paths.get("..", "BENCHMARK.json")))
  private def entries(key: String) =
    spec.get(key).elements().asScala.map(e => e.get("name").asText -> e.get("unit").asText).toSeq

  test("end-to-end metrics match") {
    assert(entries("end_to_end") == Main.EndToEnd)
  }

  test("per-layer metrics match") {
    assert(entries("per_layer") == Main.PerLayer.map { case (n, u, _) => n -> u })
  }

  test("every listed workload is one Main runs") {
    val ws = spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    assert(ws.nonEmpty && ws.forall(Main.Workloads.contains))
  }
}
