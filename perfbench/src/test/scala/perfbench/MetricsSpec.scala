package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** BENCHMARK.json at the checkout root declares the metrics this driver
  * prints; the two must not drift apart. */
class MetricsSpec extends AnyFunSuite {
  private val json = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
  private def declared(key: String): Seq[(String, String)] =
    json.get(key).elements().asScala.map(m =>
      m.get("name").asText -> m.get("unit").asText).toSeq

  test("end-to-end metrics match BENCHMARK.json") {
    assert(declared("end_to_end") == Metrics.endToEnd)
  }
  test("per-layer metrics match BENCHMARK.json") {
    assert(declared("per_layer") == Metrics.perLayer)
  }
  test("workloads match BENCHMARK.json") {
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Main.Workloads)
  }
}
