package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class MetricsSpec extends AnyFunSuite {
  private val spec = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
  private def metrics(key: String) =
    spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("the harness prints exactly the metrics BENCHMARK.json declares, with their units") {
    assert(metrics("end_to_end") == Main.EndToEnd)
    assert(metrics("per_layer") == Main.PerLayer)
  }

  test("BENCHMARK.json names exactly the harness's workloads") {
    val names = spec.get("workloads").elements().asScala.map(_.get("name").asText).toSet
    assert(names == Main.Workloads.keySet)
  }

  test("a failed check reaches the result") {
    val r = new Report
    r.check("ok", 3, 3)
    r.deliveries("sink", 10, 8)
    assert(r.attempted == 11 && r.failed == 2)
    assert(r.json(Nil).startsWith("""{"correct": false, "attempted": 11, "failed": 2"""))
  }
}
