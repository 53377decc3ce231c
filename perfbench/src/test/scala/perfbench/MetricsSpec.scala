package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json at the repository root lists what the harness reports. */
class MetricsSpec extends AnyFunSuite {

  private val json = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  private def listed(key: String): Seq[Metrics.Metric] =
    json.get(key).elements().asScala.map(m => Metrics.Metric(
      m.get("name").asText, m.get("unit").asText, m.get("better").asText))
      .toSeq

  test("BENCHMARK.json lists every metric with the harness's unit and direction") {
    assert(listed("end_to_end") == Metrics.endToEnd)
    assert(listed("per_layer") == Metrics.perLayer)
  }

  test("BENCHMARK.json lists the harness's workloads") {
    val names = json.get("workloads").elements().asScala.map(_.get("name").asText)
      .toSeq
    assert(names == Seq("polling", "dedup"))
    names.foreach(n => assert(Workload(n).name == n))
  }
}
