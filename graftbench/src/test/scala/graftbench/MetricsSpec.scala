package graftbench

import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  private val declared = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toSeq
  }

  test("the run prints exactly the metrics BENCHMARK.json declares, with their units") {
    assert(declared == Metrics.endToEnd ++ Metrics.perLayer)
  }

  test("the result line carries correct, attempted, failed and every metric") {
    val line = Metrics.json(correct = true, 3, 0, Seq(("setup_s", "s", 1.5)))
    assert(line == """{"correct": true, "attempted": 3, "failed": 0, """ +
      """"metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}""")
  }
}
