package perfbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  private val declared: JValue =
    JsonMethods.parse(Files.readString(Paths.get("..", "BENCHMARK.json")))

  private def names(section: String): Set[String] =
    (declared \ section).children.map(m => (m \ "name").values.toString).toSet

  private def pass(traced: Boolean) = {
    val spans = Seq(
      Span(0, -1, "harness", "pass", "", 0, 1000000),
      Span(1, 0, "entry", "build", "q1", 100, 500000),
      Span(2, 1, "spark", "job", "q1", 200, 300000))
    PassRec(0, traced, 0, 1, 1.0, 0.5, Seq(CallRec("q1", 10, 0, 20, None)), 2, 5, spans,
      PlanShape(3, 1, 0, 2))
  }

  test("the workloads are the ones declared") {
    assert(names("workloads") == Set("oec_calls", "curation_etl"))
  }

  test("every declared per-layer metric is emitted, and nothing else") {
    val kernels = Kernels.Specs.map(k => s"functions.${k._1}_rows_per_s" -> 1.0).toMap
    val emitted = Layers.metrics(1.0, Seq(pass(false)), Seq(pass(true)),
      new Counters(null), kernels, 4).map(_._1)
    assert(emitted.size == emitted.distinct.size)
    assert(emitted.toSet == names("per_layer"))
  }

  test("per-layer metrics are emitted even for a run without traced passes") {
    val emitted = Layers.metrics(1.0, Seq(pass(false)), Nil, new Counters(null),
      Kernels.Specs.map(k => s"functions.${k._1}_rows_per_s" -> 1.0).toMap, 4).map(_._1)
    assert(emitted.toSet == names("per_layer"))
  }

  test("build jobs count the Spark jobs that start inside a build span") {
    val m = Layers.metrics(1.0, Seq(pass(false)), Seq(pass(true)), new Counters(null),
      Map.empty, 4).toMap
    assert(m("entry.build_jobs") == 1.0)
    assert(m("scratch.released_blocks") == 2.0)
    assert(m("plan.exchanges") == 3.0 && m("plan.scans") == 2.0)
  }
}
