package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def s(id: Int, parent: Int, t0: Long, t1: Long, layer: String = "l") =
    Span(id, parent, layer, s"s$id", "", t0, t1)

  test("self time is the duration minus the part the children cover") {
    val spans = Seq(s(0, -1, 0, 100), s(1, 0, 10, 30), s(2, 0, 50, 60), s(3, 1, 12, 20))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - 20 - 10)
    assert(self(1) == 20 - 8)
    assert(self(2) == 10)
    assert(self(3) == 8)
  }

  test("overlapping children are subtracted once") {
    val self = Trace.selfTimes(Seq(s(0, -1, 0, 100), s(1, 0, 10, 40), s(2, 0, 30, 50)))
    assert(self(0) == 100 - 40)
  }

  test("a child running past its parent only covers the parent's part") {
    val self = Trace.selfTimes(Seq(s(0, -1, 0, 100), s(1, 0, 90, 130)))
    assert(self(0) == 90)
  }

  test("self times sum to the root's duration") {
    val spans = Seq(s(0, -1, 0, 100, "a"), s(1, 0, 10, 30, "b"), s(2, 1, 15, 25, "c"))
    val byLayer = Trace.selfByLayer(spans)
    assert(math.abs(byLayer.values.sum - 100 / 1e9) < 1e-15)
    assert(byLayer("c") == 10 / 1e9)
  }

  test("the tracer nests spans by call stack and records nothing when off") {
    val t = new Tracer(true)
    t.span("harness", "pass") { t.span("cube", "build", "c1")(()); t.span("cube", "collect", "c1")(()) }
    val byName = t.spans.map(x => x.name -> x).toMap
    assert(byName("build").parent == byName("pass").id)
    assert(byName("collect").parent == byName("pass").id)
    assert(byName("pass").parent == -1)
    assert(byName("build").callId == "c1")
    val off = new Tracer(false)
    assert(off.span("cube", "x")(42) == 42)
    assert(off.spans.isEmpty)
  }

  test("a measured span attaches under the innermost span containing its start") {
    val t = new Tracer(true)
    t.span("harness", "pass") { t.span("entry", "build", "q1")(Thread.sleep(2)) }
    val build = t.spans.find(_.name == "build").get
    t.addMeasured("spark", "job", build.startNs + 1, build.endNs - 1)
    val job = t.spans.find(_.name == "job").get
    assert(job.parent == build.id)
    assert(job.callId == "q1")
  }
}
