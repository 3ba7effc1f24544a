package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("self time is a span's duration minus its children's") {
    val tr = new Tracer(null, enabled = false)
    val root = Span(0, "root", -1, 0L, 0L, 10000000000L, 10000L)
    val a = Span(1, "a", 0, 1000000000L, 1000L, 4000000000L, 4000L)
    val b = Span(2, "b", 0, 5000000000L, 5000L, 6000000000L, 6000L)
    tr.spans ++= Seq(root, a, b)
    assert(math.abs(tr.selfSeconds(root) - 6.0) < 1e-9)
    assert(math.abs(tr.selfSeconds(a) - 3.0) < 1e-9)
    assert(tr.subtree(root).map(_.name) == Seq("root", "a", "b"))
  }

  test("driver self time excludes the union of the span's job intervals") {
    val tr = new Tracer(null, enabled = false)
    val root = Span(0, "root", -1, 0L, 0L, 10000000000L, 10000L)
    val child = Span(1, "child", 0, 0L, 0L, 5000000000L, 5000L)
    tr.spans ++= Seq(root, child)
    val l = new EngineListener
    // two overlapping jobs in the child (1-3 s, 2-4 s) and one in the root (6-7 s)
    Seq((1, 1000L, 3000L), (1, 2000L, 4000L), (0, 6000L, 7000L)).zipWithIndex.foreach {
      case ((group, start, end), id) =>
        val j = new JobStats(group, start)
        j.endMs = end
        l.jobs(id) = j
    }
    assert(math.abs(tr.driverSelfSeconds(root, l) - 6.0) < 1e-9)
    assert(math.abs(tr.driverSelfSeconds(child, l) - 2.0) < 1e-9)
  }
}
