package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ReducerSpec extends AnyFunSuite {
  /** Build a recorded tree from (name, layer, start, end, parent). */
  private def spans(xs: (String, String, Long, Long, Int)*): Seq[Span] =
    xs.map { case (n, l, s, e, p) => Span(1L, n, l, s, e, p) }

  test("self time is duration minus children, per layer") {
    // root [0,100] bench; parse [5,15] ql; plan [15,45] planner with
    // analysis [20,30] catalyst inside; drain [45,95] exec
    val roots = Reducer.tree(spans(
      ("op", "bench", 0, 100, -1),
      ("parse", "ql", 5, 15, 0),
      ("plan", "planner", 15, 45, 0),
      ("analysis", "catalyst", 20, 30, 2),
      ("drain", "exec", 45, 95, 0)))
    assert(roots.size === 1)
    val self = Reducer.selfByLayer(roots.head)
    assert(self === Map("bench" -> 10L, "ql" -> 10L, "planner" -> 20L,
      "catalyst" -> 10L, "exec" -> 50L))
    assert(Reducer.reconcile(roots.head) === 1.0)
  }

  test("external spans attach under the deepest span containing them") {
    val roots = Reducer.tree(spans(
      ("op", "bench", 0, 100, -1),
      ("drain", "exec", 40, 100, 0)))
    Reducer.attach(roots, Seq(
      Span(1L, "catalyst.optimization", "catalyst", 42, 50, -1),
      Span(1L, "spark.jobs", "exec", 55, 95, -1),
      Span(2L, "spark.jobs", "exec", 0, 100, -1))) // other op: ignored
    val self = Reducer.selfByLayer(roots.head)
    // drain self = 60 - 8 - 40 = 12; jobs 40 -> exec 52
    assert(self === Map("bench" -> 40L, "catalyst" -> 8L, "exec" -> 52L))
    assert(Reducer.reconcile(roots.head) === 1.0)
  }

  test("overlapping or escaping children show up in the reconcile ratio") {
    // two siblings overlapping by 20: union 60, parent self 40, sum 120
    val overlap = Reducer.tree(spans(
      ("op", "bench", 0, 100, -1),
      ("a", "exec", 10, 50, 0),
      ("b", "exec", 30, 70, 0)))
    assert(Reducer.selfByLayer(overlap.head) ===
      Map("bench" -> 40L, "exec" -> 80L))
    assert(Reducer.reconcile(overlap.head) === 1.2)
    // a child running 20 past its parent: clipped in the parent, full
    // in itself
    val escape = Reducer.tree(spans(
      ("op", "bench", 0, 100, -1),
      ("a", "exec", 90, 120, 0)))
    assert(Reducer.selfByLayer(escape.head) ===
      Map("bench" -> 90L, "exec" -> 30L))
    assert(Reducer.reconcile(escape.head) === 1.2)
  }

  test("an op whose self times miss its wall time by over 10% fails") {
    val ok = Reducer.tree(spans(
      ("op", "bench", 0, 100, -1),
      ("a", "exec", 10, 50, 0)))
    assert(Reducer.reconciles(Reducer.reconcile(ok.head)))
    // siblings overlapping by 15: the sum is 115% of the wall time
    val bad = Reducer.tree(spans(
      ("op", "bench", 0, 100, -1),
      ("a", "exec", 10, 50, 0),
      ("b", "exec", 35, 70, 0)))
    assert(Reducer.reconcile(bad.head) === 1.15)
    assert(!Reducer.reconciles(Reducer.reconcile(bad.head)))
    assert(Reducer.reconciles(0.9) && !Reducer.reconciles(0.89))
  }

  test("the tracer records nested spans only while on") {
    val t = new Tracer(tracing = true)
    t.op("untraced")(t.span("x", "ql")(()))
    assert(t.spans.isEmpty)
    t.on = true
    t.op("traced")(t.span("x", "ql")(t.span("y", "planner")(())))
    assert(t.spans.map(s => (s.name, s.parent)) ===
      Seq(("traced", -1), ("x", 0), ("y", 1)))
    assert(t.spans.forall(s => s.op == 2L && s.end >= s.start))
    val off = new Tracer(tracing = false)
    off.on = true
    off.op("op")(off.span("x", "ql")(()))
    assert(off.spans.isEmpty)
  }

  test("p95 needs ten samples beyond it") {
    assert(Stats.p95((1 to 199).map(_.toDouble)).isEmpty)
    assert(Stats.p95((1 to 200).map(_.toDouble)).isDefined)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.25) === 2.5)
  }
}
