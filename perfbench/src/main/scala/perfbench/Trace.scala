package perfbench

import scala.collection.mutable

/** One timed interval. `op` groups every span of one statement or
  * batch step; `parent` is the index of the enclosing span in the same
  * buffer, or -1 for an op's root. Times are `System.nanoTime` values. */
final case class Span(op: Long, name: String, layer: String,
    start: Long, end: Long, parent: Int) {
  def dur: Long = end - start
}

/** Records spans at the layer boundaries the benchmark calls, for the
  * ops run while [[on]] is set. Otherwise [[span]] runs its body and
  * records nothing and [[op]] only times the root, so an untraced op
  * pays one `nanoTime` pair. Spans stay in memory until the run ends. */
final class Tracer(val tracing: Boolean) {
  /** Record the next ops' spans; only honoured in a tracing run. */
  var on = false
  private def enabled = tracing && on
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextOp = 0L
  private var currentOp = -1L
  /** Called with the op id when an op starts and with -1 when it ends,
    * so the Spark jobs the op submits can be tagged with it. */
  var onOp: Long => Unit = _ => ()

  /** Time `body` as a new op; returns its result and wall time (ns). */
  def op[T](name: String, layer: String = "bench")(body: => T): (T, Long) = {
    nextOp += 1
    currentOp = nextOp
    if (enabled) onOp(currentOp)
    val t0 = System.nanoTime()
    val idx = if (enabled) push(name, layer, t0) else -1
    try {
      val r = body
      val t1 = System.nanoTime()
      if (enabled) close(idx, t1)
      (r, t1 - t0)
    } finally {
      if (enabled) { open.clear(); onOp(-1L) }
      currentOp = -1L
    }
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = push(name, layer, System.nanoTime())
      try body finally close(idx, System.nanoTime())
    }

  def lastOp: Long = nextOp

  private def push(name: String, layer: String, t0: Long): Int = {
    val parent = if (open.isEmpty) -1 else open.top
    spans += Span(currentOp, name, layer, t0, Long.MinValue, parent)
    open.push(spans.length - 1)
    spans.length - 1
  }

  private def close(idx: Int, t1: Long): Unit = {
    spans(idx) = spans(idx).copy(end = t1)
    if (open.nonEmpty && open.top == idx) open.pop()
  }
}

/** Turns an op's span tree into self time per layer.
  *
  * External spans (Catalyst phases, Spark jobs) carry only an op id and
  * times; [[attach]] hangs each under the deepest recorded span of the
  * same op that contains its midpoint. Summed over an op, the self
  * times equal the root's wall time exactly when every child lies
  * inside its parent and siblings do not overlap; [[reconcile]] reports
  * the ratio, and a ratio off by more than 10% means spans overlap or
  * escape their parent. */
object Reducer {
  final case class Node(span: Span, children: mutable.ArrayBuffer[Node])

  def tree(spans: Seq[Span]): Seq[Node] = {
    val nodes = spans.map(s => Node(s, mutable.ArrayBuffer.empty[Node]))
    val roots = mutable.ArrayBuffer.empty[Node]
    spans.indices.foreach { i =>
      val p = spans(i).parent
      if (p < 0) roots += nodes(i) else nodes(p).children += nodes(i)
    }
    roots.toSeq
  }

  /** Insert external spans (parent ignored) under the deepest node of
    * the same op whose interval contains the external span's midpoint. */
  def attach(roots: Seq[Node], external: Seq[Span]): Unit = {
    val byOp = roots.groupBy(_.span.op)
    external.sortBy(_.start).foreach { e =>
      val mid = e.start + (e.end - e.start) / 2
      byOp.getOrElse(e.op, Nil).find(r => contains(r.span, mid)).foreach {
        r =>
          var n = r
          var deeper = true
          while (deeper) {
            n.children.find(c => contains(c.span, mid)) match {
              case Some(c) => n = c
              case None => deeper = false
            }
          }
          n.children += Node(e, mutable.ArrayBuffer.empty[Node])
      }
    }
  }

  private def contains(s: Span, t: Long) = s.start <= t && t <= s.end

  /** Length of the union of the children's intervals, clipped to the
    * parent: time the parent spent inside any child. */
  private def covered(parent: Span, children: Seq[Span]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    children.map(c => (math.max(c.start, parent.start),
        math.min(c.end, parent.end)))
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time (ns) per layer over the subtree rooted at `n`. The
    * parent's self time subtracts the union of its children, so
    * overlapping or escaping children inflate the sum instead of
    * cancelling out. */
  def selfByLayer(n: Node): Map[String, Long] = {
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def walk(x: Node): Unit = {
      val self = x.span.dur - covered(x.span, x.children.map(_.span).toSeq)
      acc(x.span.layer) += self
      x.children.foreach(walk)
    }
    walk(n)
    acc.toMap
  }

  /** Σ self times ÷ root wall time. */
  def reconcile(n: Node): Double =
    selfByLayer(n).values.sum.toDouble / math.max(1L, n.span.dur)

  /** Largest |Σ self ÷ wall − 1| an op may show. */
  val Tolerance = 0.10

  def reconciles(ratio: Double): Boolean = math.abs(ratio - 1.0) <= Tolerance
}
