package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StreamsSpec extends AnyFunSuite {
  private val N = 400

  private def reads(seed: Long) = ReadStream(seed).take(N).toVector

  /** A small synthetic base: 50 customers, 100 orders, one edge each. */
  private def writes(seed: Long) = {
    val cust = (1L to 50L).map(id => id -> Customer(s"C$id", id % 25,
      id * 10.5, Streams.Segments((id % 5).toInt))).toMap
    val orders = (1L to 100L).map(_ * 4)
    val placed = orders.map(o => (1 + o % 50, o))
    val s = new WriteStream(seed, cust, orders, placed)
    Vector.fill(N)(s.next())
  }

  test("the same seed gives a byte-identical statement stream") {
    assert(reads(7).map(_.ql) === reads(7).map(_.ql))
    assert(reads(7).map(_.oracle) === reads(7).map(_.oracle))
    assert(writes(7) === writes(7))
    val bytes = (s: Seq[String]) => s.mkString("\n").getBytes("UTF-8").toSeq
    assert(bytes(writes(7).map(_.ql)) === bytes(writes(7).map(_.ql)))
  }

  test("different seeds draw different literals in the same op mix") {
    val (a, b) = (reads(1), reads(2))
    assert(a.map(_.shape) === b.map(_.shape))
    assert(a.zip(b).count { case (x, y) => x.ql != y.ql } > N * 9 / 10)
    val (w1, w2) = (writes(1), writes(2))
    assert(w1.map(_.kind) === w2.map(_.kind))
    assert(w1.zip(w2).count { case (x, y) => x.ql != y.ql } > N / 2)
  }

  test("the write mix follows the cycle, which ends in a COMMIT") {
    val w = writes(3)
    val n = WriteStream.Cycle.size
    val commits = w.zipWithIndex.collect { case (s, i) if s.kind == "commit" => i }
    assert(commits === (n - 1 until N by n))
    w.zipWithIndex.foreach { case (s, i) =>
      assert(s.kind === WriteStream.Cycle(i % n))
    }
    // every MATCH carries the model's answer; reads of live customers
    // always return exactly one row
    w.filter(s => s.kind == "read_id" || s.kind == "read_asof")
      .foreach(s => assert(s.expect.size === 1, s.ql))
  }

  test("every read shape appears and the stream repeats the shape cycle") {
    val a = reads(5)
    assert(a.map(_.shape).distinct.toSet === ReadStream.Shapes.toSet)
    assert(a.take(ReadStream.Shapes.size).map(_.shape) === ReadStream.Shapes)
  }

  test("the cycles a run times follow from --seconds alone") {
    assert(Run.cycles(10) === 4)
    assert(Run.cycles(20) === 8)
    assert(Run.cycles(1) === 2)
  }

  test("the batch id permutation is a parity-preserving bijection") {
    val p = Batch.permutation(11, 1001)
    assert(p.sorted.toSeq === (0 until 1001))
    assert(p.zipWithIndex.forall { case (v, i) => v % 2 == i % 2 })
    assert(p.toSeq !== Batch.permutation(12, 1001).toSeq)
    assert(p.toSeq === Batch.permutation(11, 1001).toSeq)
  }
}
