package perfbench

import scala.collection.mutable

/** Seeded TundraQL statement streams. Both are pure Scala (no Spark),
  * so a stream is a function of its seed alone and the benchmark's own
  * tests can check it without a cluster.
  *
  * The op mix is a fixed schedule: statement `i` always has the shape
  * or kind at position `i` of the cycle, and the seed draws only the
  * literals and targets. Two seeds therefore run the same mix of work
  * on different values. */
object Streams {
  val Segments: IndexedSeq[String] = GenData.Segments.toIndexedSeq
  /** Order dates as the graph view exposes them (epoch nanoseconds). */
  val DateLoNs: Long = GenData.DateBase * 1000000000L
  val DateSpanNs: Long = GenData.DateDays * 86400L * 1000000000L

  def money(r: scala.util.Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  def q(s: String) = "\"" + s + "\""
}

/** One read statement: its shape, the TundraQL text, and a Spark SQL
  * statement over the raw tables that computes the same rows without
  * the `ql`/`planner` layers (columns in the same order). */
final case class ReadStmt(shape: String, ql: String, oracle: String)

object ReadStream {
  import Streams._

  /** One of each statement shape the read workload covers, in a fixed
    * cycle: a list of shapes, not measured traffic. */
  val Shapes: IndexedSeq[String] = IndexedSeq("scan", "friend_join",
    "two_hop", "left", "agg_topk", "exists", "except")

  def apply(seed: Long): Iterator[ReadStmt] = {
    val r = new scala.util.Random(seed)
    Iterator.from(0).map(i => statement(Shapes(i % Shapes.size), i, r))
  }

  private def seg(r: scala.util.Random) = Segments(r.nextInt(Segments.size))

  def statement(shape: String, i: Int, r: scala.util.Random): ReadStmt =
    shape match {
      case "scan" =>
        val x = money(r, 5000, 9500); val s = seg(r)
        ReadStmt(shape,
          s"MATCH (c:customer) WHERE c.acctbal > $x AND c.mktsegment = ${q(s)} " +
            "SELECT c.id, c.acctbal;",
          s"SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > $x " +
            s"AND c_mktsegment = '$s'")
      case "friend_join" =>
        // the BASELINE Q2 shape: filters on both sides of one hop
        val x = money(r, 0, 9000); val s = seg(r)
        val y = money(r, 100000, 400000)
        ReadStmt(shape,
          s"MATCH (c:customer)-[:placed]->(o:orders) WHERE c.acctbal > $x " +
            s"AND c.mktsegment = ${q(s)} AND o.totalprice > $y " +
            "SELECT c.id, o.id;",
          "SELECT c_custkey, o_orderkey FROM customer JOIN orders " +
            s"ON o_custkey = c_custkey WHERE c_acctbal > $x " +
            s"AND c_mktsegment = '$s' AND o_totalprice > $y")
      case "two_hop" =>
        val n = r.nextInt(25); val qty = 40 + r.nextInt(10)
        ReadStmt(shape,
          "MATCH (c:customer)-[:placed]->(o:orders)-[:contains]->(l:lineitem) " +
            s"WHERE c.nationkey = $n AND l.quantity > $qty.0 " +
            "SELECT c.id, o.id, l.linenumber;",
          "SELECT c_custkey, o_orderkey, l_linenumber FROM customer " +
            "JOIN orders ON o_custkey = c_custkey " +
            "JOIN lineitem ON l_orderkey = o_orderkey " +
            s"WHERE c_nationkey = $n AND l_quantity > $qty.0")
      case "left" =>
        val n = r.nextInt(25); val x = money(r, -999, 1500)
        ReadStmt(shape,
          "MATCH (c:customer)-[:placed LEFT]->(o:orders) " +
            s"WHERE c.nationkey = $n AND c.acctbal < $x SELECT c.id, o.id;",
          "SELECT c_custkey, o_orderkey FROM customer " +
            "LEFT JOIN orders ON o_custkey = c_custkey " +
            s"WHERE c_nationkey = $n AND c_acctbal < $x")
      case "agg_topk" =>
        val s = seg(r)
        val t = DateLoNs + (r.nextDouble() * 0.8 * DateSpanNs).toLong /
          1000000000L * 1000000000L
        val k = 3 + r.nextInt(8)
        ReadStmt(shape,
          "MATCH (c:customer)-[:placed]->(o:orders) " +
            s"WHERE c.mktsegment = ${q(s)} AND o.orderdate >= $t " +
            "SELECT c.nationkey, COUNT(o.id) AS n, MAX(o.totalprice) AS top " +
            s"ORDER BY n DESC, c.nationkey LIMIT $k;",
          "SELECT c_nationkey, count(o_orderkey) AS n, " +
            "max(o_totalprice) AS top FROM customer JOIN orders " +
            s"ON o_custkey = c_custkey WHERE c_mktsegment = '$s' " +
            s"AND o_orderdate >= $t GROUP BY c_nationkey " +
            s"ORDER BY n DESC, c_nationkey LIMIT $k")
      case "exists" =>
        // alternate SEMI and ANTI between consecutive cycles
        val anti = (i / Shapes.size) % 2 == 1
        val n = r.nextInt(25); val x = money(r, -999, 5000)
        val kind = if (anti) "ANTI" else "SEMI"
        ReadStmt(shape,
          s"MATCH (c:customer)-[:placed $kind]->(o:orders) " +
            s"WHERE c.nationkey = $n AND c.acctbal > $x SELECT c.id;",
          s"SELECT c_custkey FROM customer LEFT ${kind.toLowerCase} JOIN " +
            "orders ON o_custkey = c_custkey " +
            s"WHERE c_nationkey = $n AND c_acctbal > $x")
      case "except" =>
        val n = r.nextInt(25); val y = money(r, 200000, 440000)
        ReadStmt(shape,
          s"MATCH (c:customer) WHERE c.nationkey = $n SELECT c.id EXCEPT " +
            "MATCH (c:customer)-[:placed]->(o:orders) " +
            s"WHERE o.totalprice > $y SELECT c.id;",
          s"SELECT c_custkey FROM customer WHERE c_nationkey = $n EXCEPT " +
            "SELECT c_custkey FROM customer JOIN orders " +
            s"ON o_custkey = c_custkey WHERE o_totalprice > $y")
    }
}

/** One write-stream statement. `expect` is the model's answer for a
  * MATCH (rows as strings, order-insensitive); empty for other kinds. */
final case class WriteStmt(kind: String, ql: String,
    expect: Seq[String] = Nil)

/** The state the write stream runs against, as the model sees it. */
final case class Customer(name: String, nation: Long, acctbal: Double,
    segment: String)

/** Seeded write stream over a versioned store, plus the driver-side
  * model that predicts every answer. The generator only targets live
  * rows, so no statement is expected to fail.
  *
  * `customers` / `orders` / `placed` are the base rows; created ids
  * continue from the largest base id, as the store assigns them. The
  * store's clock reads [[timeOf]](i) while statement `i` runs. */
final class WriteStream(seed: Long,
    customers: Map[Long, Customer], orderIds: Seq[Long],
    placed: Seq[(Long, Long)]) {
  import Streams._
  import WriteStream._

  private val r = new scala.util.Random(seed)
  private var i = 0
  val cust = mutable.LongMap[Customer]() ++= customers
  val orders = mutable.LongMap[Unit]() ++= orderIds.map(_ -> (()))
  /** Live edges, indexed both ways. */
  val out = mutable.LongMap[mutable.Set[Long]]()
  val in = mutable.LongMap[mutable.Set[Long]]()
  placed.foreach { case (s, d) => link(s, d) }
  /** acctbal history (valid-from, value) of customers the stream touched;
    * untouched base rows keep their version-0 value from time 0. */
  private val history = mutable.LongMap[List[(Long, Double)]]()
  private val baseCust = customers.keys.toIndexedSeq.sorted
  private val baseOrders = orderIds.toIndexedSeq.sorted
  private var nextCust = if (baseCust.isEmpty) 0L else baseCust.last + 1
  private var nextOrder = if (baseOrders.isEmpty) 0L else baseOrders.last + 1
  private val createdCust = mutable.ArrayBuffer.empty[Long]
  /** Customers created since the last statement that flushes the
    * customer buffer: UPDATEs of these take the buffered path. */
  private val unflushed = mutable.ArrayBuffer.empty[Long]
  private val createdOrders = mutable.ArrayBuffer.empty[Long]
  /** Customers the stream wrote, the pool reads draw from. */
  private val touched = mutable.ArrayBuffer.empty[Long]
  private var lastOrder = -1L

  def statementIndex: Int = i
  /** Customers the stream wrote, most recent first. */
  def touchedIds: Seq[Long] = touched.reverseIterator.distinct.toSeq

  private def link(s: Long, d: Long): Unit = {
    out.getOrElseUpdate(s, mutable.Set.empty) += d
    in.getOrElseUpdate(d, mutable.Set.empty) += s
  }
  private def unlinkNode(id: Long, asSrc: Boolean): Unit = {
    val (fwd, back) = if (asSrc) (out, in) else (in, out)
    fwd.remove(id).foreach(_.foreach(o => back.get(o).foreach(_ -= id)))
  }
  def edgeCount: Long = out.valuesIterator.map(_.size.toLong).sum

  private def liveBaseCustomer(): Long = {
    var c = baseCust(r.nextInt(baseCust.size))
    while (!cust.contains(c)) c = baseCust(r.nextInt(baseCust.size))
    c
  }
  private def liveFrom(pool: mutable.ArrayBuffer[Long],
      live: Long => Boolean): Option[Long] = {
    var tries = 0
    while (tries < 8 && pool.nonEmpty) {
      val c = pool(pool.size - 1 - r.nextInt(math.min(pool.size, 64)))
      if (live(c)) return Some(c)
      tries += 1
    }
    None
  }
  private def liveCreatedCustomer(): Long =
    liveFrom(createdCust, cust.contains).getOrElse(liveBaseCustomer())
  private def touchedCustomer(): Long =
    liveFrom(touched, cust.contains).getOrElse(liveBaseCustomer())

  private def setAcct(id: Long, v: Double, now: Long): Unit = {
    val c = cust(id)
    if (c.acctbal != v) {
      val h = history.getOrElse(id, List((0L, c.acctbal)))
      history(id) = (now, v) :: h
      cust(id) = c.copy(acctbal = v)
    }
  }

  def next(): WriteStmt = {
    val now = timeOf(i)
    val kind = Cycle(i % Cycle.size)
    val st = kind match {
      case "commit" => WriteStmt(kind, "COMMIT;")
      case "create_customer" =>
        val id = nextCust; nextCust += 1
        val c = Customer(s"Bench#$id", r.nextInt(25), money(r, -999, 9999),
          Segments(r.nextInt(Segments.size)))
        cust(id) = c
        history(id) = List((now, c.acctbal))
        createdCust += id; unflushed += id; touched += id
        WriteStmt(kind, s"CREATE NODE customer (name = ${q(c.name)}, " +
          s"nationkey = ${c.nation}, acctbal = ${c.acctbal}, " +
          s"mktsegment = ${q(c.segment)});")
      case "create_order" =>
        val id = nextOrder; nextOrder += 1
        orders(id) = (); createdOrders += id; lastOrder = id
        val ck = liveCreatedCustomer()
        val t = DateLoNs + (r.nextDouble() * DateSpanNs).toLong /
          1000000000L * 1000000000L
        WriteStmt(kind, s"CREATE NODE orders (custkey = $ck, " +
          s"status = ${q("O")}, totalprice = ${money(r, 850, 450000)}, " +
          s"orderdate = $t, priority = ${q("3-MEDIUM")});")
      case "create_edge" =>
        val c = if (r.nextBoolean()) liveCreatedCustomer()
          else liveBaseCustomer()
        val o = if (lastOrder >= 0 && orders.contains(lastOrder)) lastOrder
          else baseOrders(r.nextInt(baseOrders.size))
        // only new live pairs: a duplicate edge would be a second row
        if (!orders.contains(o) || out.get(c).exists(_.contains(o)))
          return next()
        link(c, o); touched += c
        WriteStmt(kind, s"CREATE EDGE placed FROM customer($c) TO orders($o);")
      case "update_created" =>
        val c = liveFrom(unflushed, cust.contains)
          .getOrElse(liveCreatedCustomer())
        val v = money(r, -999, 9999)
        setAcct(c, v, now); touched += c
        WriteStmt(kind, s"UPDATE customer($c) SET acctbal = $v;")
      case "update_base" =>
        val c = liveBaseCustomer()
        val v = money(r, -999, 9999)
        setAcct(c, v, now); touched += c
        WriteStmt(kind, s"UPDATE customer($c) SET acctbal = $v;")
      case "update_match" =>
        val n = r.nextInt(25); val x = money(r, 9900, 9990)
        val s = Segments(r.nextInt(Segments.size))
        cust.foreach { case (id, c) =>
          if (c.nation == n && c.acctbal > x) cust(id) = c.copy(segment = s)
        }
        WriteStmt(kind, s"UPDATE MATCH (c:customer) SET c.mktsegment = " +
          s"${q(s)} WHERE c.nationkey = $n AND c.acctbal > $x;")
      case "delete" =>
        // rotate: created order, base order, created customer, base
        // customer — a delete also closes the node's incident edges
        (i / Cycle.size) % 4 match {
          case 0 | 1 =>
            val o = (if ((i / Cycle.size) % 4 == 0)
              liveFrom(createdOrders, orders.contains) else None)
              .getOrElse {
                var b = baseOrders(r.nextInt(baseOrders.size))
                while (!orders.contains(b))
                  b = baseOrders(r.nextInt(baseOrders.size))
                b
              }
            orders.remove(o); unlinkNode(o, asSrc = false)
            WriteStmt(kind, s"DELETE orders($o);")
          case k =>
            val c = if (k == 2) liveCreatedCustomer() else liveBaseCustomer()
            cust.remove(c); unlinkNode(c, asSrc = true)
            WriteStmt(kind, s"DELETE customer($c);")
        }
      case "read_id" =>
        val c = touchedCustomer(); val x = cust(c)
        WriteStmt(kind, s"MATCH (c:customer) WHERE c.id = $c " +
          "SELECT c.id, c.acctbal, c.mktsegment;",
          Seq(s"$c|${x.acctbal}|${x.segment}"))
      case "read_asof" =>
        val c = touchedCustomer()
        val h = history.getOrElse(c, List((0L, cust(c).acctbal)))
        // a time inside one of the customer's versions, chosen at random
        val (vf, v) = h(r.nextInt(h.size))
        val t = math.min(now - 1, vf + r.nextInt(1000))
        val asOf = h.find(_._1 <= t).map(_._2).getOrElse(v)
        WriteStmt(kind, s"MATCH (c:customer) AS OF VALID $t " +
          s"WHERE c.id = $c SELECT c.acctbal;", Seq(s"$asOf"))
      case "read_traverse" =>
        val c = touchedCustomer()
        WriteStmt(kind, s"MATCH (c:customer)-[:placed]->(o:orders) " +
          s"WHERE c.id = $c SELECT o.id;",
          out.get(c).map(_.toSeq.sorted.map(_.toString)).getOrElse(Nil))
    }
    if (Flushing(kind)) unflushed.clear()
    i += 1
    st
  }
}

object WriteStream {
  /** Clock origin and per-statement step (ns) of the store's MockClock. */
  val T0 = 1000000000L
  val Step = 1000L
  def timeOf(i: Int): Long = T0 + i.toLong * Step

  /** The fixed op schedule. It lists each statement kind of the write
    * workload, not measured traffic: per 20 statements, 3 customer and
    * 3 order creations, 3 edges, 4 updates of rows created since the
    * last flush (the buffered path), 1 base-row update, 1 delete and 1
    * pattern update (each of which flushes the customer buffer), 3
    * reads, and in the last slot a COMMIT. */
  val Cycle: IndexedSeq[String] = IndexedSeq(
    "create_customer", "create_order", "create_edge", "update_created",
    "create_customer", "create_order", "create_edge", "update_created",
    "create_customer", "update_created", "create_order", "create_edge",
    "update_created", "read_id", "update_base", "delete", "update_match",
    "read_asof", "read_traverse", "commit")
  /** Kinds after which the customer label has no buffered rows. */
  val Flushing = Set("update_base", "delete", "update_match", "commit")
}
