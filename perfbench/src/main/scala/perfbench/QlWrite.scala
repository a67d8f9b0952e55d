package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.MockClock
import graft.ql.{Shell, TundraQL}
import graft.store.GraphStore

/** Bitemporal writes beside reads, with periodic commits.
  *
  * Set-up (timed three times, median reported): a versioned store
  * attaches the TPC-H customer and orders labels and the `placed` edges
  * from Parquet and commits them to a fresh snapshot directory, so the
  * stream starts from a persisted base. Ops run the seeded
  * [[WriteStream]] through the shell while a MockClock advances per
  * statement; every MATCH is drained through the no-op sink and, after
  * the window, collected and compared with the driver-side model.
  *
  * After the window, untimed: a final COMMIT, then the live store and a
  * `GraphStore.restore` of that commit are both checked against the
  * model (live counts per label, edge count, the values of touched
  * rows). */
object QlWrite extends Workload {
  val name = "ql_write"
  /** Microsecond writes are too noisy to gate on: the gated latencies
    * are the MATCHes that run after writes and the COMMIT; write
    * latencies are reported. */
  val primaryClass = "rw_read"
  override val layerClasses = Set("write", "rw_read", "commit")
  val WriteKinds = Set("create_customer", "create_order", "create_edge",
    "update_created", "update_base", "update_match", "delete")
  val ReadKinds = Set("read_id", "read_asof", "read_traverse")
  val Buffered = Set("create_customer", "create_order", "create_edge",
    "update_created")
  /** Seed offset and length of the warm-up stream. */
  val WarmSalt = 0x5eed5eedL
  val WarmStatements = 1500

  def classOf(kind: String): String =
    if (WriteKinds(kind)) "write" else if (ReadKinds(kind)) "rw_read"
    else "commit"

  def base(spark: SparkSession, dir: String, snap: String,
      clock: MockClock): GraphStore = {
    val store = new GraphStore(spark, versioningEnabled = true, clock = clock)
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    store.attachNodes("customer", customer.select(col("c_custkey").as("id"),
      col("c_name").as("name"), col("c_nationkey").as("nationkey"),
      col("c_acctbal").as("acctbal"), col("c_mktsegment").as("mktsegment")),
      "id")
    store.attachNodes("orders", orders.select(col("o_orderkey").as("id"),
      col("o_custkey").as("custkey"), col("o_orderstatus").as("status"),
      col("o_totalprice").as("totalprice"),
      (unix_micros(col("o_orderdate").cast("timestamp")) * 1000L)
        .as("orderdate"),
      col("o_orderpriority").as("priority")), "id")
    store.attachEdges("placed", "customer", "orders",
      orders.select(col("o_custkey").as("src"), col("o_orderkey").as("dst")))
    store.commit(snap)
    store
  }

  def run(r: Run): E2E = {
    val spark = r.spark
    val dir = s"${r.args.data}/tpch"
    val clock = new MockClock(0L)
    val setups = (1 to 3).map { k =>
      clock.set(0L)
      r.clock(base(spark, dir, s"${r.args.work}/snap$k", clock))
    }
    val snap = s"${r.args.work}/snap3"
    val store = setups.last._1
    r.log("set up")
    val shell = new Shell(store, Some(snap))

    // the model's base: every base customer, order and edge
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment").collect().map(x => x.getLong(0) ->
        Customer(x.getString(1), x.getInt(2).toLong, x.getDouble(3),
          x.getString(4))).toMap
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    def newStream(seed: Long) = new WriteStream(seed, cust,
      ord.map(_._1).toSeq, ord.map { case (o, c) => (c, o) }.toSeq)

    // warm-up (JIT): one short commit period of another stream on the
    // first set-up store, which the timed stream never touches
    val warm = newStream(r.args.seed ^ WarmSalt)
    val warmShell = new Shell(setups.head._1, Some(s"${r.args.work}/snap1"))
    while (warm.statementIndex < WriteStream.Cycle.size) {
      clock.set(WriteStream.timeOf(warm.statementIndex))
      warmShell.execute(warm.next().ql).foreach(r.drain)
    }
    // then the microsecond paths until the JIT has compiled them: parse
    // every statement, run the buffered kinds (creates and updates of
    // rows that were never flushed on this store)
    while (warm.statementIndex < WarmStatements) {
      clock.set(WriteStream.timeOf(warm.statementIndex))
      val st = warm.next()
      val stmts = TundraQL.parseScript(st.ql)
      if (Buffered(st.kind)) warmShell.executeStmt(stmts.head)
    }
    r.log("warmed up")
    val stream = newStream(r.args.seed)

    // snapshot-dir growth per COMMIT: (MB, files)
    val commitGrowth = mutable.ArrayBuffer.empty[(Double, Double)]
    var before = (0L, 0L)
    val n = Run.cycles(r.args.seconds) * WriteStream.Cycle.size
    while (stream.statementIndex < n) {
      val i = stream.statementIndex
      val st = stream.next()
      clock.set(WriteStream.timeOf(i))
      if (st.kind == "commit") before = dirStats(snap)
      if (r.tracer.tracing && ReadKinds(st.kind) &&
          ((i / WriteStream.Cycle.size) % 2 == 0))
        // materialize cost of the written label, as a separate traced op
        r.op("probe", "store.nodes", i, WriteStream.Cycle.size)(
          r.span("store.nodes", "store")(store.nodes("customer")))
      r.op(classOf(st.kind), st.kind, i, WriteStream.Cycle.size) {
        val stmts = r.span("ql.parse", "ql")(TundraQL.parseScript(st.ql))
        if (ReadKinds(st.kind)) {
          val df = r.span("planner.plan", "planner")(
            shell.executeStmt(stmts.head).get)
          r.span("exec.drain", "exec")(r.drain(df))
          Some(df)
        } else {
          r.span(s"store.${st.kind}", "store")(shell.executeStmt(stmts.head))
          None
        }
      }.foreach(_.foreach(df => r.defer(checkRead(r, st, df))))
      if (st.kind == "commit") {
        val (b1, f1) = dirStats(snap)
        commitGrowth += (((b1 - before._1) / 1e6, (f1 - before._2).toDouble))
      }
    }
    r.info("statements") = stream.statementIndex
    r.put("store.commit_mb", Stats.median(commitGrowth.map(_._1).toSeq), "MB",
      commitGrowth.size)
    r.put("store.commit_files", Stats.median(commitGrowth.map(_._2).toSeq),
      "count", commitGrowth.size)

    // untimed: the reads' checks (a frame's plan pins the rows it read,
    // so it answers the same after later writes), a final commit, then
    // the live store and its restore against the model
    r.runDeferred()
    r.log("checked reads")
    clock.set(WriteStream.timeOf(stream.statementIndex))
    store.commit(snap)
    checkState(r, "live", store, stream)
    val (restored, restoreS) =
      r.clock(GraphStore.restore(spark, snap, clock))
    r.put("store.restore_ms", restoreS * 1e3, "ms")
    checkState(r, "restored", restored, stream)
    r.put("snapshot_mb", dirStats(snap)._1 / 1e6, "MB")
    versionsPerLiveRow(spark, snap).foreach(v =>
      r.put("store.versions_per_live_row", v, "ratio"))

    val untimed = r.samples.filter(!_.traced)
    def ms(cls: String) = untimed.filter(_.cls == cls).map(_.ns / 1e6).toSeq
    val writes = ms("write")
    val reads = ms("rw_read")
    val commits = ms("commit")
    r.put("write_p50_us", Stats.median(writes) * 1e3, "us", writes.size)
    Stats.p95(writes).foreach(v =>
      r.put("write_p95_us", v * 1e3, "us", writes.size))
    r.put("rw_read_p50_ms", Stats.median(reads), "ms", reads.size)
    Stats.p95(reads).foreach(v => r.put("rw_read_p95_ms", v, "ms", reads.size))
    r.put("commit_p50_ms", Stats.median(commits), "ms", commits.size)
    // the three MATCH kinds differ in cost, so a median over single reads
    // lands on the middle kind's few samples; the gated read figure is
    // the time of each cycle's reads together
    val perCycle = WriteStream.Cycle.count(ReadKinds)
    val readCycles = reads.grouped(perCycle).filter(_.size == perCycle)
      .map(_.sum).toSeq
    r.put("rw_read_cycle_ms", Stats.median(readCycles), "ms",
      readCycles.size)
    E2E(setups.map(_._2), readCycles, commits)
  }

  private def checkRead(r: Run, st: WriteStmt, df: DataFrame): Unit =
    try {
      val got = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      if (got != st.expect.sorted)
        r.fail(s"${st.kind}: got ${got.take(5).mkString(",")} expected " +
          s"${st.expect.take(5).mkString(",")}: ${st.ql}")
    } catch {
      case e: Exception =>
        r.fail(s"${st.kind}: check failed: ${e.getMessage.take(200)}")
    }

  /** Compare a store with the model: live counts, edge count and the
    * current values of (up to 200) customers the stream touched. */
  private def checkState(r: Run, tag: String, s: GraphStore,
      m: WriteStream): Unit = {
    r.attempted += 1
    try {
      val nCust = s.nodes("customer").count()
      val nOrd = s.nodes("orders").count()
      val nEdge = s.edges("placed", "customer", "orders").count()
      val want = (m.cust.size.toLong, m.orders.size.toLong, m.edgeCount)
      if ((nCust, nOrd, nEdge) != want)
        r.fail(s"$tag state: (customers, orders, placed) = " +
          s"${(nCust, nOrd, nEdge)}, model $want")
      val ids = m.touchedIds.filter(m.cust.contains).take(200)
      val got = s.nodes("customer").filter(col("id").isin(ids: _*))
        .select("id", "acctbal", "mktsegment").collect()
        .map(x => x.getLong(0) -> (x.getDouble(1), x.getString(2))).toMap
      val bad = ids.filterNot(id =>
        got.get(id).contains((m.cust(id).acctbal, m.cust(id).segment)))
      if (bad.nonEmpty)
        r.fail(s"$tag state: ${bad.size} of ${ids.size} touched customers " +
          s"differ from the model, e.g. ${bad.head}: ${got.get(bad.head)} " +
          s"vs ${m.cust(bad.head)}")
    } catch {
      case e: Exception =>
        r.fail(s"$tag state: check failed: ${e.getMessage.take(200)}")
    }
  }

  /** (bytes, files) under a directory. */
  def dirStats(path: String): (Long, Long) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try {
      val fs = files.filter(java.nio.file.Files.isRegularFile(_))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
      (fs.map(java.nio.file.Files.size(_)).sum, fs.length.toLong)
    } finally files.close()
  }

  /** All customer version rows ÷ live ones in the latest snapshot, read
    * from the snapshot's own manifest and Parquet files. */
  def versionsPerLiveRow(spark: SparkSession, snap: String): Option[Double] =
    scala.util.Try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def read(p: String) = mapper.readTree(new java.io.File(p))
      val v = read(s"$snap/manifest.json").get("version").asInt()
      val labels = read(s"$snap/v$v/manifest.json").get("labels")
      val rel = (0 until labels.size).map(labels.get)
        .find(_.get("label").asText() == "customer").get.get("data").asText()
      val all = spark.read.parquet(s"$snap/$rel")
      val live = all.filter(col(graft.store.VersionCols.Vt) ===
        graft.core.Ast.INF).count()
      all.count().toDouble / math.max(1L, live)
    }.toOption

  override def named(r: Run, ops: Seq[(Sample, Map[String, Long])]): Unit = {
    def selfMs(kinds: Set[String], layer: String): (Double, Int) = {
      val xs = ops.filter(o => kinds(o._1.kind))
      (xs.map(_._2.getOrElse(layer, 0L)).sum / 1e6 / math.max(1, xs.size),
        xs.size)
    }
    def put(name: String, kinds: Set[String], layer: String, us: Boolean) = {
      val (v, n) = selfMs(kinds, layer)
      r.put(name, if (us) v * 1e3 else v, if (us) "us" else "ms", n)
    }
    put("store.create_node_us", Set("create_customer", "create_order"),
      "store", us = true)
    put("store.connect_us", Set("create_edge"), "store", us = true)
    put("store.update_us", Set("update_created"), "store", us = true)
    put("store.update_base_ms", Set("update_base"), "store", us = false)
    put("store.update_match_ms", Set("update_match"), "store", us = false)
    put("store.delete_ms", Set("delete"), "store", us = false)
    put("store.commit_ms", Set("commit"), "store", us = false)
    put("store.nodes_ms", Set("store.nodes"), "store", us = false)
    put("ql.parse_us", WriteKinds ++ ReadKinds, "ql", us = true)
    put("planner.plan_ms", ReadKinds, "planner", us = false)
  }
}
