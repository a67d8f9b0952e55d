package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ql.{Shell, TundraQL}
import graft.tpch.TpchGraph

/** Interactive TundraQL reads over the cached TPC-H graph.
  *
  * Set-up (timed three times, median reported): build the graph view
  * over the Parquet files and cache the labels the statements read,
  * as the reference bench loads before timing. Each op parses one
  * seeded MATCH statement, plans it and drains the result through the
  * no-op sink. After the window, untimed, each result's row count and
  * order-insensitive digest are compared with the same question asked
  * of the raw tables in Spark SQL. */
object QlRead extends Workload {
  val name = "ql_read"
  val primaryClass = "read"
  val Labels = Seq("customer", "orders", "lineitem")

  def run(r: Run): E2E = {
    val spark = r.spark
    val dir = s"${r.args.data}/tpch"
    val setups = (1 to 3).map { _ =>
      spark.catalog.clearCache()
      r.clock {
        val store = TpchGraph.store(spark, dir, cache = true)
        Labels.foreach(l => store.nodes(l).count())
        store
      }
    }
    val store = setups.last._1
    r.log("set up")
    Oracle.views(spark, dir)
    val shell = new Shell(store)

    def once(sql: String): DataFrame = {
      val stmts = r.span("ql.parse", "ql")(TundraQL.parseScript(sql))
      val df = r.span("planner.plan", "planner")(
        shell.executeStmt(stmts.head).get)
      r.span("exec.drain", "exec")(r.drain(df))
      df
    }
    // a traced run alternates traced and untraced cycles; one untimed
    // warm-up cycle first keeps the cold one out of either group
    if (r.tracer.tracing)
      ReadStream(r.args.seed ^ QlWrite.WarmSalt).take(ReadStream.Shapes.size)
        .foreach(s => r.drain(shell.execute(s.ql).get))
    val stream = ReadStream(r.args.seed)
    val n = Run.cycles(r.args.seconds) * ReadStream.Shapes.size
    var i = 0L
    while (i < n) {
      val st = stream.next()
      r.op("read", st.shape, i, ReadStream.Shapes.size)(once(st.ql))
        .foreach { df =>
          if (r.samples.last.traced)
            r.counters.foreach(_.record(df.queryExecution, executed = false))
          r.defer(Oracle.check(r, st, df))
        }
      i += 1
    }
    r.log(s"timed $i statements")
    r.runDeferred()
    r.log("checked")
    val timed = r.samples.filter(s => !s.traced && s.cls == "read")
      .map(_.ns / 1e6).toSeq
    r.info("statements") = i
    Stats.p95(timed).foreach(v => r.put("read_p95_ms", v, "ms", timed.size))
    r.put("read_p50_ms", Stats.median(timed), "ms", timed.size)
    // one statement of each shape, back to back
    val cycles = timed.grouped(ReadStream.Shapes.size)
      .filter(_.size == ReadStream.Shapes.size).map(_.sum).toSeq
    r.put("read_cycle_ms", Stats.median(cycles), "ms", cycles.size)
    E2E(setups.map(_._2), timed, cycles)
  }

  override def named(r: Run, ops: Seq[(Sample, Map[String, Long])]): Unit = {
    val reads = ops.filter(_._1.cls == "read")
    val n = math.max(1, reads.size)
    r.put("ql.parse_us",
      reads.map(_._2.getOrElse("ql", 0L)).sum / 1e3 / n, "us", reads.size)
    r.put("planner.plan_ms",
      reads.map(_._2.getOrElse("planner", 0L)).sum / 1e6 / n, "ms",
      reads.size)
  }
}

/** The read workload's output check: the same question over the raw
  * Parquet tables in plain Spark SQL, bypassing `ql` and `planner`. */
object Oracle {
  def views(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    def nanos(c: String) = unix_micros(col(c).cast("timestamp")) * 1000L
    spark.read.parquet(s"$dir/customer.parquet").cache()
      .createOrReplaceTempView("customer")
    spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("o_orderdate", nanos("o_orderdate")).cache()
      .createOrReplaceTempView("orders")
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity").cache()
      .createOrReplaceTempView("lineitem")
  }

  /** Compare the engine's rows with the oracle's, order-insensitive,
    * values rendered as strings and columns taken by position; a
    * mismatch counts as a failed op. */
  def check(r: Run, st: ReadStmt, engine: DataFrame): Unit =
    try {
      def rows(df: DataFrame) =
        df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val (e, o) = (rows(engine), rows(r.spark.sql(st.oracle)))
      if (e != o)
        r.fail(s"${st.shape}: engine ${e.size} rows vs oracle ${o.size} " +
          s"rows, first difference ${e.diff(o).headOption.getOrElse("-")} / " +
          s"${o.diff(e).headOption.getOrElse("-")}: ${st.ql}")
    } catch {
      case e: Exception => r.fail(s"${st.shape}: check failed: " +
        s"${e.getMessage.take(200)}: ${st.ql}")
    }
}
