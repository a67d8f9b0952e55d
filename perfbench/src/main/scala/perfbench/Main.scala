package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Timed results a workload hands back: set-up times (s) and the
  * latencies (ms) of its two gated op classes, untraced ops only. */
final case class E2E(setup: Seq[Double], primary: Seq[Double],
    second: Seq[Double])

trait Workload {
  def name: String
  /** Primary op class: the one `op_p50_ms` describes. */
  def primaryClass: String
  /** Op classes the per-layer means of the result line average over. */
  def layerClasses: Set[String] = Set(primaryClass)
  def run(r: Run): E2E
  /** Traced run: name module-level metrics after the ops that ran, from
    * each traced op's self time per layer (ns). */
  def named(r: Run, ops: Seq[(Sample, Map[String, Long])]): Unit = ()
}

/** Benchmark entry point; `run.py` builds the classpath and calls it.
  *
  * Prints one detailed report line (`{"perfbench_report": …}`) and, as
  * the last line of standard output, the result object with the
  * end-to-end metrics (untraced run) or the per-layer metrics (traced
  * run). */
object Main {
  val Workloads: Map[String, Workload] =
    Seq(QlRead, QlWrite, Batch).map(w => w.name -> w).toMap

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--data"), need("--work"),
      m.getOrElse("--expected", ""), m.get("--record").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val w = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val spark = Session.create(s"perfbench-${w.name}")
    val code =
      try run(spark, args, w)
      finally spark.stop()
    sys.exit(code)
  }

  def gcSeconds: Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def run(spark: SparkSession, args: Args, w: Workload): Int = {
    val r = new Run(spark, args)
    val (floor1, floor2) = Calibrate.stageFloors(spark)
    r.put("host.stage_floor_ms", floor1, "ms")
    r.put("host.stage2_floor_ms", floor2, "ms")
    val gc0 = gcSeconds
    r.log("calibrated")
    val e2e = w.run(r)
    r.log("workload done")
    r.put("jvm.gc_s", gcSeconds - gc0, "s")
    r.info("seed") = args.seed
    r.info("nproc") = Session.cores
    r.info("spark_version") = spark.version
    r.info("seconds") = args.seconds
    r.info("trace") = args.trace

    val setup = Stats.median(e2e.setup)
    val p50 = Stats.median(e2e.primary)
    val p50b = Stats.median(e2e.second)
    r.put("setup_s", setup, "s", e2e.setup.size)
    r.put("op_p50_ms", p50, "ms", e2e.primary.size)
    r.put("op2_p50_ms", p50b, "ms", e2e.second.size)
    Stats.p95(e2e.primary).foreach(v =>
      r.put("op_p95_ms", v, "ms", e2e.primary.size))

    r.samples.filter(!_.traced).groupBy(_.kind).toSeq.sortBy(_._1).foreach {
      case (kind, ss) =>
        r.put(s"kind.$kind.p50_ms", Stats.median(ss.map(_.ns / 1e6).toSeq),
          "ms", ss.size)
    }
    val perLayer = if (args.trace) reduceTrace(r, w) else Map.empty[String, (Double, String)]
    val correct = r.failed == 0 && e2e.primary.nonEmpty && e2e.second.nonEmpty
    r.put("failed_ratio", r.failed.toDouble / math.max(1L, r.attempted),
      "ratio", r.attempted)
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name,
      "provenance" -> r.info,
      "metrics" -> r.detail.map { case (k, (v, u, n)) =>
        k -> Map("value" -> v, "unit" -> u, "n" -> n) },
      "failures" -> r.failures)
    println(Json(Map("perfbench_report" -> report)))

    val metrics: Seq[(String, (Double, String))] =
      if (args.trace) PerLayer.map(n => n -> perLayer.getOrElse(n,
        throw new IllegalStateException(s"per-layer metric $n not measured")))
      else Seq(
        "setup_s" -> (setup, "s"),
        "op_p50_ms" -> (p50, "ms"),
        "op2_p50_ms" -> (p50b, "ms"))
    println(Json(mutable.LinkedHashMap(
      "correct" -> correct,
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))))
    0
  }

  /** Per-layer metric names of the traced run, as BENCHMARK.json lists
    * them. Means are per traced op of the workload's layer classes. */
  val PerLayer: Seq[String] = Seq(
    "engine.driver_ms", "catalyst.analysis_ms", "catalyst.optimizer_ms",
    "catalyst.planning_ms", "catalyst.exchanges", "exec.action_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.busy_share",
    "exec.sched_wait_ms", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
    "exec.spill_mb", "exec.failed_tasks", "host.stage_floor_ms",
    "jvm.gc_s", "trace.reconcile_err", "trace.overhead_ms")

  val EngineLayers = Set("ql", "planner", "store", "pipeline", "analytics")

  /** Reduce the recorded spans and Spark counters into per-layer means
    * (for the result line) and per-kind detail (for the report). */
  def reduceTrace(r: Run, w: Workload): Map[String, (Double, String)] = {
    val c = r.counters.get
    c.drain()
    val spans = r.tracer.spans.toSeq
    val rootSpans = spans.filter(_.parent < 0)
    val roots = rootSpans.map(s => s.op -> (s.start, s.end)).toMap
    val (stats, external) = c.perOp(roots)
    val nodes = Reducer.tree(spans)
    Reducer.attach(nodes, external)
    val byOp = nodes.map(n => n.span.op -> n).toMap
    val execNs = external.filter(_.layer == "exec").groupBy(_.op)
      .map { case (op, ss) => op -> ss.map(_.dur).sum }
    val traced = r.samples.filter(s => s.traced && byOp.contains(s.op)).toSeq
    val cores = Session.cores.toDouble

    final case class Row(self: Map[String, Long], st: Counters.OpStats,
        wallMs: Double, execMs: Double, rec: Double)
    def row(s: Sample) = {
      val n = byOp(s.op)
      Row(Reducer.selfByLayer(n), stats.getOrElse(s.op, Counters.OpStats()),
        s.ns / 1e6, execNs.getOrElse(s.op, 0L) / 1e6, Reducer.reconcile(n))
    }
    def summarize(rows: Seq[Row]): Seq[(String, Double, String)] = {
      val k = math.max(1, rows.size).toDouble
      def mean(f: Row => Double) = rows.map(f).sum / k
      def self(l: String) = mean(_.self.getOrElse(l, 0L) / 1e6)
      Seq(
        ("engine.driver_ms",
          mean(x => EngineLayers.toSeq.map(x.self.getOrElse(_, 0L)).sum / 1e6),
          "ms"),
        ("bench.self_ms", self("bench"), "ms"),
        ("ql.self_ms", self("ql"), "ms"),
        ("planner.self_ms", self("planner"), "ms"),
        ("store.self_ms", self("store"), "ms"),
        ("pipeline.self_ms", self("pipeline"), "ms"),
        ("analytics.self_ms", self("analytics"), "ms"),
        ("catalyst.self_ms", self("catalyst"), "ms"),
        ("exec.self_ms", self("exec"), "ms"),
        ("catalyst.analysis_ms", mean(_.st.analysisMs), "ms"),
        ("catalyst.optimizer_ms", mean(_.st.optimizerMs), "ms"),
        ("catalyst.planning_ms", mean(_.st.planningMs), "ms"),
        ("catalyst.exchanges", mean(_.st.exchanges.toDouble), "count"),
        ("exec.action_ms", mean(_.execMs), "ms"),
        ("exec.jobs", mean(_.st.jobs.toDouble), "count"),
        ("exec.stages", mean(_.st.stages.toDouble), "count"),
        ("exec.tasks", mean(_.st.tasks.toDouble), "count"),
        ("exec.busy_share", rows.map(_.st.runMs.toDouble).sum /
          math.max(1e-9, rows.map(_.wallMs).sum * cores), "ratio"),
        ("exec.sched_wait_ms", mean(_.st.schedMs / cores), "ms"),
        ("exec.shuffle_read_mb", mean(_.st.shuffleRead / 1e6), "MB"),
        ("exec.shuffle_write_mb", mean(_.st.shuffleWrite / 1e6), "MB"),
        ("exec.spill_mb", mean(_.st.spill / 1e6), "MB"),
        ("exec.failed_tasks", rows.map(_.st.failedTasks.toDouble).sum,
          "count"),
        ("trace.reconcile_err", if (rows.isEmpty) 0.0
          else rows.map(x => math.abs(x.rec - 1.0)).max, "ratio"))
    }

    // a traced op whose layer self times do not add up to its wall
    // time is a failed op: its per-layer split cannot be trusted
    traced.foreach { s =>
      val rec = Reducer.reconcile(byOp(s.op))
      if (!Reducer.reconciles(rec))
        r.fail(f"${s.kind}: layer self times sum to $rec%.3f of wall time")
    }
    // per kind, into the report
    traced.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (kind, ss) =>
      summarize(ss.map(row)).foreach { case (m, v, u) =>
        r.put(s"layer.$kind.$m", v, u, ss.size)
      }
    }
    w.named(r, traced.map(s => s -> row(s).self))
    val layerOps = traced.filter(s => w.layerClasses(s.cls))
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    summarize(layerOps.map(row)).foreach { case (m, v, u) =>
      out(m) = (v, u); r.put(m, v, u, layerOps.size)
    }
    val primary = traced.filter(_.cls == w.primaryClass)
    val untracedP50 = Stats.median(r.samples.filter(s =>
      !s.traced && s.cls == w.primaryClass).map(_.ns / 1e6).toSeq)
    val tracedP50 = Stats.median(primary.map(_.ns / 1e6).toSeq)
    out("trace.overhead_ms") = (tracedP50 - untracedP50, "ms")
    r.put("trace.overhead_ms", tracedP50 - untracedP50, "ms", primary.size)
    Seq("host.stage_floor_ms", "jvm.gc_s").foreach { m =>
      val (v, u, _) = r.detail(m); out(m) = (v, u)
    }
    c.uninstall()
    out.toMap
  }
}

object Calibrate {
  /** Median wall time (ms) of an empty 1-stage and an empty 2-stage job,
    * one task per core: the host's fixed cost per stage. */
  def stageFloors(spark: SparkSession): (Double, Double) = {
    val sc = spark.sparkContext
    val n = Session.cores
    def one(): Unit = { sc.parallelize(Seq.empty[Int], n).count(); () }
    def two(): Unit = {
      sc.parallelize(Seq.empty[Int], n).map(x => (x, x))
        .reduceByKey(_ + _, n).count(); ()
    }
    def time(f: () => Unit): Double = {
      f()
      Stats.median((1 to 7).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e6
      })
    }
    (time(() => one()), time(() => two()))
  }
}
