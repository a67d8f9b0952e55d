package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, data: String, work: String, expected: String,
    record: Boolean)

/** One timed op: its class (the end-to-end metric family it feeds),
  * its kind (statement shape, write kind or batch step), wall time and
  * whether its spans were recorded. */
final case class Sample(cls: String, kind: String, ns: Long,
    traced: Boolean, op: Long)

/** State shared by a workload run: the tracer, the Spark counters, the
  * samples, the output-check tally and the detailed metrics. */
final class Run(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer(args.trace)
  val counters: Option[Counters] =
    if (args.trace) Some(new Counters(spark)) else None
  counters.foreach { c => c.install(); tracer.onOp = c.tagOp }

  val samples = mutable.ArrayBuffer.empty[Sample]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Detailed metrics: name -> (value, unit, sample count). */
  val detail = mutable.LinkedHashMap.empty[String, (Double, String, Long)]
  val info = mutable.LinkedHashMap.empty[String, Any]

  private val born = System.nanoTime()
  /** Progress line on stderr, with seconds since the run started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%.1fs $msg")

  def put(name: String, value: Double, unit: String, n: Long = 1): Unit =
    detail(name) = (value, unit, n)

  /** A failed op or output check; never dropped from the tally. */
  def fail(what: String): Unit = synchronized {
    failed += 1
    if (failures.size < 20) failures += what
    System.err.println(s"[perfbench] FAIL $what")
  }

  /** Run `body` as one timed op. In a traced run every other block of
    * `block` ops is traced, so the same run also yields an untraced
    * median to measure the tracing overhead against. */
  def op[T](cls: String, kind: String, index: Long, block: Int)(
      body: => T): Option[T] = {
    val traced = args.trace && (index / block) % 2 == 0
    tracer.on = traced
    attempted += 1
    try {
      val (r, ns) = tracer.op(kind)(body)
      samples += Sample(cls, kind, ns, traced, tracer.lastOp)
      Some(r)
    } catch {
      case e: Exception =>
        fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(300))
        None
    } finally tracer.on = false
  }

  private val deferred = mutable.ArrayBuffer.empty[() => Unit]

  /** Queue an output check to run after the timing window. */
  def defer(check: => Unit): Unit = deferred += (() => check)

  /** Run the queued checks, a few at a time (they are small Spark jobs
    * whose fixed cost dominates), and forget them. */
  def runDeferred(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, Session.cores))
    try {
      deferred.map(c => pool.submit(new Runnable { def run(): Unit = c() }))
        .foreach(_.get())
    } finally pool.shutdown()
    deferred.clear()
  }

  def span[T](name: String, layer: String)(body: => T): T =
    tracer.span(name, layer)(body)

  /** Drain a frame through the no-op sink, as a client that reads the
    * whole result would. */
  def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Wall time of `body` in seconds (set-up, checks). */
  def clock[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Run {
  /** Nominal time of one cycle of an interactive workload (seven reads,
    * or twenty statements ending in a COMMIT) on a 4-core host. A run
    * times a fixed number of whole cycles worked out from `--seconds`
    * alone, so how much work is timed, and which statements, never
    * depends on how fast they run. At least two, so that a traced run
    * also has untraced cycles. */
  val CycleSeconds = 2.5
  def cycles(seconds: Int): Int =
    math.max(2, math.round(seconds / CycleSeconds).toInt)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** p95 only when at least ten samples lie beyond it. */
  def p95(xs: Seq[Double]): Option[Double] =
    if (xs.size * 0.05 >= 10) Some(quantile(xs, 0.95)) else None

  /** Order-insensitive digest of a frame's rows: row count and the sum
    * of a 64-bit hash of each row's values rendered as strings, columns
    * taken by position (names and integral widths do not matter). */
  def digestCols(df: DataFrame): DataFrame = {
    val pos = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
    val cells = pos.columns.toSeq.map(c =>
      coalesce(col(c).cast("string"), lit("\u0001")))
    pos.select(xxhash64(cells: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum("h"), lit(0)).as("s"))
  }
}
