package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters per op, gathered by a `SparkListener` and a
  * `QueryExecutionListener` that the benchmark registers itself.
  *
  * Jobs carry the op id through the local property [[OpProperty]],
  * which the submitting thread sets for the duration of the op (AQE
  * stage jobs and broadcast threads inherit it). Query executions do
  * not carry properties, so they are matched to ops by time: the
  * Catalyst phases of a query are stamped in epoch milliseconds and
  * mapped onto the `nanoTime` line through an anchor taken at start. */
final class Counters(spark: SparkSession) {
  import Counters._

  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[(Int, Int), StageAgg]
  private val queries = mutable.ArrayBuffer.empty[Query]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val op = Option(e.properties).flatMap(p =>
        Option(p.getProperty(OpProperty))).map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = Job(op, msToNs(e.time), Long.MinValue)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = msToNs(e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        val a = stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
          StageAgg(i.stageId))
        a.completed = true
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
        StageAgg(e.stageId))
      a.tasks += 1
      if (!e.taskInfo.successful) a.failed += 1
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          e.taskInfo.gettingResultTime)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe, executed = true)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe, executed = true)
  }

  /** Record a query execution's Catalyst phases and, for an executed
    * query, its executed-plan exchange count. With `executed = false`
    * only the phases already run are read: that is how a DataFrame's
    * own analysis is captured, which runs eagerly when the engine builds
    * the plan and is never reported to a listener. */
  def record(qe: QueryExecution, executed: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> (msToNs(p.startTimeMs), msToNs(p.endTimeMs))
    }
    val ex =
      if (executed) scala.util.Try(exchanges(qe.executedPlan)).getOrElse(0)
      else 0
    synchronized { queries += Query(phases, ex) }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def tagOp(op: Long): Unit = spark.sparkContext.setLocalProperty(
    OpProperty, if (op < 0) null else op.toString)

  /** Per-op Spark totals plus the external spans (merged job intervals
    * and Catalyst phases) for the reducer. Queries are matched to the
    * op whose root interval contains their planning-phase end. */
  def perOp(roots: Map[Long, (Long, Long)]): (Map[Long, OpStats], Seq[Span]) =
    synchronized {
      val stats = mutable.Map.empty[Long, OpStats]
      def st(op: Long) = stats.getOrElseUpdate(op, OpStats())
      val external = mutable.ArrayBuffer.empty[Span]
      val jobsByOp = jobs.toSeq.filter(_._2.op >= 0).groupBy(_._2.op)
      jobsByOp.foreach { case (op, js) =>
        val s = st(op)
        s.jobs += js.size
        // concurrent jobs of one op (AQE stages, broadcasts) become one
        // exec span, so the reducer never counts their overlap twice
        val ivs = js.map(_._2).filter(_.end > Long.MinValue)
          .map(j => (j.start, j.end)).sortBy(_._1)
        var cur: Option[(Long, Long)] = None
        ivs.foreach { case (a, b) =>
          cur match {
            case Some((cs, ce)) if a <= ce => cur = Some((cs, math.max(ce, b)))
            case Some((cs, ce)) =>
              external += Span(op, "spark.jobs", "exec", cs, ce, -1)
              cur = Some((a, b))
            case None => cur = Some((a, b))
          }
        }
        cur.foreach { case (cs, ce) =>
          external += Span(op, "spark.jobs", "exec", cs, ce, -1)
        }
      }
      stages.values.foreach { a =>
        stageJob.get(a.stageId).flatMap(jobs.get).filter(_.op >= 0)
          .foreach { j =>
            val s = st(j.op)
            if (a.completed) s.stages += 1
            s.tasks += a.tasks
            s.failedTasks += a.failed
            s.runMs += a.runMs
            s.schedMs += a.schedMs
            s.shuffleRead += a.shuffleRead
            s.shuffleWrite += a.shuffleWrite
            s.spill += a.spill
          }
      }
      val sortedRoots = roots.toSeq.sortBy(_._2._1)
      queries.foreach { q =>
        val key = q.phases.get("planning").orElse(q.phases.get("analysis"))
          .map(_._2)
        key.flatMap(t => sortedRoots.find { case (_, (a, b)) =>
          a - 1000000L <= t && t <= b + 1000000L }).foreach { case (op, _) =>
          val s = st(op)
          s.exchanges += q.exchanges
          q.phases.foreach { case (name, (a, b)) =>
            val ms = (b - a) / 1e6
            name match {
              case "analysis" => s.analysisMs += ms
              case "optimization" => s.optimizerMs += ms
              case "planning" => s.planningMs += ms
              case _ =>
            }
            if (b > a) external += Span(op, s"catalyst.$name", "catalyst",
              a, b, -1)
          }
        }
      }
      (stats.toMap, external.toSeq)
    }

  /** Forget everything recorded so far (between set-up and timing). */
  def reset(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); stages.clear(); queries.clear()
  }
}

object Counters {
  val OpProperty = "perfbench.op"

  final case class Job(op: Long, start: Long, end: Long)
  final case class Query(phases: Map[String, (Long, Long)], exchanges: Int)
  final case class StageAgg(stageId: Int) {
    var completed = false
    var tasks = 0L
    var failed = 0L
    var runMs = 0L
    var schedMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  final case class OpStats() {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var failedTasks = 0L
    var runMs = 0L
    var schedMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var exchanges = 0L
    var analysisMs = 0.0
    var optimizerMs = 0.0
    var planningMs = 0.0
  }

  /** Exchanges in an executed plan, looking through AQE wrappers and
    * query stages and into subqueries; reused exchanges are not
    * counted, since they run no shuffle of their own. */
  def exchanges(plan: SparkPlan): Int = {
    def walk(p: SparkPlan): Int = {
      val here = p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
        case _ => 0
      }
      val below = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other.children.map(walk).sum +
          other.subqueries.map(walk).sum
      }
      here + below
    }
    walk(plan)
  }
}
