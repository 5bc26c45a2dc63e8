package graft

import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-unit layer record, the Spark-native form of Trisk's per-task
  * MetricsManager: one listener on the scheduler bus and the SQL
  * execution bus collects, for every unit of work run through
  * [[record]],
  *
  *  - each stage's executor run, CPU and GC time, shuffle read/write
  *    bytes and records, spill and peak execution memory, tagged with
  *    the loop iteration its job ran under ([[IterationKey]]);
  *  - each SQL action's driver phases (analysis, optimization,
  *    planning) from its QueryPlanningTracker;
  *  - the per-operator SQL metrics of the unit's last executed plan.
  *
  * A unit is bracketed by two zero-partition marker jobs. The
  * scheduler posts a zero-partition job's start/end events straight
  * from the submitting thread, and the bus delivers events to a queue
  * in posting order, so once the end marker arrives every event the
  * unit posted has been seen: the record is complete without polling
  * or sleeping. Stages are attributed by job group (the unit's name),
  * SQL actions by the marker window.
  *
  * Only [[Bench]] registers a recorder; library code pays one
  * thread-local property set per loop iteration ([[setIteration]]). */
final class StageRecorder extends SparkListener with QueryExecutionListener {
  import StageRecorder._

  // listener-thread state: written only by bus callbacks, handed to
  // the driver thread through the end marker's promise
  private var open: String = null
  private val iterationOf = mutable.Map.empty[(Int, Int), Option[Int]]
  private val stages = mutable.ArrayBuffer.empty[StageStat]
  private val actions = mutable.ArrayBuffer.empty[ActionStat]
  private var lastPlan: Option[SparkPlan] = None

  private val pending = new ConcurrentHashMap[String, Promise[RowProfile]]()
  private val tokens = new AtomicLong()

  /** Register on `spark`'s scheduler and SQL listener buses. */
  def register(spark: SparkSession): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Run `body` as the unit `name`: under job group `name`, between
    * the two markers. A throwing body is returned as `Left`, and its
    * record is closed all the same. */
  def record[T](sc: SparkContext, name: String)(body: => T)
      : (Either[Throwable, T], RowProfile) = {
    val token = tokens.incrementAndGet().toString
    val done = Promise[RowProfile]()
    pending.put(token, done)
    sc.setJobGroup(name, name)
    marker(sc, s"begin:$token")
    val out =
      try Right(body)
      catch { case e: Throwable => Left(e) }
      finally {
        // a loop that threw mid-round must not tag the next unit
        clearIteration(sc)
        marker(sc, s"end:$token")
        sc.clearJobGroup()
      }
    val profile =
      try Await.result(done.future, Duration(CloseTimeoutSec, TimeUnit.SECONDS))
      catch { case _: java.util.concurrent.TimeoutException =>
        RowProfile(complete = false, Nil, Nil, Nil, Nil)
      } finally pending.remove(token)
    (out, profile)
  }

  private def marker(sc: SparkContext, tag: String): Unit = {
    sc.setLocalProperty(MarkerKey, tag)
    try sc.emptyRDD[Unit].count()
    finally sc.setLocalProperty(MarkerKey, null)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey))) match {
      case Some(tag) if tag.startsWith("begin:") =>
        reset()
        open = e.properties.getProperty(JobGroupKey)
      case Some(tag) if tag.startsWith("end:") =>
        Option(pending.get(tag.stripPrefix("end:")))
          .foreach(_.trySuccess(close()))
        reset()
      case _ => ()
    }

  // drops the last plan too: holding it past the unit would keep the
  // unit's shuffles and broadcasts from the ContextCleaner, which the
  // harness's between-row GC is there to release
  private def reset(): Unit = {
    open = null
    iterationOf.clear(); stages.clear(); actions.clear(); lastPlan = None
  }

  private def close(): RowProfile = {
    val iterations = stages.filter(_.iteration.isDefined)
      .groupBy(_.iteration.get).toSeq.sortBy(_._1).map { case (i, ss) =>
        IterationStat(i, ss.size, ss.map(_.runMs).sum, ss.map(_.cpuMs).sum,
          ss.map(_.gcMs).sum, ss.map(_.shuffleReadBytes).sum,
          ss.map(_.shuffleWriteBytes).sum)
      }
    RowProfile(complete = true, stages.toList, iterations, actions.toList,
      lastPlan.toList.flatMap(operators))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (open != null && Option(e.properties)
        .exists(p => p.getProperty(JobGroupKey) == open)) {
      val i = Option(e.properties.getProperty(IterationKey)).map(_.toInt)
      iterationOf((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = i
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    iterationOf.remove((info.stageId, info.attemptNumber())).foreach { i =>
      val m = info.taskMetrics
      stages += StageStat(info.stageId, info.attemptNumber(), info.name, i,
        info.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten, m.memoryBytesSpilled,
        m.diskBytesSpilled, m.peakExecutionMemory, info.failureReason.isDefined)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = action(funcName, qe, durationNs, failed = false)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = action(funcName, qe, 0L, failed = true)

  private def action(funcName: String, qe: QueryExecution, durationNs: Long,
      failed: Boolean): Unit =
    if (open != null) {
      actions += ActionStat(funcName, durationNs / 1000000L,
        qe.tracker.phases.map { case (k, p) => k -> p.durationMs }, failed)
      if (!failed) lastPlan = Some(qe.executedPlan)
    }
}

object StageRecorder {

  /** Spark local property carrying the 1-based index of the loop
    * iteration whose jobs are being submitted (PageRank convergence
    * loop, connected-components rounds). */
  val IterationKey = "graft.iteration"

  def setIteration(sc: SparkContext, i: Int): Unit =
    sc.setLocalProperty(IterationKey, i.toString)

  def clearIteration(sc: SparkContext): Unit =
    sc.setLocalProperty(IterationKey, null)

  private val MarkerKey = "graft.stageRecord.marker"
  private val JobGroupKey = "spark.jobGroup.id"
  private val CloseTimeoutSec = 60L

  final case class StageStat(stageId: Int, attempt: Int, name: String,
      iteration: Option[Int], tasks: Int, runMs: Long, cpuMs: Long,
      gcMs: Long, shuffleReadBytes: Long, shuffleReadRecords: Long,
      shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      spillMemoryBytes: Long, spillDiskBytes: Long,
      peakExecutionMemory: Long, failed: Boolean)

  final case class IterationStat(iteration: Int, stages: Int, runMs: Long,
      cpuMs: Long, gcMs: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long)

  /** One SQL action; `phasesMs` holds the tracker's analysis,
    * optimization and planning durations. */
  final case class ActionStat(name: String, ms: Long,
      phasesMs: Map[String, Long], failed: Boolean)

  /** One physical operator's SQL metrics (timings in ms). */
  final case class OperatorStat(node: String, metrics: Map[String, Long])

  /** `complete` is false when the end marker did not arrive in time
    * (the bus dropped events or stalled); the lists are then empty. */
  final case class RowProfile(complete: Boolean, stages: Seq[StageStat],
      iterations: Seq[IterationStat], actions: Seq[ActionStat],
      operators: Seq[OperatorStat])

  /** Operators of an executed plan, through adaptive wrappers and
    * subqueries; reused exchanges are listed once, where they ran. */
  private def operators(p: SparkPlan): Seq[OperatorStat] = {
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children ++ other.subqueries
    }
    val metrics = p.metrics.map { case (k, m) =>
      k -> (if (m.metricType == "nsTiming") m.value / 1000000L else m.value)
    }
    (if (metrics.isEmpty) Nil else Seq(OperatorStat(p.nodeName, metrics))) ++
      children.flatMap(operators)
  }
}
