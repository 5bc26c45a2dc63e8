package graft

import org.apache.spark.GraftTestBridge
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Shared test helpers. The suites run against ONE JVM-wide session
  * (SparkTestSession), so conf hygiene and plan walking must exist
  * exactly once — each hand-rolled copy of the save/set/restore
  * pattern is a chance to forget the unset branch and leak a conf
  * into later suites, and each copy of the AQE walker must track new
  * adaptive node types in lockstep. */
object SparkTestUtil {

  /** Set `key` for the body's duration and restore the previous value
    * — including UNSET when there was none (the branch ad-hoc copies
    * forget, poisoning the shared session for every later suite). */
  def withConf[T](spark: SparkSession, key: String, value: String)(
      body: => T): T =
    withConfs(spark, Map(key -> value))(body)

  /** Multi-key form of [[withConf]]. */
  def withConfs[T](spark: SparkSession, confs: Map[String, String])(
      body: => T): T = {
    // getAll holds the explicitly set keys only; getOption reports a
    // registered conf's default as if it had been set
    val set = spark.conf.getAll
    val saved = confs.keys.map(k => k -> set.get(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `body` while a listener plays an executor loss: whenever a
    * job tagged with loop iteration `k` (StageRecorder.IterationKey)
    * ends, the cached blocks of every persisted RDD that `select` picks
    * are dropped from all block managers. The RDDs stay registered as
    * persisted, so a later read recomputes them from lineage — or
    * fails, for a local checkpoint. Returns the body's result and the
    * ids of the RDDs whose blocks were dropped. */
  def dropBlocksAfterIteration[T](spark: SparkSession, k: Int,
      select: RDD[_] => Boolean)(body: => T): (T, Seq[Int]) = {
    val sc = spark.sparkContext
    // both callbacks run on the listener bus thread, one at a time
    val tagged = scala.collection.mutable.Set.empty[Int]
    var dropped = Vector.empty[Int]
    val loss = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(StageRecorder.IterationKey) == k.toString))
          tagged += e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (tagged(e.jobId)) {
          val ids = sc.getPersistentRDDs.values.filter(select).map(_.id).toSeq
          ids.foreach(GraftTestBridge.removeRddBlocks)
          dropped = (dropped ++ ids).distinct
        }
    }
    sc.addSparkListener(loss)
    val out =
      try body
      finally {
        GraftTestBridge.drainListenerBus(sc)
        sc.removeSparkListener(loss)
      }
    (out, dropped)
  }

  /** EXECUTED-plan walker that descends into AQE wrapper nodes
    * (AdaptiveSparkPlanExec, query stages) but NOT into a reused
    * exchange's subtree — a reused stage is shared work that runs
    * once, so collecting scans/joins over this walk counts each
    * physical operator exactly as many times as it executes. */
  def walkPlan(pl: SparkPlan): Seq[SparkPlan] = pl match {
    case a: AdaptiveSparkPlanExec => a +: walkPlan(a.executedPlan)
    case q: QueryStageExec => q +: walkPlan(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case o => o +: o.children.flatMap(walkPlan)
  }
}
