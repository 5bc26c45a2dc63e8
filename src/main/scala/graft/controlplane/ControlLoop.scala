package graft.controlplane

import scala.util.control.NonFatal

import graft.streaming.Metrics.{BatchProgress, ProgressCollector}

/** A controller's exception on one batch's progress, kept by
  * [[ControlLoop]] instead of thrown into the ticking thread. */
final case class ControlFailure(batchId: Long, error: Throwable)

/** The closed control loop: per-batch metrics (from the `observe()`
  * channel) feed a [[Controller]], whose decisions drive the
  * [[ReconfigurationExecutor]] — the Spark realization of the
  * reference's StreamSwitch loop (reference
  * controlplane/rescale/streamswitch/StreamSwitch.java:22-218:
  * retrieve per-keygroup rates each interval, decide scale/migration).
  *
  * `tick()` drains new batch progress records and offers each to the
  * controller; reconfigurations apply between micro-batches (the
  * executor's sync barrier), so the loop is safe to run from any
  * driver-side cadence (a timer thread, or after processAllAvailable
  * in tests). A controller that throws does not end the loop: the
  * exception is kept in [[failures]] and the tick goes on with the
  * next record.
  */
final class ControlLoop(
    executor: ReconfigurationExecutor,
    controller: Controller,
    collector: ProgressCollector) {

  private var consumed = 0
  private val reportsBuf = List.newBuilder[ReconfigReport]
  private val failuresBuf = List.newBuilder[ControlFailure]

  /** Offer unseen batch metrics to the controller; returns any
    * reconfiguration applied during this tick.
    *
    * ONE action per tick (the reference's migration_interval-gated
    * loop, StreamSwitch.java:110-154): once the controller applies a
    * reconfiguration, the remaining drained records are discarded —
    * they were measured under the plan that no longer exists, and
    * feeding them forward let a single tick chain several stale-data
    * reconfigurations back to back. */
  def tick(): Option[ReconfigReport] = {
    // page the tail — never re-copy the whole history per tick
    val fresh = collector.progressesFrom(consumed)
    consumed += fresh.size
    offer(fresh)
  }

  private[controlplane] def offer(fresh: List[BatchProgress])
      : Option[ReconfigReport] = {
    var applied: Option[ReconfigReport] = None
    val it = fresh.iterator
    while (applied.isEmpty && it.hasNext) {
      val p = it.next()
      try applied = controller.onProgress(executor, p)
      catch { case NonFatal(e) => failuresBuf += ControlFailure(p.batchId, e) }
    }
    applied.foreach(reportsBuf += _)
    applied
  }

  def reports: List[ReconfigReport] = reportsBuf.result()

  def failures: List[ControlFailure] = failuresBuf.result()
}
