package graft.controlplane

import scala.collection.mutable

/** Built-in controllers — the counterparts of the reference's
  * controller set (reference udm/: DummyController, TestingController
  * :59-230 scripted scale in/out/rebalance, PerformanceEvaluator
  * :40-62 periodic remap/rescale/logic tests, StreamSwitch
  * controlplane/rescale/streamswitch/StreamSwitch.java:22-218
  * metrics-driven scaling).
  *
  * A controller observes per-batch metrics and drives the
  * [[ReconfigurationExecutor]]. It runs driver-side; `onBatch` is
  * invoked from the progress listener between micro-batches.
  */
trait Controller {
  def name: String
  def onBatch(executor: ReconfigurationExecutor, batchId: Long,
      rowsPerKeygroup: Map[Int, Long]): Option[ReconfigReport]

  /** Full-progress hook (batch duration, pipeline rate, per-keygroup
    * rows); the default delegates to [[onBatch]]. Rate-model
    * controllers (StreamSwitch) override this. */
  def onProgress(executor: ReconfigurationExecutor,
      p: graft.streaming.Metrics.BatchProgress): Option[ReconfigReport] =
    onBatch(executor, p.batchId, p.rowsPerKeygroup)
}

object Controller {
  /** Greedy descending-weight pack of all keygroups onto `p` tasks:
    * hottest group first, each onto the currently lightest task.
    * Returns (assignment, heaviest task load). ONE definition shared
    * by StreamSwitch's repack sizing and the load-balance remap — the
    * two inline copies this replaces could drift on clamp/tie-break
    * rules (ties follow sortBy's stable keygroup order in both). */
  private[controlplane] def greedyPack(weight: Int => Double,
      maxParallelism: Int, p: Int): (Vector[Int], Double) = {
    // p == 0 is only coherent when there is nothing to assign — with
    // keygroups present the assignment loop would index loads(0) of an
    // empty array anyway, so reject it loudly at entry (callers always
    // pass p >= 1)
    require(p > 0 || maxParallelism == 0,
      s"greedyPack: cannot pack $maxParallelism keygroups onto 0 tasks")
    val loads = new Array[Double](p)
    val assign = new Array[Int](maxParallelism)
    (0 until maxParallelism).sortBy(kg => -weight(kg)).foreach { kg =>
      var best = 0
      var t = 1
      while (t < p) { if (loads(t) < loads(best)) best = t; t += 1 }
      assign(kg) = best
      loads(best) += weight(kg)
    }
    (assign.toVector, if (p == 0) 0.0 else loads.max)
  }
}

/** Never reconfigures (DummyController). */
final class DummyController extends Controller {
  val name = "dummy"
  def onBatch(e: ReconfigurationExecutor, b: Long,
      m: Map[Int, Long]): Option[ReconfigReport] = None
}

/** Scripted reconfiguration scenarios — TestingController: a list of
  * (afterBatch, action) pairs applied in order. */
final class TestingController(
    script: Seq[(Long, ReconfigurationExecutor => Unit)])
  extends Controller {
  val name = "testing"
  private val pending = mutable.Queue(script.sortBy(_._1): _*)
  // monotonic observed-batch clock: Spark batch ids RESTART at 0 after
  // every non-routing reconfiguration (each generation is a fresh
  // checkpoint), so a script keyed on the raw batchId would fire its
  // later entries ~N batches late after a reconfig at old-gen batch N
  private var seen = 0L

  def onBatch(executor: ReconfigurationExecutor, batchId: Long,
      m: Map[Int, Long]): Option[ReconfigReport] = {
    seen += 1
    if (pending.nonEmpty && seen - 1 >= pending.head._1) {
      val (_, action) = pending.dequeue()
      action(executor)
      Some(executor.execute(s"$name@batch$batchId"))
    } else None
  }
}

/** Periodic reconfiguration exerciser — the PerformanceEvaluator
  * (reference udm/PerformanceEvaluator.java:40-62: fires a remap /
  * rescale / logic test every interval; round-robin remap policy at
  * :149-176). Used to measure reconfiguration cost under load. */
final class PeriodicReconfigController(operator: String,
    everyNBatches: Long, maxParallelism: Int = 128)
  extends Controller {
  val name = "performance-evaluator"
  // monotonic observed-batch clock, NOT the raw batchId: ids restart
  // at 0 after every non-routing reconfig (fresh checkpoint per
  // generation), so `batchId - last` would grow the firing period by
  // ~N extra batches after every reconfig at old-generation batch N
  private var seen = 0L
  private var lastFire = 0L

  def onBatch(executor: ReconfigurationExecutor, batchId: Long,
      m: Map[Int, Long]): Option[ReconfigReport] = {
    seen += 1
    if (seen - lastFire < everyNBatches) return None
    lastFire = seen
    val p = executor.getPlan.operators(operator).parallelism
    executor.assignWorkload(operator,
      KeygroupRouter.roundRobin(maxParallelism, p))
    Some(executor.execute(s"$name@batch$batchId round-robin remap"))
  }
}

/** ±1 scaling on sustained load change — the StockController policy
  * (reference udm/StockController.java:41-78: rebalance-all or scale
  * by one task when per-task load crosses thresholds). */
final class ScalingController(operator: String,
    highRowsPerTask: Long, lowRowsPerTask: Long,
    maxParallelismTasks: Int = 32)
  extends Controller {
  val name = "scaling"

  def onBatch(executor: ReconfigurationExecutor, batchId: Long,
      rowsPerKeygroup: Map[Int, Long]): Option[ReconfigReport] = {
    val total = rowsPerKeygroup.values.sum
    if (total == 0) return None
    val desc = executor.getPlan.operators(operator)
    val perTask = total.toDouble / desc.parallelism
    val target =
      if (perTask > highRowsPerTask && desc.parallelism < maxParallelismTasks)
        desc.parallelism + 1
      else if (perTask < lowRowsPerTask && desc.parallelism > 1)
        desc.parallelism - 1
      else desc.parallelism
    if (target == desc.parallelism) return None
    executor.assignResources(operator, target)
    Some(executor.execute(
      s"$name@batch$batchId ${desc.parallelism} -> $target (perTask=$perTask)"))
  }
}

/** Metric-triggered change-of-logic — the FraudDetectionController
  * (reference udm/FraudDetectionController.java:103-189: swaps the
  * detection function live when observed load indicates an attack;
  * the reference's submit-source-code path maps to the name→factory
  * UdfRegistry, the documented deviation). Escalates the operator to
  * `escalatedUdf` once when rows/batch cross the trigger, and drops
  * back to `baseUdf` after `cooldownBatches` consecutive quiet
  * batches — each transition a full prepare→sync→update→resume
  * reconfiguration with state preserved. */
final class FraudDetectionController(operator: String,
    triggerRowsPerBatch: Long, baseUdf: String, escalatedUdf: String,
    cooldownBatches: Int = 3)
  extends Controller {
  val name = "fraud-detection"
  private var escalated = false
  private var quiet = 0

  def onBatch(executor: ReconfigurationExecutor, batchId: Long,
      rowsPerKeygroup: Map[Int, Long]): Option[ReconfigReport] = {
    val total = rowsPerKeygroup.values.sum
    if (!escalated && total >= triggerRowsPerBatch) {
      escalated = true
      quiet = 0
      executor.assignExecutionLogic(operator, escalatedUdf)
      Some(executor.execute(
        s"$name@batch$batchId escalate to $escalatedUdf ($total rows)"))
    } else if (escalated && total < triggerRowsPerBatch) {
      quiet += 1
      if (quiet >= cooldownBatches) {
        escalated = false
        quiet = 0
        executor.assignExecutionLogic(operator, baseUdf)
        Some(executor.execute(
          s"$name@batch$batchId de-escalate to $baseUdf"))
      } else None
    } else {
      quiet = 0
      None
    }
  }
}

/** The StreamSwitch policy: a rate/utilization model deciding between
  * migration, scale-out, and scale-in each metrics interval.
  *
  * Model (reference metric definitions
  * flink-runtime/.../util/profiling/DefaultMetricsManager.java:185-193:
  * trueProcessingRate = recordsIn/usefulTime, utilization =
  * usefulTime/duration; decision loop StreamSwitch.java:110-154 —
  * the shipped reference keeps the concrete LatencyGuarantor policy
  * out of tree, so the decision rule here follows the published
  * StreamSwitch model on those metrics):
  *
  *  - per-keygroup arrival rate λ_kg: EMA of observed rows / batch
  *    duration (the KafkaMetricsManager per-keygroup rate channel);
  *  - per-task service rate μ: the true processing rate of one task —
  *    here a capacity parameter (rows/s/task) estimated by peak
  *    observed pipeline rate / parallelism when not supplied;
  *  - per-task utilization u_t = Σ λ_kg(assigned to t) / μ.
  *
  * Decision each interval (one action, like the reference's
  * migration_interval-gated loop):
  *  1. if max u_t > targetUtilization on `scaleOutConsecutive` clean
  *     windows in a row (or on ONE window past `severeOverloadUtil` —
  *     the operator is actually falling behind): try migration —
  *     greedy repack of keygroups by rate onto the current task count;
  *     apply it if the packed bottleneck meets the target, otherwise
  *     scale OUT to the smallest feasible parallelism;
  *  2. else if the load would fit p−1 tasks under
  *     scaleInUtilization on `scaleInConsecutive` windows: scale IN to
  *     the smallest parallelism feasible at the HYSTERESIS MIDPOINT
  *     (see the shrink branch);
  *  3. else: no action.
  *
  * Both directions are streak-gated because every action costs a
  * stop/restart: one transient window must never buy a restart in
  * either direction. The asymmetry (grow 2, shrink 3, and a severe
  * bypass only for grow) reflects the asymmetric regret — an
  * under-provisioned operator accumulates backlog, an over-provisioned
  * one just idles.
  *
  * Steady-state sampling: a reconfiguration restarts the query, and
  * the first post-restart batch replays the backlog that accumulated
  * during the restart — a catch-up burst whose rows/duration ratio is
  * NOT the arrival rate (measuring it as such made the live loop walk
  * 8→24 at a workload whose even-spread optimum is 15). The reference
  * samples steady-state rates per interval (StreamSwitch.java:22-218),
  * so after every applied action the next `settleBatches` observation
  * windows are discarded outright — no EMA update, no decision. */
final class StreamSwitchController(operator: String,
    serviceRatePerTask: Double,
    targetUtilization: Double = 0.8,
    scaleInUtilization: Double = 0.5,
    emaAlpha: Double = 0.5,
    maxParallelism: Int = 128,
    maxTasks: Int = 32,
    settleBatches: Int = 1,
    scaleInConsecutive: Int = 3,
    initialMuMeasured: Double = -1.0,
    scaleOutConsecutive: Int = 2,
    severeOverloadUtil: Double = 1.1)
  extends Controller {
  val name = "stream-switch"

  private val rates = new Array[Double](maxParallelism)
  private var settling = 0
  // Calibrated per-task service rate: the constructor's
  // `serviceRatePerTask` is an operator-provided ballpark, and sizing
  // the SCALE-IN target from a ballpark overshoots (the r10 drain went
  // 22→3 off μ=5000 and needed two corrective scale-outs back to 5).
  // On clean windows where the bottleneck task is under genuine
  // pressure (estimated util ≥ targetUtilization — the same condition
  // that fires the migrate/scale-out branch, so the task was busy for
  // effectively the whole batch), its OBSERVED processing rate
  // (its rows / batch duration) is a direct capacity sample; EMA'd
  // here and applied to the SHRINK direction only (min with the
  // static μ) — grow-side sizing stays on the static model, see the
  // pressured branch's comment for the transient A/B that decided it.
  // A controller taking over an operator whose capacity was already
  // calibrated (a new control loop after a deploy, the drain phase of
  // a two-phase run) seeds from `initialMuMeasured` instead of waiting
  // for a pressured window that a SHRINK-bound workload may never
  // produce before the shrink decision — the r11 drain sized its first
  // scale-in off the static ballpark because the fresh controller had
  // no sample yet, landed one short, and needed a corrective step.
  private var muMeasured = initialMuMeasured

  /** The current calibrated per-task service-rate estimate (−1 before
    * any pressured-window sample): hand this to a successor
    * controller's `initialMuMeasured` so capacity knowledge survives
    * controller hand-offs. */
  def muCalibrated: Double = muMeasured
  // hysteresis for the shrink direction: scale-in releases resources
  // and costs a restart to regret, so it must not fire on ONE low
  // window (a transient EMA dip mid-load measured 0.49 for a single
  // tick and shrank 22→14, which the very next windows reversed) —
  // require `scaleInConsecutive` clean qualifying windows in a row
  private var lowTicks = 0
  // offered-rate sample accumulated over the CURRENT low streak: the
  // shrink must size against the true offered rate, and no single
  // window measures it honestly (queued triggers, catch-up pairs) —
  // Σrows over the streak's wall span does
  private var streakRows = 0L
  private var streakDurMs = 0L
  private var streakStartWall = -1L
  // the GROW direction gets the same one-window-buys-no-restart
  // treatment (the r12 drain run sat healthy at 0.73–0.77 after its
  // shrink until ONE transient 1.05 window bought a corrective
  // restart): moderate pressure must hold for `scaleOutConsecutive`
  // clean windows — but genuine overload (EMA bottleneck past
  // `severeOverloadUtil`, i.e. the task is falling behind and backlog
  // is compounding) still acts on the first window
  private var highTicks = 0
  // offered-rate samples accumulated over the CURRENT high streak —
  // the GROW twin of the shrink streak accumulator: right after a load
  // RISE the per-keygroup EMA is still converging toward the new rate
  // from below, and sizing the scale-out from it lands short (the r13
  // load phase walked 8→12→19 in two restarts for exactly this
  // reason). Each window's batchRows·perRow is its rate-SANITIZED
  // instantaneous arrival estimate (Spark's reported input rate when
  // plausible, the processing-rate fallback otherwise — the same
  // estimator the drain's shrink sizing trusts), so the streak mean is
  // an honest sample of the new offered rate before the EMA catches up.
  private var growArrSum = 0.0
  private var growArrN = 0
  /** True while post-action catch-up batches are being discarded —
    * `lastMaxUtil` is STALE (pre-action) during this window, so
    * convergence detectors must not count it as evidence. */
  def settlingNow: Boolean = settling > 0

  /** Most recent CLEAN-window bottleneck utilization (−1 before the
    * first): observability for the live bench's convergence check —
    * settle windows don't update it. */
  @volatile var lastMaxUtil: Double = -1.0

  /** Mark an action applied: the windows that follow it measure the
    * restart's replay burst, not arrival — skip them. */
  private def applied(r: ReconfigReport): Option[ReconfigReport] = {
    settling = settleBatches
    Some(r)
  }

  def onBatch(e: ReconfigurationExecutor, b: Long,
      m: Map[Int, Long]): Option[ReconfigReport] = None // needs onProgress

  /** Greedy repack of keygroups by rate (descending) onto `p` tasks —
    * the migration move: hottest groups spread first, each to the
    * currently lightest task. */
  private def packByRate(p: Int): (Vector[Int], Double) =
    Controller.greedyPack(rates, maxParallelism, p)

  override def onProgress(ex: ReconfigurationExecutor,
      p: graft.streaming.Metrics.BatchProgress): Option[ReconfigReport] = {
    if (settling > 0) { settling -= 1; return None } // catch-up burst
    val batchRows = p.rowsPerKeygroup.values.sum
    if (p.durationMs <= 0 || batchRows == 0) return None
    // λ estimator: the keygroup distribution comes from the observed
    // per-keygroup counts; its SCALE comes from the source arrival
    // rate (rows / wall time since the previous batch) when Spark
    // reports one. rows/duration is the processing throughput — on a
    // catch-up batch it measures how fast the backlog drains, not
    // demand, and an EMA of it walks the policy far past the fixpoint
    // (a live 60k ev/s run sized to p=30 where 15 was optimal).
    // inputRowsPerSecond can be Infinity (two triggers starting inside
    // the same millisecond divide by a 0.0 interval) — AND, short of
    // infinity, arbitrarily absurd for the same reason: a queued
    // trigger firing 11 ms after its predecessor reported 5.4M "rows/s"
    // on a 60k source, which one EMA fold turned into maxUtil 34 and an
    // instant 16→32 scale-out. True arrival can exceed processing only
    // while backlog grows, and never by orders of magnitude across one
    // window — so accept the reported rate only within 4× of this
    // window's own processing rate, else fall back to the duration
    // estimate.
    val procRate = batchRows * 1000.0 / p.durationMs
    val perRow =
      if (p.inputRowsPerSecond > 0 && !p.inputRowsPerSecond.isInfinite &&
          p.inputRowsPerSecond <= 4 * procRate)
        p.inputRowsPerSecond / batchRows
      else 1000.0 / p.durationMs
    var kg = 0
    while (kg < maxParallelism) {
      val observed = p.rowsPerKeygroup.getOrElse(kg, 0L) * perRow
      rates(kg) = emaAlpha * observed + (1 - emaAlpha) * rates(kg)
      kg += 1
    }
    val desc = ex.getPlan.operators(operator)
    val par = desc.parallelism
    val mu = serviceRatePerTask
    // one fold builds BOTH per-task views: EMA rates (the decision
    // model) and this batch's raw rows (the calibration input) — a
    // second copy of this walk drifted once already in review
    val lambda = new Array[Double](par)
    val rowsPerTask = new Array[Long](par)
    desc.keygroupAssignment.zipWithIndex.foreach { case (t, g) =>
      val task = math.min(t, par - 1)
      lambda(task) += rates(g)
      rowsPerTask(task) += p.rowsPerKeygroup.getOrElse(g, 0L)
    }
    val maxUtil = lambda.max / mu
    lastMaxUtil = maxUtil
    val totalRate = rates.sum

    if (maxUtil > targetUtilization) {
      // capacity calibration: on a pressured window the bottleneck
      // task runs effectively the whole batch, so its observed
      // rows/duration is a per-task service-rate sample. TWO gates:
      // the EMA pressure above, and THIS batch's own arrival share —
      // right after a load drop the EMA still reads pressured but the
      // batch is demand-limited, and folding its rows/duration into
      // muMeasured would poison the capacity estimate with a demand
      // sample that (with no pressured windows following) never
      // corrects. perRow is the batch's instantaneous per-row input
      // rate, so rowsPerTask.max·perRow is the bottleneck task's
      // instantaneous OFFERED rate — a valid capacity sample needs
      // that offered rate to itself exceed the utilization target.
      val instPressured = rowsPerTask.max * perRow / mu > targetUtilization
      val obs = rowsPerTask.max * 1000.0 / p.durationMs
      if (instPressured && obs > 0)
        muMeasured =
          if (muMeasured <= 0) obs
          else emaAlpha * obs + (1 - emaAlpha) * muMeasured
      lowTicks = 0
      // one-window-buys-no-restart: moderate pressure must HOLD for
      // scaleOutConsecutive clean windows (the calibration and EMA
      // updates above still happen every window); a severe EMA
      // overload acts immediately
      if (highTicks == 0) { growArrSum = 0.0; growArrN = 0 }
      highTicks += 1
      growArrSum += batchRows * perRow
      growArrN += 1
      if (maxUtil <= severeOverloadUtil &&
          highTicks < scaleOutConsecutive) return None
      // GROW-side decisions deliberately stay on the static μ: a live
      // A/B that sized scale-out with min(static, measured) amplified
      // the load→drain boundary transient (the backlog batch drags
      // muMeasured down right when maxUtil spikes, and the two
      // multiply: 22→32 overshoot with no drain left in the window) —
      // over-provisioning is what the SHRINK pass corrects cheaply,
      // so only that direction uses the calibrated capacity.
      //
      // Sizing RATE mirrors the shrink branch: the EMA undershoots a
      // fresh load rise, so the feasibility checks scale the EMA-built
      // pack by the streak's sanitized-arrival under-estimation ratio
      // (max with 1 — a streak mean BELOW the EMA means the EMA is
      // already converged and needs no correction). This is what makes
      // load convergence one decision instead of a walk: the r13 run
      // sized 8→12 off the converging EMA, settled, then needed 12→19.
      val instArr = if (growArrN > 0) growArrSum / growArrN else totalRate
      val underEst =
        if (totalRate > 0) math.max(1.0, instArr / totalRate) else 1.0
      val sizeRate = math.max(totalRate, instArr)
      val (migrated, migratedMax) = packByRate(par)
      if (migratedMax * underEst / mu <= targetUtilization) {
        highTicks = 0
        ex.assignWorkload(operator, migrated)
        applied(ex.execute(
          f"$name@batch${p.batchId} migrate maxUtil=$maxUtil%.2f"))
      } else if (par < maxTasks) {
        highTicks = 0
        // Scale out to the SMALLEST feasible parallelism, not par+1:
        // the utilization model is global, so the fixpoint a one-step
        // loop walks to over several restart cycles is computable in
        // closed form — and every intermediate step costs a live
        // stop/restart plus a discarded settle window (the r8 live run
        // spent its whole window walking 8→21 one task at a time).
        // Start the search at the streak rate's utilization-target
        // quotient (like the shrink), walk up until the scaled pack
        // fits.
        var p2 = math.min(maxTasks, math.max(par + 1,
          math.ceil(sizeRate / (mu * targetUtilization)).toInt))
        var packed = packByRate(p2)
        while (packed._2 * underEst / mu > targetUtilization &&
            p2 < maxTasks) {
          p2 += 1
          packed = packByRate(p2)
        }
        ex.assignResources(operator, p2)
        ex.assignWorkload(operator, packed._1)
        applied(ex.execute(
          f"$name@batch${p.batchId} scale-out $par->$p2 " +
            f"maxUtil=$maxUtil%.2f rate=$sizeRate%.0f inst=$instArr%.0f"))
      } else None
    } else {
      highTicks = 0
      // the SHRINK direction sizes against min(static, measured): an
      // OPTIMISTIC static μ is what scale-in regrets (the r10 drain
      // sized 22→3 off μ=5000 when measured capacity supported only 5,
      // forcing two corrective restarts) — the measured rate caps it.
      // The min (rather than the measured rate outright) keeps the
      // shrink consistent with the scale-out branch's static-μ
      // pressure gate: on a box FASTER than the ballpark, sizing the
      // shrink by measured capacity parks the operator where the
      // static model immediately re-triggers scale-out (a live A/B of
      // the uncapped form oscillated 22→8→22 mid-load), so a shrink
      // must remain feasible under BOTH models
      val muIn = if (muMeasured > 0) math.min(mu, muMeasured) else mu
      val lowMean =
        par > 1 && totalRate / (muIn * (par - 1)) < scaleInUtilization
      // consecutive means CONSECUTIVE: a window back inside the healthy
      // band restarts the streak (and its offered-rate accumulation)
      if (lowMean) {
        if (lowTicks == 0) {
          streakRows = 0L
          streakDurMs = 0L
          // span start ≈ this window's trigger start
          streakStartWall =
            if (p.wallMs > 0) p.wallMs - p.durationMs else -1L
        }
        lowTicks += 1
        streakRows += batchRows
        streakDurMs += p.durationMs
      } else lowTicks = 0
      if (lowMean && lowTicks >= scaleInConsecutive) {
        // A low MEAN is necessary but not sufficient: one keygroup whose
        // rate alone exceeds targetUtilization·μ makes the packed
        // bottleneck at fewer tasks unfixable by migration, and shrinking
        // would immediately re-trigger scale-out (oscillating
        // stop/restart every interval). Gate on the same
        // repacked-bottleneck check the migrate branch uses — and, like
        // scale-out, jump DIRECTLY to the smallest feasible parallelism
        // (start the search at the load's utilization-target quotient,
        // walk up until the pack fits): draining one task per interval
        // costs a restart each and left a drained 26-task run still at
        // 22 when the window closed.
        //
        // Sizing rate: right after a load DROP, the per-keygroup EMA is
        // still converging toward the new rate from below (the drain
        // run's first post-drop windows read 0.06/0.14 before settling),
        // and the `scaleInConsecutive` streak can complete while
        // totalRate still undershoots the true offered rate — the r11
        // drain sized 22→4 off a ~13k EMA of a 15k load and needed a
        // corrective scale-out to 5. The STREAK's accumulated offered
        // rate (Σrows over the streak's wall span — ≥3 windows by
        // construction, so catch-up pairs and queued-trigger artifacts
        // average out) is an honest sample of what the source actually
        // delivered, so a shrink is never sized below it: size against
        // max(EMA, streak), and scale the packed-bottleneck feasibility
        // check by the same under-estimation ratio (the pack is
        // computed from the EMA'd per-keygroup rates, so its bottleneck
        // undershoots by the same factor the total does).
        //
        // Sizing target: the HYSTERESIS MIDPOINT between the scale-in
        // and scale-out thresholds, not targetUtilization itself. A
        // shrink sized to land just under the grow trigger parks the
        // operator on the boundary where ONE noisy window buys a
        // corrective restart (the r12 drain shrank to a pack at 0.75,
        // sat healthy at 0.73–0.77, then a single 1.05 transient forced
        // a scale-out); landing mid-band (≈0.65 at the 0.5/0.8
        // defaults) leaves symmetric slack against both triggers. The
        // scale-in trigger already guarantees the midpoint-sized pack
        // exists well below par, so this costs no feasible shrink —
        // only boundary-parking ones.
        val shrinkTarget = (scaleInUtilization + targetUtilization) / 2
        val instTotal =
          if (streakStartWall > 0 && p.wallMs > streakStartWall)
            streakRows * 1000.0 / (p.wallMs - streakStartWall)
          else if (streakDurMs > 0) streakRows * 1000.0 / streakDurMs
          else batchRows * perRow
        val sizeRate = math.max(totalRate, instTotal)
        val underEst = if (totalRate > 0) sizeRate / totalRate else 1.0
        var p2 = math.max(1,
          math.ceil(sizeRate / (muIn * shrinkTarget)).toInt)
        var packed = packByRate(p2)
        while (packed._2 * underEst / muIn > shrinkTarget &&
            p2 < par - 1) {
          p2 += 1
          packed = packByRate(p2)
        }
        if (p2 < par && packed._2 * underEst / muIn <= shrinkTarget) {
          lowTicks = 0
          ex.assignResources(operator, p2)
          ex.assignWorkload(operator, packed._1)
          // reason carries the sizing inputs: a shrink that needs a
          // corrective step is diagnosable from the artifact alone
          applied(ex.execute(
            f"$name@batch${p.batchId} scale-in $par->$p2 " +
              f"rate=$sizeRate%.0f inst=$instTotal%.0f mu=$muIn%.0f " +
              f"packedMax=${packed._2}%.0f"))
        } else None
      } else None
    }
  }
}

/** Load-balancing policy in the spirit of StreamSwitch: if the hottest
  * task carries more than `imbalanceFactor` × the mean keygroup load,
  * remap keygroups to tasks by greedy bin packing of observed rates.
  * Packs onto the PLAN's current parallelism (read per decision, never
  * a constructor constant): after a scale-in a stale fixed count
  * would name tasks that no longer exist, which `assignWorkload`
  * rejects. */
final class LoadBalanceController(operator: String,
    maxParallelism: Int = 128, imbalanceFactor: Double = 1.5)
  extends Controller {
  val name = "load-balance"

  def onBatch(executor: ReconfigurationExecutor, batchId: Long,
      rowsPerKeygroup: Map[Int, Long]): Option[ReconfigReport] = {
    if (rowsPerKeygroup.isEmpty) return None
    val plan = executor.getPlan
    val desc = plan.operators(operator)
    val perTask = desc.keygroupAssignment.zipWithIndex
      .groupBy(_._1)
      .view.mapValues(_.map { case (_, kg) =>
        rowsPerKeygroup.getOrElse(kg, 0L) }.sum)
      .toMap
    val total = perTask.values.sum.toDouble
    if (total == 0) return None
    val mean = total / desc.parallelism
    val hottest = perTask.values.maxOption.getOrElse(0L)
    if (hottest <= imbalanceFactor * mean) return None

    // greedy rebalance onto the plan's CURRENT task count — the shared
    // pack (one definition with StreamSwitch's repack sizing)
    val (newAssign, _) = Controller.greedyPack(
      kg => rowsPerKeygroup.getOrElse(kg, 0L).toDouble,
      maxParallelism, desc.parallelism)
    executor.assignWorkload(operator, newAssign)
    Some(executor.execute(s"$name@batch$batchId imbalance=${hottest / mean}"))
  }
}
