package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.controlplane.{ControlLoop, KeygroupRouter,
  ReconfigurableCountQuery, StreamSwitchController}
import graft.model.KeyedTuple
import graft.streaming.Metrics

/** Reconfiguration-cost benchmark — the reference's headline
  * experiment (reference scripts/trisk_reconfig/micro-bench.sh:100-117:
  * remap every 10 s while the 60 000 ev/s × 10 000 key workload runs;
  * completion time decomposed by
  * util/profiling/ReconfigurationProfiler.java:48-90 into
  * prepare/sync/update/resume).
  *
  * Runs the reconfigurable count pipeline from a rate source and
  * fires a round-robin remap every `remapSec`, in BOTH layouts:
  *  - `pinned`  — statePartitions fixed + checkpoint reuse: the
  *    zero-state-movement fast path (no updateState phase at all);
  *  - `legacy`  — state follows parallelism: every reconfig re-reads
  *    the full operator state and re-feeds it (O(total state)).
  *
  * Emits one JSON line per mode with per-phase timings PER RECONFIG
  * (the profiler accumulates, so successive reports are diffed) and
  * the sustained input rate around the reconfigs.
  *
  * Usage: runMain graft.ReconfigBench [mode] [rate] [nKeys] [seconds] [remapSec] [outFile] [stateBytes]
  *   mode ∈ pinned | legacy | both | streamswitch (default both)
  *   stateBytes = per-key state ballast (reference state-size sweep:
  *   1024 / 10240 / 102400, micro-bench.sh:137-140); default 0
  */
object ReconfigBench {

  private def runMode(spark: SparkSession, pinned: Boolean, rate: Int,
      nKeys: Int, seconds: Int, remapSec: Int, stateBytes: Int): String = {
    import spark.implicits._
    val checkpointRoot =
      java.nio.file.Files.createTempDirectory(s"reconfig-bench").toString
    val sinkDir =
      java.nio.file.Files.createTempDirectory("reconfig-bench-out").toString +
        "/counts"
    val mp = 128
    val sourceFactory = () => spark.readStream
      .format("rate")
      .option("rowsPerSecond", rate)
      .load()
      .select(col("value"))
      .as[Long]
      .map(v => KeyedTuple(s"A${v % nKeys}", 1L))
    val rq = new ReconfigurableCountQuery(spark, sourceFactory,
      checkpointRoot, s"bench_sink_$pinned", maxParallelism = mp,
      initialParallelism = 8,
      reuseCheckpointOnRemap = pinned,
      statePartitions = if (pinned) Some(32) else None,
      fileSinkDir = Some(sinkDir),
      statePayloadBytes = stateBytes,
      drainOnSync = false) // rate source never drains; stop() is the barrier
    // steady-state observation: per-batch progress for the whole run;
    // batches that do not continue the batch-id sequence (the replay/
    // state-reload batch right after each restart, or a legacy-mode
    // id reset on a fresh checkpoint) are excluded from the steady rate
    val collector = new Metrics.ProgressCollector
    spark.streams.addListener(collector)
    val t0 = System.nanoTime()
    rq.start()
    val reports = scala.collection.mutable.ArrayBuffer.empty[
      (Map[String, Double], Double)]
    var rotation = 0
    val deadline = t0 + seconds * 1_000_000_000L
    while (System.nanoTime() < deadline) {
      Thread.sleep(remapSec * 1000L)
      if (System.nanoTime() < deadline) {
        rotation += 1
        val p = rq.getPlan.operators(rq.OperatorName).parallelism
        val assign = (0 until mp).map(kg => (kg + rotation) % p).toVector
        rq.assignWorkload(rq.OperatorName, assign)
        val tR = System.nanoTime()
        val r = rq.execute(s"periodic remap #$rotation")
        val wallMs = (System.nanoTime() - tR) / 1e6
        // phasesMs is already this ONE reconfiguration's delta (the
        // profiler itself stays cumulative; the report diffs it)
        reports += ((r.phasesMs, wallMs))
      }
    }
    Thread.sleep(2000) // let the final generation commit some batches
    val wallSec = (System.nanoTime() - t0) / 1e9
    rq.stop()
    spark.streams.removeListener(collector)
    // steady processing rate: rows/processing-time excluding each
    // run's FIRST batch — a restart opens a new runId, and its first
    // batch pays checkpoint reload + offset backlog whether or not the
    // previous run's last batch committed (batch-id continuity alone
    // misses that committed-boundary case). The cross-mode comparable
    // number: the end-to-end `sustained` figure also pays stop windows
    // and reloads, which scale with restart COUNT, so the mode with
    // CHEAPER reconfigs pays them more often in a fixed window.
    val (steadyRows, steadyMs, steadyN) = {
      var rows = 0L; var ms = 0L; var n = 0
      collector.progresses.groupBy(_.runId).values.foreach { run =>
        run.sortBy(_.batchId).drop(1).filter(_.numInputRows > 0)
          .foreach { p =>
            rows += p.numInputRows; ms += p.durationMs; n += 1
          }
      }
      (rows, ms, n)
    }
    val steadyRps = if (steadyMs == 0) 0.0 else steadyRows * 1000.0 / steadyMs
    // sustained throughput: last value per key in the file sink is the
    // total per-key count => sum = total rows processed
    // guard the edge configs: a run with seconds <= remapSec fires no
    // reconfig (reports empty), and a run too short to commit a batch
    // leaves the sink empty (sum(value) is SQL NULL)
    val totalRows = scala.util.Try {
      val sumRow = ReconfigurableCountQuery.readFileSink(spark, sinkDir)
        .agg(sum(col("value"))).collect()(0)
      if (sumRow.isNullAt(0)) 0L else sumRow.getLong(0)
    }.getOrElse(0L) // no committed batch => no files to read
    val mode = if (pinned) "pinned" else "legacy"
    val phaseNames = reports.flatMap(_._1.keys).distinct.sorted
    val phases = ListMap.from(phaseNames.map { ph =>
      val xs = reports.map(_._1.getOrElse(ph, 0.0))
      ph -> ListMap("mean_ms" -> math.round(xs.sum / xs.size),
        "max_ms" -> math.round(xs.max))
    })
    val wallXs = reports.map(_._2)
    val wall =
      if (wallXs.isEmpty) ListMap("mean" -> null, "max" -> null)
      else ListMap("mean" -> math.round(wallXs.sum / wallXs.size),
        "max" -> math.round(wallXs.max))
    Json.mapper.writeValueAsString(ListMap(
      "mode" -> mode, "state_bytes_per_key" -> stateBytes,
      "reconfigs" -> reports.size, "phases" -> phases,
      "reconfig_wall_ms" -> wall,
      "sustained_rows_per_sec" -> math.round(totalRows / wallSec),
      "steady_rows_per_sec" -> math.round(steadyRps),
      "steady_batches" -> steadyN, "offered_rows_per_sec" -> rate,
      "run_sec" -> tenths(wallSec)))
  }

  private def tenths(x: Double): Double = math.round(x * 10) / 10.0

  /** The CLOSED StreamSwitch loop under live load: per-batch observed
    * keygroup rates feed the λ/μ policy, whose decisions drive REAL
    * reconfigurations of the running query (the reference's
    * metrics → StreamSwitch → reconfiguration cycle,
    * StreamSwitch.java:110-154 — here exercised live, not from
    * recorded rates). μ is set BELOW offered/parallelism so the
    * policy must scale out step by step until utilization clears the
    * target: 60k ev/s at μ=5k/task and target 0.8 stabilizes at
    * p ≥ 15. */
  /** One live StreamSwitch phase: run the reconfigurable count query
    * at `phaseRate` from `initialP` tasks under the closed control
    * loop, ticking until the clean-window bottleneck utilization holds
    * at-or-under target for `stableTicks` consecutive ticks (or the
    * deadline). Returns (finalParallelism, decision reasons,
    * per-tick maxUtil samples, converged). */
  private def streamSwitchPhase(spark: SparkSession, phaseRate: Int,
      nKeys: Int, initialP: Int, seconds: Int, tickSec: Int,
      stableTicks: Int, seedMu: Double = -1.0)
      : (Int, List[String], List[Double], Boolean, Double) = {
    import spark.implicits._
    val checkpointRoot =
      java.nio.file.Files.createTempDirectory("reconfig-ss").toString
    val sinkDir =
      java.nio.file.Files.createTempDirectory("reconfig-ss-out").toString +
        "/counts"
    val mp = 128
    val sourceFactory = () => spark.readStream
      .format("rate").option("rowsPerSecond", phaseRate).load()
      .select(col("value")).as[Long]
      .map(v => KeyedTuple(s"A${v % nKeys}", 1L))
    val rq = new ReconfigurableCountQuery(spark, sourceFactory,
      checkpointRoot, "ss_sink", maxParallelism = mp,
      initialParallelism = initialP, reuseCheckpointOnRemap = true,
      statePartitions = Some(32), fileSinkDir = Some(sinkDir),
      drainOnSync = false)
    val collector = new Metrics.ProgressCollector
    spark.streams.addListener(collector)
    val controller = new StreamSwitchController(rq.OperatorName,
      serviceRatePerTask = 5000.0, maxParallelism = mp, maxTasks = 32,
      initialMuMeasured = seedMu)
    val loop = new ControlLoop(rq, controller, collector)
    val t0 = System.nanoTime()
    rq.start()
    val deadline = t0 + seconds * 1_000_000_000L
    val utils = List.newBuilder[Double]
    var stable = 0
    var converged = false
    var seen = 0
    while (!converged && System.nanoTime() < deadline) {
      Thread.sleep(tickSec * 1000L)
      // read BEFORE the tick: the tick itself decrements the settle
      // counter, and the tick that takes it 1→0 still reports the
      // stale pre-action lastMaxUtil
      val wasSettling = controller.settlingNow
      val acted = loop.tick().isDefined
      val u = controller.lastMaxUtil
      val freshN = collector.progressesFrom(seen).size
      seen += freshN
      if (u >= 0) utils += u
      // convergence = the policy is quiet AND the measured bottleneck
      // sits inside the utilization band on consecutive clean windows.
      // Ticks with NO fresh progress (a restart recovering, a long
      // catch-up batch in flight) carry no evidence either way, and
      // neither do ticks inside the controller's post-action settle
      // window (lastMaxUtil is the STALE pre-action value there — a
      // scale-in's low pre-action utilization would otherwise count
      // toward convergence before a single clean window at the new
      // parallelism was measured): none of these advance or reset the
      // stability count.
      if (freshN > 0 && !wasSettling && !controller.settlingNow)
        stable = if (!acted && u >= 0 && u <= 0.8) stable + 1 else 0
      converged = stable >= stableTicks
    }
    rq.stop()
    spark.streams.removeListener(collector)
    val finalP = rq.getPlan.operators(rq.OperatorName).parallelism
    (finalP, loop.reports.map(_.reason), utils.result(), converged,
      controller.muCalibrated)
  }

  /** The CLOSED StreamSwitch loop, demonstrated to CONVERGENCE in both
    * directions: a load phase from an undersized start (p=8 at μ=5k
    * against the offered rate — the policy must scale out and then go
    * quiet inside the utilization band), then a drain phase — the same
    * workload dropping to rate/4 with the query CONTINUING at the load
    * phase's converged parallelism, where the gated scale-in must fire
    * and the loop must settle again. */
  private def runStreamSwitch(spark: SparkSession, rate: Int, nKeys: Int,
      seconds: Int, tickSec: Int): String = {
    val t0 = System.nanoTime()
    val (loadP, loadDecisions, loadUtils, loadConverged, loadMu) =
      streamSwitchPhase(spark, rate, nKeys, initialP = 8,
        seconds = seconds, tickSec = tickSec, stableTicks = 3)
    // the drain controller takes over the SAME operator the load phase
    // calibrated — seed its capacity estimate so the first scale-in
    // sizes from measured capacity, not the static ballpark
    val (drainP, drainDecisions, drainUtils, drainConverged, _) =
      streamSwitchPhase(spark, rate / 4, nKeys, initialP = loadP,
        seconds = seconds, tickSec = tickSec, stableTicks = 3,
        seedMu = loadMu)
    def hundredths(xs: List[Double]) = xs.map(u => math.round(u * 100) / 100.0)
    val scaleIns = drainDecisions.count(_.contains("scale-in"))
    Json.mapper.writeValueAsString(ListMap(
      "mode" -> "streamswitch", "offered_rows_per_sec" -> rate,
      "service_rate_per_task" -> 5000,
      "load" -> ListMap("initial_parallelism" -> 8,
        "final_parallelism" -> loadP, "converged" -> loadConverged,
        "max_util_ticks" -> hundredths(loadUtils),
        "decisions" -> loadDecisions),
      "drain" -> ListMap("offered_rows_per_sec" -> rate / 4,
        "initial_parallelism" -> loadP, "final_parallelism" -> drainP,
        "converged" -> drainConverged, "scale_ins" -> scaleIns,
        "max_util_ticks" -> hundredths(drainUtils),
        "decisions" -> drainDecisions),
      "run_sec" -> tenths((System.nanoTime() - t0) / 1e9)))
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("both")
    val rate = args.lift(1).map(_.toInt).getOrElse(60000)
    val nKeys = args.lift(2).map(_.toInt).getOrElse(10000)
    val seconds = args.lift(3).map(_.toInt).getOrElse(45)
    val remapSec = args.lift(4).map(_.toInt).getOrElse(10)
    val outFile = args.lift(5)
    val stateBytes = args.lift(6).map(_.toInt).getOrElse(0)
    val spark = Bench.session()
    val lines = mode match {
      case "pinned" => Seq(
        runMode(spark, pinned = true, rate, nKeys, seconds, remapSec, stateBytes))
      case "legacy" => Seq(
        runMode(spark, pinned = false, rate, nKeys, seconds, remapSec, stateBytes))
      case "streamswitch" =>
        Seq(runStreamSwitch(spark, rate, nKeys, seconds, tickSec = 3))
      case _ => Seq(
        runMode(spark, pinned = true, rate, nKeys, seconds, remapSec, stateBytes),
        runMode(spark, pinned = false, rate, nKeys, seconds, remapSec, stateBytes))
    }
    lines.foreach(println)
    outFile.foreach(f => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f), lines.mkString("\n") + "\n"))
    spark.stop()
  }
}
