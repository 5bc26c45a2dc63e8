package graft.controlplane

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.model.KeyedTuple
import graft.streaming.Metrics

/** End-to-end control loop: skewed load observed through the metrics
  * channel triggers the load-balance controller, which remaps
  * keygroups and re-executes — with per-key counts preserved. */
class ControlLoopSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("skew-triggered remap via the observed-metrics control loop") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val checkpointRoot = Files.createTempDirectory("ctl-loop").toString
    var stream: MemoryStream[KeyedTuple] = null
    val rq = new ReconfigurableCountQuery(spark,
      () => { stream = MemoryStream[KeyedTuple]; stream.toDS() },
      checkpointRoot, "ctl_sink", initialParallelism = 2,
      observePlacement = true)
    // placements are recorded under the per-INSTANCE key (two live
    // pipelines sharing a name must not interleave records)
    PlacementObserver.clear(rq.placementKey)

    val collector = new Metrics.ProgressCollector
    spark.streams.addListener(collector)
    try {
      rq.start()
      val controller = new LoadBalanceController(rq.OperatorName)
      val loop = new ControlLoop(rq, controller, collector)

      // phase 1: heavy skew on one key + a thin tail
      val hot = Seq.fill(500)(KeyedTuple("A0", 1L))
      val tail = (1 until 20).map(k => KeyedTuple(s"A$k", 1L))
      stream.addData(hot ++ tail: _*)
      rq.processAllAvailable()

      // progress events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (!collector.progresses.exists(_.rowsPerKeygroup.values.sum > 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)

      val report = loop.tick()
      assert(report.isDefined, "controller did not react to skew")
      assert(report.get.reason.contains("load-balance"))

      // phase 2 on the remapped plan: counts continue exactly, and the
      // stream is observed on its new physical placement
      stream.addData((0 until 20).map(k => KeyedTuple(s"A$k", 1L)): _*)
      rq.processAllAvailable()
      val last = ReconfigurableCountQuery.readFileSink(spark, rq.sinkDir)
        .collect().map(t => t.key -> t.value).toMap
      rq.stop()
      assert(last("A0") === 501L)
      assert(last("A1") === 2L)

      // the remap changed the DATA PLANE: every observed keygroup of the
      // new generation ran on exactly the partition the plan assigns it,
      // and at least one keygroup physically moved between generations
      val planAfter = rq.getPlan.operators(rq.OperatorName).keygroupAssignment
      val before = PlacementObserver.placement(rq.placementKey, 0)
      val after = PlacementObserver.placement(rq.placementKey, 1)
      assert(after.nonEmpty, "no placement observed after remap")
      after.foreach { case (kg, part) =>
        assert(part === planAfter(kg), s"keygroup $kg off-plan")
      }
      val common = before.keySet & after.keySet
      assert(common.exists(kg => before(kg) != after(kg)),
        s"remap did not move any keygroup (observed ${common.size})")
    } finally spark.streams.removeListener(collector)
  }

  test("a controller that throws is recorded and the next tick still reconfigures") {
    // an executor that only records what it applies: the loop, not the
    // pipeline, is under test
    val ex = new ReconfigurationExecutor {
      var plan = QueryPlanDescriptor(128, Map("op" ->
        OperatorDescriptor.contiguous("op", 2, "countV1", 128)))
      def getPlan: QueryPlanDescriptor = plan
      def assignExecutionLogic(o: String, u: String): Unit = ()
      def assignResources(o: String, p: Int): Unit =
        plan = plan.withOperator(OperatorDescriptor.contiguous(o, p, "countV1", 128))
      def assignWorkload(o: String, a: Vector[Int]): Unit = ()
      def execute(reason: String): ReconfigReport =
        ReconfigReport(reason, Map.empty, plan, plan)
    }
    var calls = 0
    val flaky = new Controller {
      val name = "flaky"
      def onBatch(e: ReconfigurationExecutor, batchId: Long,
          rows: Map[Int, Long]): Option[ReconfigReport] = {
        calls += 1
        if (calls == 1) throw new IllegalStateException("controller bug")
        e.assignResources("op", 4)
        Some(e.execute(s"scale-out at batch $batchId"))
      }
    }
    val loop = new ControlLoop(ex, flaky, new Metrics.ProgressCollector)
    def batch(id: Long) = Metrics.BatchProgress(id, 10, 10.0, 100)
    assert(loop.offer(List(batch(0))).isEmpty)
    assert(loop.failures.map(f => (f.batchId, f.error.getMessage)) ===
      List((0L, "controller bug")))
    val next = loop.offer(List(batch(1)))
    assert(next.map(_.reason) === Some("scale-out at batch 1"))
    assert(ex.getPlan.operators("op").parallelism === 4)
    assert(loop.reports === next.toList)
    assert(loop.failures.size === 1)
  }
}
