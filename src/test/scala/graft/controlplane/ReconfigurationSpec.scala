package graft.controlplane

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.model.KeyedTuple

/** Reconfiguration scenarios — ports of the reference's scripted tests
  * (StatefulWindowOpTest "scale out 3 to 4", TestingWorkload oracle
  * invariance): per-key counts must be preserved across rescale with
  * state migration and across change-of-logic. */
class ReconfigurationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tuples(keys: Range, reps: Int): Seq[KeyedTuple] =
    (0 until reps).flatMap(_ => keys.map(k => KeyedTuple(s"A$k", 1L)))

  test("rescale 4→8 migrates state; counts continue exactly") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val checkpointRoot = Files.createTempDirectory("reconfig").toString
    var stream = MemoryStream[KeyedTuple]
    val rq = new ReconfigurableCountQuery(spark, () => stream.toDS(),
      checkpointRoot, "reconfig_sink", initialParallelism = 4)
    rq.start()

    // phase 1: 10 keys × 3
    stream.addData(tuples(0 until 10, 3): _*)
    rq.processAllAvailable()

    // controller: scale out 4 → 8 (new generation, migrated state)
    stream = MemoryStream[KeyedTuple] // repositioned source for gen 1
    rq.assignResources(rq.OperatorName, 8)
    val report = rq.execute("scale-out 4 to 8")
    assert(report.planAfter.operators(rq.OperatorName).parallelism === 8)
    assert(report.phasesMs.keySet === Set("prepare", "synchronize",
      "updateState", "updateKeyMapping", "resume"))

    // phase 2: same 10 keys × 2 — counts must continue at 3, not restart
    stream.addData(tuples(0 until 10, 2): _*)
    rq.processAllAvailable()

    val finalCounts = ReconfigurableCountQuery.readFileSink(spark, rq.sinkDir)
      .collect().map(t => t.key -> t.value).toMap
    rq.stop()
    assert(finalCounts === (0 until 10).map(k => s"A$k" -> 5L).toMap)
  }

  test("change-of-logic swaps UDF, preserves state") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val checkpointRoot = Files.createTempDirectory("reconfig-col").toString
    var stream = MemoryStream[KeyedTuple]
    val rq = new ReconfigurableCountQuery(spark, () => stream.toDS(),
      checkpointRoot, "col_sink", initialParallelism = 4)
    rq.start()

    stream.addData(tuples(0 until 4, 2): _*) // counts = 2 under countV1
    rq.processAllAvailable()

    stream = MemoryStream[KeyedTuple]
    rq.assignExecutionLogic(rq.OperatorName, "countV2")
    rq.execute("hot-swap countV1 -> countV2")

    stream.addData(tuples(0 until 4, 1): _*) // +2 per event under countV2
    rq.processAllAvailable()

    val finalCounts = ReconfigurableCountQuery.readFileSink(spark, rq.sinkDir)
      .collect().map(t => t.key -> t.value).toMap
    rq.stop()
    assert(finalCounts === (0 until 4).map(k => s"A$k" -> 4L).toMap)
  }

  test("routing-only remap reuses the checkpoint — zero state movement") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val checkpointRoot = Files.createTempDirectory("reconfig-ro").toString
    // single durable-ish source: the same MemoryStream resumes the
    // checkpoint's offsets across the restart (the fast path's contract)
    val stream = MemoryStream[KeyedTuple]
    val rq = new ReconfigurableCountQuery(spark, () => stream.toDS(),
      checkpointRoot, "ro_sink", initialParallelism = 2,
      reuseCheckpointOnRemap = true)
    rq.start()

    stream.addData(tuples(0 until 10, 3): _*)
    rq.processAllAvailable()

    // remap keygroups, same parallelism + logic: must NOT read state
    rq.assignWorkload(rq.OperatorName, KeygroupRouter.roundRobin(128, 2))
    val report = rq.execute("routing-only remap")
    assert(!report.phasesMs.contains("updateState"),
      "routing-only remap should not re-read state")
    assert(report.planAfter.operators(rq.OperatorName).keygroupAssignment ===
      KeygroupRouter.roundRobin(128, 2))

    // counts continue exactly from the in-place state
    stream.addData(tuples(0 until 10, 2): _*)
    rq.processAllAvailable()
    val finalCounts = ReconfigurableCountQuery.readFileSink(spark, rq.sinkDir)
      .collect().map(t => t.key -> t.value).toMap
    rq.stop()
    assert(finalCounts === (0 until 10).map(k => s"A$k" -> 5L).toMap)
  }

  test("pinned state layout: rescale AND logic swap reuse the checkpoint") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val checkpointRoot = Files.createTempDirectory("reconfig-pin").toString
    // Flink keygroup model: state sharded over a FIXED partition count,
    // so a rescale is a routing-only change — the same MemoryStream
    // resumes the checkpoint's offsets and no state is read or re-fed.
    val stream = MemoryStream[KeyedTuple]
    val rq = new ReconfigurableCountQuery(spark, () => stream.toDS(),
      checkpointRoot, "pin_sink", initialParallelism = 2,
      reuseCheckpointOnRemap = true, statePartitions = Some(16))
    rq.start()

    stream.addData(tuples(0 until 10, 3): _*)
    rq.processAllAvailable()

    // rescale 2 → 6: zero state movement
    rq.assignResources(rq.OperatorName, 6)
    val r1 = rq.execute("rescale on pinned layout")
    assert(!r1.phasesMs.contains("updateState"),
      "pinned-layout rescale must not re-read state")
    assert(r1.planAfter.operators(rq.OperatorName).parallelism === 6)

    stream.addData(tuples(0 until 10, 1): _*)
    rq.processAllAvailable()

    // change-of-logic on the same pinned layout: also in-place
    rq.assignExecutionLogic(rq.OperatorName, "countV2")
    val r2 = rq.execute("logic swap on pinned layout")
    assert(!r2.phasesMs.contains("updateState"),
      "pinned-layout logic swap must not re-read state")

    stream.addData(tuples(0 until 10, 1): _*) // +2 per event under countV2
    rq.processAllAvailable()
    val finalCounts = ReconfigurableCountQuery.readFileSink(spark, rq.sinkDir)
      .collect().map(t => t.key -> t.value).toMap
    rq.stop()
    assert(finalCounts === (0 until 10).map(k => s"A$k" -> 6L).toMap)
  }

  /** The production sink: distributed parquet append per micro-batch,
    * nothing through the driver — same checkpoint-resume contract, so
    * the pinned-layout zero-state-movement path works unchanged.
    * Readers take the newest (batch_id) row per key. */
  test("file sink survives pinned-layout rescale with state preserved") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val checkpointRoot = Files.createTempDirectory("reconfig-fs").toString
    val sinkDir = Files.createTempDirectory("reconfig-fs-out").toString + "/counts"
    val stream = MemoryStream[KeyedTuple]
    val rq = new ReconfigurableCountQuery(spark, () => stream.toDS(),
      checkpointRoot, "fs_sink_unused", initialParallelism = 2,
      reuseCheckpointOnRemap = true, statePartitions = Some(16),
      fileSinkDir = Some(sinkDir))
    rq.start()

    stream.addData(tuples(0 until 10, 3): _*)
    rq.processAllAvailable()

    rq.assignResources(rq.OperatorName, 6)
    val r = rq.execute("rescale on pinned layout, file sink")
    assert(!r.phasesMs.contains("updateState"))

    stream.addData(tuples(0 until 10, 2): _*)
    rq.processAllAvailable()
    rq.stop()

    // no driver-side row log was created for this pipeline
    assert(spark.catalog.tableExists("fs_sink_unused") === false)
    // newest (generation, batch_id) per key wins (update-mode log
    // compaction at read — the readFileSink contract)
    val counts = ReconfigurableCountQuery.readFileSink(spark, sinkDir)
      .collect().map(t => t.key -> t.value).toMap
    assert(counts === (0 until 10).map(k => s"A$k" -> 5L).toMap)
  }

  /** The file sink's at-least-once contract, pinned as code:
    *  - a non-routing reconfiguration opens a new GENERATION whose
    *    micro-batch ids restart at 0 while appending to the same
    *    directory — if the old generation ran more batches, ordering
    *    by batch_id alone resolves to its stale rows; the reader must
    *    order by (generation, batch_id);
    *  - a batch replayed after a failure between the parquet append
    *    and the checkpoint commit appends byte-identical rows, which
    *    the max-by read absorbs. */
  test("file sink reader survives generation restarts and batch replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max_by}
    implicit val sql = spark.sqlContext
    val checkpointRoot = Files.createTempDirectory("reconfig-gen").toString
    val sinkDir = Files.createTempDirectory("reconfig-gen-out").toString +
      "/counts"
    var stream = MemoryStream[KeyedTuple]
    // LEGACY mode: state follows parallelism, so the rescale below is
    // a full reconfiguration — generation bumps, batch ids restart
    val rq = new ReconfigurableCountQuery(spark, () => stream.toDS(),
      checkpointRoot, "gen_sink_unused", initialParallelism = 2,
      fileSinkDir = Some(sinkDir))
    rq.start()
    // three generation-0 batches => gen0's max batch_id is 2
    (1 to 3).foreach { _ =>
      stream.addData(tuples(0 until 10, 1): _*)
      rq.processAllAvailable()
    }
    rq.assignResources(rq.OperatorName, 4)
    stream = MemoryStream[KeyedTuple] // repositioned source for gen 1
    rq.execute("legacy rescale => new generation")
    // ONE generation-1 batch: its batch_id (0) is numerically smaller
    // than gen0's (2), but its counts are newer
    stream.addData(tuples(0 until 10, 1): _*)
    rq.processAllAvailable()
    rq.stop()

    val correct = ReconfigurableCountQuery.readFileSink(spark, sinkDir)
      .collect().map(t => t.key -> t.value).toMap
    assert(correct === (0 until 10).map(k => s"A$k" -> 4L).toMap)
    // the defect this contract fixes: batch_id-only ordering resolves
    // to generation 0's last row (count 3) — stale
    val staleRead = spark.read.parquet(sinkDir)
      .groupBy(col("key"))
      .agg(max_by(col("value"), col("batch_id")).as("value"))
      .as[KeyedTuple].collect().map(t => t.key -> t.value).toMap
    assert(staleRead === (0 until 10).map(k => s"A$k" -> 3L).toMap)

    // at-least-once replay: re-append one committed batch's rows
    // verbatim (the failure-between-append-and-commit shape); the
    // max-by reader must be unaffected
    val replayed = spark.read.parquet(sinkDir)
      .filter(col("generation") === 0 && col("batch_id") === 1)
    replayed.write.mode("append").parquet(sinkDir)
    val afterReplay = ReconfigurableCountQuery.readFileSink(spark, sinkDir)
      .collect().map(t => t.key -> t.value).toMap
    assert(afterReplay === correct)
  }

  /** Kill/resume: stop the pipeline with data in flight (uncommitted
    * batch), bring up a NEW pipeline instance on the same checkpoint
    * root and sink — the replayed batch appends again, and the reader
    * contract yields exactly the counts of an unkilled run. */
  test("file sink counts match an unkilled run after kill and resume") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val checkpointRoot = Files.createTempDirectory("reconfig-kill").toString
    val sinkDir = Files.createTempDirectory("reconfig-kill-out").toString +
      "/counts"
    val stream = MemoryStream[KeyedTuple]
    val rq = new ReconfigurableCountQuery(spark, () => stream.toDS(),
      checkpointRoot, "kill_sink_unused", initialParallelism = 2,
      reuseCheckpointOnRemap = true, statePartitions = Some(16),
      fileSinkDir = Some(sinkDir))
    rq.start()
    stream.addData(tuples(0 until 10, 2): _*)
    rq.processAllAvailable()
    // data lands, then the driver dies before the trigger fires:
    // stop() without draining leaves these rows uncommitted
    stream.addData(tuples(0 until 10, 1): _*)
    rq.stop()

    // resume: a fresh instance on the same checkpoint root; the same
    // MemoryStream stands in for a durable source resuming offsets
    val rq2 = new ReconfigurableCountQuery(spark, () => stream.toDS(),
      checkpointRoot, "kill_sink_unused2", initialParallelism = 2,
      reuseCheckpointOnRemap = true, statePartitions = Some(16),
      fileSinkDir = Some(sinkDir))
    rq2.start()
    rq2.processAllAvailable() // replays/consumes the in-flight rows
    stream.addData(tuples(0 until 10, 1): _*) // and life goes on
    rq2.processAllAvailable()
    rq2.stop()

    val counts = ReconfigurableCountQuery.readFileSink(spark, sinkDir)
      .collect().map(t => t.key -> t.value).toMap
    // identical to an unkilled run over the same inputs: 2 + 1 + 1
    assert(counts === (0 until 10).map(k => s"A$k" -> 4L).toMap)
  }

  /** Kill/resume AFTER a non-routing reconfiguration: the predecessor
    * died on generation 1, so the successor must derive its starting
    * generation from the gen* directories on disk — a successor that
    * restarted at a hardcoded gen0 would resume the STALE pre-reconfig
    * checkpoint and stamp its rows generation=0, which readFileSink
    * silently loses to the dead instance's generation-1 rows. */
  test("resume after a generation-bumping reconfig continues the latest generation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sql = spark.sqlContext
    val checkpointRoot = Files.createTempDirectory("reconfig-genkill").toString
    val sinkDir = Files.createTempDirectory("reconfig-genkill-out")
      .toString + "/counts"
    var stream = MemoryStream[KeyedTuple]
    // LEGACY mode: the rescale below is a full reconfiguration, so it
    // bumps the generation before the kill
    val rq = new ReconfigurableCountQuery(spark, () => stream.toDS(),
      checkpointRoot, "genkill_sink_unused", initialParallelism = 2,
      fileSinkDir = Some(sinkDir))
    rq.start()
    stream.addData(tuples(0 until 10, 2): _*)
    rq.processAllAvailable()

    rq.assignResources(rq.OperatorName, 4)
    stream = MemoryStream[KeyedTuple] // repositioned source for gen 1
    rq.execute("legacy rescale => generation 1")
    stream.addData(tuples(0 until 10, 1): _*)
    rq.processAllAvailable()
    // in-flight rows land, then the driver dies without draining
    stream.addData(tuples(0 until 10, 1): _*)
    rq.stop()

    // successor on the same root: must pick up generation 1 from disk
    val rq2 = new ReconfigurableCountQuery(spark, () => stream.toDS(),
      checkpointRoot, "genkill_sink_unused2", initialParallelism = 4,
      fileSinkDir = Some(sinkDir))
    rq2.start()
    rq2.processAllAvailable() // replays the in-flight rows
    rq2.stop()

    // 2 (gen0) + 1 (gen1 drained) + 1 (replayed after resume) per key
    val counts = ReconfigurableCountQuery.readFileSink(spark, sinkDir)
      .collect().map(t => t.key -> t.value).toMap
    assert(counts === (0 until 10).map(k => s"A$k" -> 4L).toMap)
    // and the successor really continued generation 1 — no generation-2
    // checkpoint was opened, no rows regressed to generation 0 stamps
    val gens = spark.read.parquet(sinkDir)
      .select(col("generation")).distinct()
      .as[Int].collect().sorted
    assert(gens === Array(0, 1))
    val newestGen = spark.read.parquet(sinkDir)
      .filter(col("generation") === 1)
      .groupBy().max("batch_id").as[Long].head()
    assert(newestGen >= 1L) // successor appended into generation 1
  }

  /** The reference's full submit-source story
    * (udm/FraudDetectionController.java:155-190 POSTs Java source,
    * StreamManager.java:973-996 compiles it, changeOfLogic swaps the
    * running operator): Scala source for a V2 logic goes in over REST,
    * the FraudDetectionController escalates the LIVE count stream to
    * the freshly-compiled logic, and per-key state survives the swap. */
  test("source-compiled logic hot-swaps into the running stream via controller") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    sys.props(DynamicCompiler.FlagKey) = "true"
    val checkpointRoot = Files.createTempDirectory("reconfig-src").toString
    var stream = MemoryStream[KeyedTuple]
    val rq = new ReconfigurableCountQuery(spark, () => stream.toDS(),
      checkpointRoot, "src_sink", initialParallelism = 2)
    val endpoint = new ControllerEndpoint(rq, Map.empty, port = 0)
    val port = endpoint.start()
    try {
      // submit V2 source over REST — compiled + registered, not pre-built
      val conn = java.net.URI.create(
        s"http://127.0.0.1:$port/jobs/udf/source").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write(
        ("countV2Compiled\n" +
          "(key: String, prev: Long, n: Long) => prev + 2 * n")
          .getBytes("UTF-8"))
      assert(conn.getResponseCode === 200)
      assert(UdfRegistry.names.contains("countV2Compiled"))

      rq.start()
      stream.addData(tuples(0 until 4, 2): _*) // counts = 2 under countV1
      rq.processAllAvailable()

      // the fraud controller sees a hot batch and escalates to the
      // compiled logic (trigger = 5 rows/batch; 8 rows arrived)
      val controller = new FraudDetectionController(rq.OperatorName,
        triggerRowsPerBatch = 5L, baseUdf = "countV1",
        escalatedUdf = "countV2Compiled")
      stream = MemoryStream[KeyedTuple]
      val report = controller.onBatch(rq, 1L,
        Map(0 -> 8L)) // observed per-keygroup rows from the hot batch
      assert(report.isDefined)
      assert(rq.getPlan.operators(rq.OperatorName).udfName === "countV2Compiled")

      // counts continue from 2 and now advance by 2 per event
      stream.addData(tuples(0 until 4, 1): _*)
      rq.processAllAvailable()
      val finalCounts = ReconfigurableCountQuery.readFileSink(spark, rq.sinkDir)
        .collect().map(t => t.key -> t.value).toMap
      assert(finalCounts === (0 until 4).map(k => s"A$k" -> 4L).toMap)
    } finally {
      endpoint.stop()
      rq.stop()
      sys.props.remove(DynamicCompiler.FlagKey)
    }
  }

  test("scripted TestingController triggers at the right batch") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val checkpointRoot = Files.createTempDirectory("reconfig-tc").toString
    var stream = MemoryStream[KeyedTuple]
    val rq = new ReconfigurableCountQuery(spark, () => stream.toDS(),
      checkpointRoot, "tc_sink", initialParallelism = 2)
    rq.start()
    val controller = new TestingController(Seq(
      (0L, (e: ReconfigurationExecutor) =>
        e.assignResources("running-count", 4))))

    stream.addData(KeyedTuple("A0", 1))
    rq.processAllAvailable()
    stream = MemoryStream[KeyedTuple]
    val r = controller.onBatch(rq, 0L, Map.empty)
    assert(r.isDefined)
    assert(rq.getPlan.operators("running-count").parallelism === 4)
    // second call: script exhausted
    assert(controller.onBatch(rq, 1L, Map.empty).isEmpty)
    rq.stop()
  }

  /** A keygroup → task vector is checked when it is staged: routing
    * has no token for a task outside [0, parallelism) or for a missing
    * keygroup, and `execute` only reaches the routing after the
    * running query is stopped. */
  test("malformed keygroup assignments are rejected and leave the pipeline running") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val checkpointRoot = Files.createTempDirectory("reconfig-bad").toString
    val stream = MemoryStream[KeyedTuple]
    val rq = new ReconfigurableCountQuery(spark, () => stream.toDS(),
      checkpointRoot, "bad_assign", initialParallelism = 2)
    rq.start()
    try {
      stream.addData(tuples(0 until 10, 1): _*)
      rq.processAllAvailable()
      val running = rq.getPlan
      val rr = KeygroupRouter.roundRobin(128, 2)
      Seq("a negative task" -> rr.updated(5, -1),
          "a task equal to the parallelism" -> rr.updated(5, 2),
          "64 entries for 128 keygroups" -> rr.take(64)).foreach {
        case (what, assignment) =>
          val e = intercept[IllegalArgumentException](
            rq.assignWorkload(rq.OperatorName, assignment))
          assert(e.getMessage.contains(rq.OperatorName), what)
          val r = rq.execute(s"after $what")
          assert(r.reason.contains("no-op") && rq.getPlan === running, what)
      }
      stream.addData(tuples(0 until 10, 1): _*)
      rq.processAllAvailable()
      val counts = ReconfigurableCountQuery.readFileSink(spark, rq.sinkDir)
        .collect().map(t => t.key -> t.value).toMap
      assert(counts === (0 until 10).map(k => s"A$k" -> 2L).toMap)
    } finally rq.stop()
  }
}
