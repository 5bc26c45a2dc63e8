package graft.controlplane

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.model.KeyedTuple
import graft.streaming.Metrics

/** What `ReconfigurableCountQuery` reports and what it leaves behind:
  * the per-keygroup load the controllers read is exact, and starting
  * or reconfiguring the pipeline changes no conf of the caller's
  * session. */
class CountQueryObservationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("rowsPerKeygroup holds the exact row count of every keygroup") {
    // a fresh session: its query manager reports this query only
    val session = spark.newSession()
    import session.implicits._
    implicit val sql = session.sqlContext
    val stream = MemoryStream[KeyedTuple]
    val rq = new ReconfigurableCountQuery(session, () => stream.toDS(),
      Files.createTempDirectory("kg-counts").toString, "kg_counts_sink")
    val collector = new Metrics.ProgressCollector
    session.streams.addListener(collector)
    // 60 keys, key i sent i % 7 + 1 times: most of the 128 keygroups
    // stay empty, and several hold more than one key
    val input = (0 until 60).flatMap(i =>
      Seq.fill(i % 7 + 1)(KeyedTuple(s"user-$i", 1L)))
    try {
      rq.start()
      stream.addData(input: _*)
      rq.processAllAvailable()
      // progress events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      def batch = collector.progresses.find(_.numInputRows > 0)
      while (batch.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(batch.isDefined, "no progress event for the data batch")
      val got = batch.get
      val counted = input.groupBy(t => KeygroupRouter.keygroup(t.key, 128))
        .map { case (kg, rows) => kg -> rows.size.toLong }
      val want = (0 until 128).map(kg => kg -> counted.getOrElse(kg, 0L)).toMap
      assert(got.numInputRows === input.size.toLong)
      assert(got.rowsPerKeygroup.keySet === (0 until 128).toSet)
      assert(got.rowsPerKeygroup === want)
      assert(got.rowsPerKeygroup.values.sum === got.numInputRows)
      assert(want.values.count(_ == 0L) > 0, "no empty keygroup exercised")
    } finally {
      rq.stop()
      session.streams.removeListener(collector)
    }
  }

  test("start, rescale and stop leave the session confs as they found them") {
    val session = spark.newSession()
    import session.implicits._
    implicit val sql = session.sqlContext
    val before = session.conf.getAll
    var stream = MemoryStream[KeyedTuple]
    val root = Files.createTempDirectory("conf-leak")
    val rq = new ReconfigurableCountQuery(session, () => stream.toDS(),
      root.toString, "conf_leak_sink", initialParallelism = 2)
    try {
      rq.start()
      assert(session.conf.getAll === before, "after start")
      stream.addData((0 until 10).map(k => KeyedTuple(s"A$k", 1L)): _*)
      rq.processAllAvailable()
      // legacy rescale: state partitions follow parallelism 2 → 8
      stream = MemoryStream[KeyedTuple]
      rq.assignResources(rq.OperatorName, 8)
      rq.execute("scale-out 2 to 8")
      stream.addData((0 until 10).map(k => KeyedTuple(s"A$k", 1L)): _*)
      rq.processAllAvailable()
      assert(session.conf.getAll === before, "after execute")
    } finally rq.stop()
    assert(session.conf.getAll === before, "after stop")
    // the rescaled generation still planned its state over 8 partitions
    val offsets = new String(Files.readAllBytes(root.resolve("gen1/offsets/0")))
    assert(offsets.contains("\"spark.sql.shuffle.partitions\":\"8\""), offsets)
    val counts = ReconfigurableCountQuery.readFileSink(session, rq.sinkDir)
      .collect().map(t => t.key -> t.value).toMap
    assert(counts === (0 until 10).map(k => s"A$k" -> 2L).toMap)
  }

  private val FileManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Start a pipeline on a fresh session, feed it one batch, and return
    * the file manager its running query's cloned session holds, with
    * the caller's confs before and after. */
  private def runWithManager(callerManager: Option[String])
      : (Option[String], Map[String, String], Map[String, String], java.nio.file.Path) = {
    val session = spark.newSession()
    import session.implicits._
    implicit val sql = session.sqlContext
    callerManager.foreach(session.conf.set(FileManagerKey, _))
    val before = session.conf.getAll
    val stream = MemoryStream[KeyedTuple]
    val root = Files.createTempDirectory("ckpt-fm")
    val rq = new ReconfigurableCountQuery(session, () => stream.toDS(),
      root.toString, "ckpt_fm_sink")
    try {
      rq.start()
      stream.addData((0 until 10).map(k => KeyedTuple(s"A$k", 1L)): _*)
      rq.processAllAvailable()
      // the session the running query cloned for itself, as its last
      // micro-batch planned with it
      val running = session.streams.active.head
        .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.sparkSession.conf.getOption(FileManagerKey)
      (running, before, session.conf.getAll, root)
    } finally rq.stop()
  }

  test("a local checkpoint root commits through LocalCheckpointFileManager") {
    val (running, before, after, root) = runWithManager(None)
    assert(running === Some(classOf[graft.streaming.LocalCheckpointFileManager].getName))
    assert(after === before)
    assert(!after.contains(FileManagerKey))
    // the WAL and the state store committed batch 0 with no temp name left
    assert(Files.exists(root.resolve("gen0/commits/0")))
    assert(Files.exists(root.resolve("gen0/state/0/0/1.delta")))
    val leftovers = Files.walk(root).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".tmp")).toList
    assert(leftovers.isEmpty, leftovers)
  }

  test("a checkpoint file manager the caller set is used unchanged and left as found") {
    val theirs = classOf[org.apache.spark.sql.execution.streaming.checkpointing
      .FileSystemBasedCheckpointFileManager].getName
    val (running, before, after, _) = runWithManager(Some(theirs))
    assert(running === Some(theirs))
    assert(after === before)
    assert(after.get(FileManagerKey) === Some(theirs))
  }
}
