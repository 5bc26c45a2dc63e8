package graft.controlplane

import java.util.concurrent.TimeUnit

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}

import graft.functions.GraftFunctions
import graft.model.KeyedTuple
import graft.streaming.{LocalCheckpointFileManager, Metrics}
import graft.streaming.Metrics.ReconfigProfiler

/** State of the reconfigurable running-count operator. `payload` is
  * ballast for the reference's state-size sweep (micro-bench.sh:137-140
  * runs 1 KiB / 10 KiB / 100 KiB per key): it rides along in the state
  * store so reconfiguration cost can be measured as a function of
  * state VOLUME — the pinned layout's zero-movement claim is exactly
  * that its cost does not grow with this field. */
case class CountState(count: Long, payload: Array[Byte] = Array.empty)

object ReconfigurableCountQuery {
  /** Serializes the session-conf-set → writeStream.start() window in
    * [[ReconfigurableCountQuery.start]] across pipelines sharing one
    * SparkSession. */
  private[controlplane] val startLock = new Object

  private val instanceIds = new java.util.concurrent.atomic.AtomicLong()

  /** THE reader contract for the pipeline's sink (the other half of
    * its at-least-once append at `sinkDir`): the sink logs
    * update-mode rows (key, value, batch_id, generation). Two kinds of
    * duplication are legal in the log —
    *  - a replayed micro-batch (failure between the parquet append and
    *    the checkpoint commit) appends the SAME rows twice;
    *  - a non-routing reconfiguration bumps the generation and starts
    *    a fresh checkpoint, so batch ids RESTART at 0 while appending
    *    to the same directory (an earlier generation may hold the
    *    numerically highest batch_id).
    * The current count per key is therefore the value at the highest
    * (generation, batch_id) — comparing by batch_id alone can resolve
    * to a stale row from a longer-lived earlier generation. */
  def readFileSink(spark: SparkSession, dir: String): Dataset[KeyedTuple] = {
    import spark.implicits._
    spark.read.parquet(dir)
      .groupBy(col("key"))
      .agg(max_by(col("value"),
        struct(col("generation"), col("batch_id"))).as("value"))
      .as[KeyedTuple]
  }
}

/** The controller-facing API — the analog of the reference's
  * `ReconfigurationExecutor` (reference
  * controlplane/streammanager/abstraction/ReconfigurationExecutor.java:45-47):
  * controllers read the plan, stage changes, and `execute()` applies
  * them atomically.
  */
trait ReconfigurationExecutor {
  def getPlan: QueryPlanDescriptor
  def assignExecutionLogic(operator: String, udfName: String): Unit
  def assignResources(operator: String, parallelism: Int): Unit
  def assignWorkload(operator: String, keygroupAssignment: Vector[Int]): Unit
  def execute(reason: String): ReconfigReport
}

/** A reconfigurable stateful pipeline: per-key running count behind the
  * control-plane API.
  *
  * The reference applies reconfigurations to *running* tasks through a
  * pause/sync/update/resume protocol
  * (flink-runtime/.../controlplane/PrimitiveOperation.java:46-129,
  * sequence StreamManager.java:371-476). In Spark the micro-batch
  * boundary *is* the synchronization barrier (SURVEY §3.2), so the
  * primitive pipeline becomes:
  *
  *  - prepare  — diff the staged plan against the running one;
  *  - sync     — stop the trigger (query.stop() between batches);
  *  - update   — state migration: read the operator state out of the
  *               old checkpoint with the `statestore` batch reader and
  *               re-feed it as `initialState` of the restarted query
  *               (the Spark-native form of key-group state migration —
  *               state is re-bucketed by the new hash partitioning on
  *               load); change-of-logic: rebind via [[UdfRegistry]];
  *               rescale: new shuffle-partition count for the new
  *               query generation;
  *  - resume   — start the new generation from the repositioned source.
  *
  * `sourceFactory` must return a stream positioned at the current head
  * (e.g. a fresh Kafka reader with group offsets, or the next
  * MemoryStream in tests) — offsets of the old generation are not
  * carried into the new checkpoint.
  *
  * @param name prefix of this instance's [[placementKey]].
  * @param reuseCheckpointOnRemap when true, a ROUTING-ONLY
  *        reconfiguration (same parallelism, same logic — only the
  *        keygroup assignment changed) restarts the query on the SAME
  *        checkpoint instead of reading and re-feeding state: the
  *        stateful exchange still hashes on the key over the same
  *        partition count, so keyed state is already where Spark needs
  *        it and the migration cost is O(0) instead of O(total state)
  *        (the reference reloads only migrated groups —
  *        ReconfigurationCoordinator.java:628-795; this is the Spark
  *        form of that cost model for the remap case). Requires
  *        `sourceFactory` to return a source that can resume from the
  *        checkpoint's recorded offsets (durable sources do; tests
  *        must return the same MemoryStream instance).
  * @param observePlacement when true, every record additionally logs
  *        its (keygroup → partition) placement to [[PlacementObserver]]
  *        so tests can assert WHERE records ran. Off by default: the
  *        per-record map-stage write is pure observation overhead, and
  *        the shared-JVM observer only sees executor writes in local
  *        mode anyway — the production data path should pay nothing.
  * @param statePartitions when set, the stateful exchange ALWAYS runs
  *        over this many partitions regardless of operator parallelism
  *        — the Spark form of Flink's fixed max-parallelism key-group
  *        indirection (state is sharded by key hash over a count that
  *        never changes; "parallelism" governs only the routed
  *        processing stage). With the layout pinned, EVERY
  *        logic-preserving reconfiguration — remap AND rescale — can
  *        resume the same checkpoint: zero state moves through the
  *        driver, vs the reference's O(migrated groups)
  *        (ReconfigurationCoordinator.java:628-795) and this class's
  *        legacy O(total state) read-and-refeed. Unset = legacy mode:
  *        state partitions follow parallelism and a rescale must
  *        re-feed state.
  * @param fileSinkDir directory of the sink (default
  *        `<checkpointRoot>/sink`, see [[sinkDir]]): each micro-batch's
  *        updates append to parquet there, stamped with the
  *        (generation, batch_id) pair, as a distributed executor-side
  *        write. Read it back with
  *        [[ReconfigurableCountQuery.readFileSink]], which owns the
  *        last-writer-wins contract (replayed batches rewrite
  *        identical rows; generation bumps restart batch ids). */
final class ReconfigurableCountQuery(
    spark: SparkSession,
    sourceFactory: () => Dataset[KeyedTuple],
    checkpointRoot: String,
    name: String,
    maxParallelism: Int = 128,
    initialParallelism: Int = 4,
    reuseCheckpointOnRemap: Boolean = false,
    observePlacement: Boolean = false,
    statePartitions: Option[Int] = None,
    fileSinkDir: Option[String] = None,
    /** Per-key state ballast in bytes (0 = none): the reference's
      * state-size sweep dimension. The legacy migration path pays for
      * it (read + re-feed scales with state volume); the pinned path
      * must not. */
    statePayloadBytes: Int = 0,
    /** Synchronize-phase barrier: `true` (default, test sources)
      * drains every available batch before stopping —
      * `processAllAvailable` never returns against a continuously
      * generating source (rate, live Kafka), so continuous pipelines
      * set `false`: stop() alone is the sync barrier there. Delivery
      * of the stop()-aborted in-flight batch then depends on the
      * reconfiguration path: on a ROUTING-ONLY one the restarted
      * query resumes the SAME checkpoint, so the uncommitted batch
      * replays (at-least-once). On a state-moving one the new
      * generation opens a FRESH checkpoint and `sourceFactory`
      * repositions the source — a durable source that resumes from
      * its own committed consumer offsets preserves at-least-once; a
      * head-positioned source (the rate source, this bench) drops
      * whatever the aborted batch had read, and the loss is bounded
      * by one trigger interval. Pin state layout (`statePartitions`)
      * to make every logic-preserving reconfiguration routing-only
      * and side-step the question entirely. */
    drainOnSync: Boolean = true)
  extends ReconfigurationExecutor {

  import spark.implicits._

  val OperatorName = "running-count"

  @volatile private var plan: QueryPlanDescriptor =
    QueryPlanDescriptor(maxParallelism, Map(OperatorName ->
      OperatorDescriptor.contiguous(OperatorName, initialParallelism,
        "countV1", maxParallelism)))
  @volatile private var staged: QueryPlanDescriptor = plan

  // Resume the highest generation already present under the
  // checkpoint root: a predecessor instance that performed non-routing
  // reconfigs left its live state in gen<N>, and an instance that
  // restarted at a hardcoded 0 would silently resume the STALE gen0
  // checkpoint while stamping sink rows generation=0 — readFileSink
  // would then prefer the dead instance's higher-generation rows.
  private val checkpointFs = new Path(checkpointRoot)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private var generation = {
    val (root, fs) = (new Path(checkpointRoot), checkpointFs)
    if (!fs.exists(root)) 0
    else fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.matches("gen\\d+") =>
        n.stripPrefix("gen").toInt }
      .foldLeft(0)(math.max)
  }
  private var query: StreamingQuery = _
  /** The last batch committed in the checkpoint when `query` started. */
  private var committedAtStart = -1L
  private var initState: Option[Dataset[(String, CountState)]] = None
  val profiler = new ReconfigProfiler

  private def checkpointDir(gen: Int) = s"$checkpointRoot/gen$gen"

  /** Where the sink's parquet lands. Inside the checkpoint root by
    * default: the generation scan above only matches `gen<N>`. */
  val sinkDir: String = fileSinkDir.getOrElse(s"$checkpointRoot/sink")

  /** Key under which THIS instance's placement observations are
    * recorded — per-instance, so two live pipelines sharing a `name`
    * cannot interleave last-writer-wins placement records. Tests read
    * placements through this. */
  val placementKey: String =
    s"$name#${ReconfigurableCountQuery.instanceIds.incrementAndGet()}"

  override def getPlan: QueryPlanDescriptor = plan

  override def assignExecutionLogic(op: String, udfName: String): Unit = {
    require(UdfRegistry.names.contains(udfName), s"unknown UDF $udfName")
    staged = staged.withOperator(staged.operators(op).copy(udfName = udfName))
  }

  override def assignResources(op: String, parallelism: Int): Unit =
    staged = staged.withOperator(
      OperatorDescriptor.contiguous(op, parallelism,
        staged.operators(op).udfName, maxParallelism))

  /** Stage a keygroup → task map. It must name a task in
    * `[0, staged parallelism)` for each of the `maxParallelism`
    * keygroups: the routing in [[start]] has no token for anything
    * else, and by then the running query is already stopped. A bad
    * vector throws here and leaves the staged plan as it was. */
  override def assignWorkload(op: String, assignment: Vector[Int]): Unit = {
    val p = staged.operators(op).parallelism
    require(assignment.length == maxParallelism,
      s"$op: assignment has ${assignment.length} entries, " +
        s"expected one per keygroup ($maxParallelism)")
    val bad = assignment.indexWhere(t => t < 0 || t >= p)
    require(bad < 0, s"$op: keygroup $bad assigned to task " +
      s"${assignment(bad)}, outside [0, $p)")
    staged = staged.withOperator(
      staged.operators(op).copy(keygroupAssignment = assignment))
  }

  /** Build and start the current generation's query. The source is
    * instrumented with per-keygroup observed metrics so controllers
    * see keygroup load per batch (Metrics.observeKeygroups), and the
    * stream physically routes through the plan's keygroup → task
    * assignment: a token-map repartition places each keygroup on its
    * assigned partition (the Spark form of the reference's mutable
    * `AssignedKeyGroupStreamPartitioner.java:33-81` — a remap staged
    * via `assignWorkload` changes where records are processed in the
    * next generation, observable through [[PlacementObserver]]). */
  def start(): Unit = ReconfigurableCountQuery.startLock.synchronized {
    val desc = plan.operators(OperatorName)
    // Two SESSION-scoped confs are read when the stream materializes at
    // writeStream.start(), so the whole set→start→restore window is
    // serialized JVM-wide: two pipelines sharing one session could
    // otherwise interleave windows and, say, bucket one pipeline's
    // state under the other's partition count.
    //  - shuffle.partitions: the pinned state layout (Flink keygroup
    //    model) or legacy follow-the-parallelism; the routed map stage
    //    always uses parallelism.
    //  - the checkpoint file manager, on a local checkpoint root whose
    //    caller has not chosen one: WAL entries and state-store files
    //    commit without a child process (see LocalCheckpointFileManager).
    // StreamExecution clones the session when start() builds it, so
    // the running query (its driver-side WAL and the executors' state
    // commits) keeps the values and the caller's keys are restored
    // right after.
    val confs = Map("spark.sql.shuffle.partitions" ->
      statePartitions.getOrElse(desc.parallelism).toString) ++
      (if (!installFileManager) Map.empty
       else Map(FileManagerKey -> classOf[LocalCheckpointFileManager].getName))
    committedAtStart = lastCommitted
    query = withSessionConfs(confs)(startQuery(desc))
  }

  private val FileManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Whether [[start]] installs [[LocalCheckpointFileManager]]: only
    * for a checkpoint root on the local checksummed file system, and
    * never over a manager the caller chose. */
  private def installFileManager: Boolean =
    spark.conf.getOption(FileManagerKey).isEmpty &&
      checkpointFs.isInstanceOf[LocalFileSystem]

  /** Run `f` with `confs` set in the caller's session, then put each
    * key back as it was: unset again when it was unset (getAll holds
    * only the explicitly set keys, where get() reports a default as if
    * it had been set). */
  private def withSessionConfs[T](confs: Map[String, String])(f: => T): T = {
    val before = spark.conf.getAll
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally confs.keys.foreach(k =>
      before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)))
  }

  private def startQuery(desc: OperatorDescriptor): StreamingQuery = {
    val logicName = desc.udfName
    val observed = Metrics
      .observeKeygroups(sourceFactory().toDF(), "key", maxParallelism)
      .as[KeyedTuple]
    // keygroup → routing token whose hash lands on the assigned partition
    val tokens = KeygroupRouter.routingTokens(desc.parallelism)
    val kgToken: Map[Int, Int] = desc.keygroupAssignment.zipWithIndex.map {
      case (task, kg) => kg -> tokens(task)
    }.toMap
    val routed = observed.repartition(desc.parallelism,
      element_at(typedLit(kgToken),
        GraftFunctions.keygroup(col("key"), maxParallelism)))
    val (tag, gen, mp) = (placementKey, generation, maxParallelism)
    val placed =
      if (!observePlacement) routed
      else routed.map { t =>
        PlacementObserver.record(tag, gen,
          KeygroupRouter.keygroup(t.key, mp),
          org.apache.spark.TaskContext.getPartitionId())
        t
      }
    val grouped = placed.groupByKey(_.key)
    val padBytes = statePayloadBytes
    val fn = (key: String, rows: Iterator[KeyedTuple],
        state: GroupState[CountState]) => {
      val logic = UdfRegistry(logicName)
      val prev = state.getOption.map(_.count).getOrElse(0L)
      val next = logic(key, prev, rows.size.toLong)
      state.update(CountState(next,
        if (padBytes == 0) Array.empty else new Array[Byte](padBytes)))
      Iterator.single(KeyedTuple(key, next))
    }
    val stream = initState match {
      case Some(init) =>
        grouped.flatMapGroupsWithState(
          OutputMode.Update, GroupStateTimeout.NoTimeout,
          init.groupByKey(_._1).mapValues(_._2))(fn)
      case None =>
        grouped.flatMapGroupsWithState(
          OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
    }
    // a foreachBatch sink, not format("parquet"): the native file sink
    // refuses update mode. Rows are stamped with (generation,
    // batch_id) — batch ids restart at 0 when a non-routing reconfig
    // opens a new generation, so readers order by the PAIR (see
    // readFileSink)
    val (dir, g) = (sinkDir, generation)
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir(generation))
      .foreachBatch { (ds: Dataset[KeyedTuple], batchId: Long) =>
        ds.withColumn("batch_id", lit(batchId))
          .withColumn("generation", lit(g))
          .write.mode("append").parquet(dir)
        ()
      }.start()
  }

  def processAllAvailable(): Unit = query.processAllAvailable()

  def stop(): Unit = if (query != null) {
    // StreamingQuery.stop() interrupts the stream thread, and an
    // interrupt between a batch's commits/N entry and its progress
    // event ends the run with the batch done but never reported: the
    // controllers' metrics and every listener miss it. So no WAL entry
    // may commit from here on (LocalCheckpointFileManager.holdCommits;
    // a writer waiting on the hold gives up once stop() has begun), and
    // a batch that already committed is given the moment it needs to
    // report (milliseconds; the deadline only bounds a stuck query).
    val (q, dir) = (query, checkpointFs.makeQualified(new Path(checkpointDir(generation))))
    LocalCheckpointFileManager.holdCommits(dir, () => !q.isActive) {
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
      def reported = Option(q.lastProgress).fold(committedAtStart)(_.batchId)
      while (q.isActive && lastCommitted > reported && System.nanoTime() < deadline)
        Thread.sleep(1)
      q.stop()
    }
  }

  /** The highest batch id in the current generation's commit log, or -1. */
  private def lastCommitted: Long = {
    val commits = new Path(checkpointDir(generation), "commits")
    if (!checkpointFs.exists(commits)) -1L
    else checkpointFs.listStatus(commits).map(_.getPath.getName)
      .collect { case n if n.nonEmpty && n.forall(_.isDigit) => n.toLong }
      .foldLeft(-1L)(math.max)
  }

  /** Read the running count state out of a checkpoint with the batch
    * `statestore` reader (key-group state migration, Spark-native). */
  def readState(checkpoint: String): Dataset[(String, CountState)] = {
    val raw = spark.read.format("statestore").load(checkpoint)
    val valueFields = raw.schema("value").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
    val prefix =
      if (valueFields.contains("groupState")) "value.groupState"
      else "value"
    // the payload ballast MUST migrate with the count — dropping it
    // would let the legacy path's measured cost shrink with exactly
    // the bytes the state-size sweep is varying
    raw.select(col("key.value").as("key"), col(s"$prefix.count").as("count"),
        col(s"$prefix.payload").as("payload"))
      .as[(String, Long, Array[Byte])]
      .map { case (k, c, p) =>
        (k, CountState(c, if (p == null) Array.empty else p)) }
  }

  /** Apply staged changes: the four primitives at the batch boundary. */
  override def execute(reason: String): ReconfigReport = {
    val before = plan
    // A controller may re-stage an assignment identical to the running
    // plan (a periodic round-robin at unchanged parallelism, a greedy
    // pack that reproduces the current layout). Applying it would
    // stop/restart the query for nothing — and the old
    // require(staged != plan) here THREW in that case, killing the
    // control loop's ticking thread on a built-in controller's second
    // fire. Report a zero-phase no-op instead.
    if (staged == plan)
      return ReconfigReport(reason + " [no-op: staged == running plan]",
        Map.empty, before, plan)
    // the profiler accumulates for the run's life (the reference's
    // cumulative ReconfigurationProfiler); a ReconfigReport documents
    // ONE reconfiguration, so it carries the delta from here
    val phaseSnap = profiler.snapshotNs
    var routingOnly = false
    profiler.time("prepare") {
      val (s, p) = (staged.operators(OperatorName), plan.operators(OperatorName))
      // the checkpoint can be resumed whenever the keyed-state layout
      // is unchanged: always true with a pinned statePartitions (remap,
      // rescale, and change-of-logic all keep state in place — the
      // flatMapGroupsWithState function is rebound on restart); in
      // legacy mode only a same-parallelism same-logic remap qualifies
      routingOnly = reuseCheckpointOnRemap && (statePartitions.isDefined ||
        (s.parallelism == p.parallelism && s.udfName == p.udfName))
    }
    profiler.time("synchronize") {
      if (drainOnSync) query.processAllAvailable() // drain = sync barrier
      stop()
    }
    if (!routingOnly) {
      profiler.time("updateState") {
        val st = readState(checkpointDir(generation)).cache()
        st.count() // materialize before the old checkpoint goes stale
        // release the PREVIOUS generation's snapshot before replacing
        // it — without this every legacy reconfiguration leaks one
        // cached full-state Dataset for the life of the run
        initState.foreach(_.unpersist(blocking = false))
        initState = Some(st)
      }
    }
    // NOTE a routing-only reconfiguration deliberately KEEPS the
    // current initState: if the generation's checkpoint has committed
    // state, the resuming query ignores initial state (so a kept
    // snapshot is harmless); if the routing-only restart lands BEFORE
    // the generation's first commit, the re-attached snapshot is
    // exactly the state the fresh checkpoint still needs. Dropping it
    // here would lose state in that window.
    profiler.time("updateKeyMapping") {
      plan = staged
      // routing-only: same generation ⇒ same checkpoint ⇒ state stays
      // in place and the restarted query resumes its offsets
      if (!routingOnly) generation += 1
    }
    profiler.time("resume") {
      start()
    }
    ReconfigReport(reason, profiler.reportMsSince(phaseSnap), before, plan)
  }
}
