package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.functions.GraftFunctions

/** Observability surface (SURVEY §2.10).
  *
  * The reference publishes per-epoch true processing rate/utilization
  * from a task-side MetricsManager (reference
  * flink-runtime/.../util/profiling/KafkaMetricsManager.java:185-250)
  * and measures end-to-end latency with periodic latency markers logged
  * at the sink (Nexmark/sinks/DummyLatencyCountingSink.java:30-47).
  *
  * Spark-side: `StreamingQueryListener` progress events already carry
  * processedRowsPerSecond and batch durations (the per-epoch rate
  * analog); latency ≈ per-batch `now − max(event ts seen)` captured in
  * `foreachBatch` (no marker mechanism exists in Structured Streaming).
  */
object Metrics {

  case class BatchProgress(batchId: Long, numInputRows: Long,
      processedRowsPerSecond: Double, durationMs: Long,
      rowsPerKeygroup: Map[Int, Long] = Map.empty,
      /** end-to-end latency: batch completion wallclock − max source
        * event time seen in the batch (needs [[observeSourceTs]]). */
      latencyMs: Option[Long] = None,
      /** keyed-state footprint after the batch (sum over stateful
        * operators): row count and store memory — the join/agg
        * state-size curve of the reference's numRecordsIn*-style state
        * metrics. */
      stateRows: Long = 0L,
      stateBytes: Long = 0L,
      /** the owning StreamingQuery run — a restart opens a new runId,
        * which is the explicit marker for "this run's first batch paid
        * checkpoint reload/replay" (batch-id continuity alone misses
        * the committed-boundary case). */
      runId: String = "",
      /** source ARRIVAL rate (rows / wall time since the previous
        * batch): the λ estimator for scaling policies — rows/duration
        * is the processing throughput, which overstates demand on
        * every catch-up batch. −1 when Spark reports none (first batch
        * of a run). */
      inputRowsPerSecond: Double = -1.0,
      /** rows that survived a generator-side drop stage (needs
        * [[observeEmitted]]): a sine-modulated source reads at the
        * curve's PEAK and discards inside a flatMap, so numInputRows
        * counts pre-drop source rows — a throughput summary built on
        * it would overstate the offered workload ~2×. None when no
        * emitted observation is attached. */
      emittedRows: Option[Long] = None,
      /** batch-completion wall clock (listener-stamped): lets a
        * controller measure OFFERED rate over a multi-window span
        * (Σrows / wall span) — per-window rate samples are hopelessly
        * noisy under queued triggers, where Spark's inputRowsPerSecond
        * divides normal rows by a near-zero trigger interval (observed
        * 5.4M "rows/s" on a 60k source). −1 when unavailable
        * (hand-built test fixtures). */
      wallMs: Long = -1L)

  /** Per-keygroup load instrumentation, the analog of the reference's
    * per-key-group rate metrics (KafkaMetricsManager.java:242-250):
    * `observe()` attaches one aggregate to the streaming plan that
    * counts rows per keygroup into an `array<bigint>` of `groups`
    * entries, and the listener reads it back per batch from
    * `observedMetrics` — Spark's native task→driver metrics channel.
    * The keygroup is computed once per row and counted by one
    * aggregate. */
  val KeygroupMetricName = "keygroups"

  /** Rows per keygroup in a primitive array indexed by keygroup; the
    * input is a keygroup in `[0, groups)`. */
  private final class KeygroupCounts(groups: Int)
      extends Aggregator[Int, Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](groups)
    def reduce(buf: Array[Long], kg: Int): Array[Long] = {
      buf(kg) += 1
      buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < groups) { a(i) += b(i); i += 1 }
      a
    }
    def finish(buf: Array[Long]): Array[Long] = buf
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  def observeKeygroups(df: DataFrame, keyCol: String,
      groups: Int): DataFrame =
    df.observe(KeygroupMetricName,
      udaf(new KeygroupCounts(groups), Encoders.scalaInt)(
        GraftFunctions.keygroup(col(keyCol), groups)).as("rows"))

  /** Source-timestamp observation for end-to-end latency: the marker
    * the reference's DummyLatencyCountingSink derives latency from is
    * the record's ingest time; Spark's rate source stamps rows at
    * generation, so `batch completion − max(source ts)` at the
    * listener is the same sink-side latency without touching the
    * operator under test. */
  val SourceTsMetricName = "source_ts"

  def observeSourceTs(df: DataFrame, tsCol: String): DataFrame =
    df.observe(SourceTsMetricName, max(col(tsCol)).as("max_ts"))

  /** Count of rows at the observation POINT — attach after a
    * generator-side drop stage (sine modulation) so throughput
    * summaries report the rows the query was actually offered, not
    * the peak-rate source reads ([[BatchProgress.emittedRows]]). */
  val EmittedMetricName = "graft_emitted"

  def observeEmitted[T](ds: org.apache.spark.sql.Dataset[T])
      : org.apache.spark.sql.Dataset[T] =
    ds.observe(EmittedMetricName, count(lit(1)).as("n"))

  /** Collects per-batch progress — the MetricsManager analog. */
  final class ProgressCollector extends StreamingQueryListener {
    // indexed buffer (not a linked queue): pollers page the TAIL via
    // progressesFrom in O(new records), where repeatedly copying/
    // dropping a linked history was O(history) per tick — O(n²)
    // cumulative for a long-lived control loop
    private val buf = scala.collection.mutable.ArrayBuffer[BatchProgress]()
    def progresses: List[BatchProgress] = buf.synchronized { buf.toList }
    /** Number of records collected so far — the paging cursor for
      * [[progressesFrom]]. */
    def size: Int = buf.synchronized { buf.length }
    /** The records from index `from` (inclusive). */
    def progressesFrom(from: Int): List[BatchProgress] =
      buf.synchronized {
        if (from >= buf.length) Nil
        else buf.view.slice(from, buf.length).toList
      }

    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val kg = Option(p.observedMetrics.get(KeygroupMetricName))
        .map(_.getSeq[Long](0).zipWithIndex.map(_.swap).toMap)
        .getOrElse(Map.empty[Int, Long])
      val latency = Option(p.observedMetrics.get(SourceTsMetricName))
        .filter(r => !r.isNullAt(0))
        .map { r =>
          val maxTsMs = r.getTimestamp(0).getTime
          val endMs = java.time.Instant.parse(p.timestamp).toEpochMilli +
            p.batchDuration
          endMs - maxTsMs
        }
      val emitted = Option(p.observedMetrics.get(EmittedMetricName))
        .filter(r => !r.isNullAt(0))
        .map(_.getLong(0))
      val bp = BatchProgress(p.batchId, p.numInputRows,
        p.processedRowsPerSecond, p.batchDuration, kg, latency,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum,
        p.runId.toString,
        if (p.inputRowsPerSecond.isNaN) -1.0 else p.inputRowsPerSecond,
        emitted,
        System.currentTimeMillis())
      buf.synchronized { buf += bp }
    }
  }

  case class LatencySample(batchId: Long, rows: Long, latencyMs: Long)

  /** Latency-counting sink: a `foreachBatch` function recording
    * `now − max(tsCol)` per micro-batch — the
    * DummyLatencyCountingSink analog. Samples are accumulated
    * driver-side (same as the reference's sink-side logging). */
  final class LatencySink(tsCol: String) extends Serializable {
    val samples = new ConcurrentLinkedQueue[LatencySample]()
    def apply(df: DataFrame, batchId: Long): Unit = {
      val agg = df.agg(count(lit(1)), max(col(tsCol))).collect()(0)
      val rows = agg.getLong(0)
      if (rows > 0 && !agg.isNullAt(1)) {
        val maxTs = agg.getTimestamp(1).getTime
        samples.add(LatencySample(batchId, rows,
          System.currentTimeMillis() - maxTs))
      }
    }
    def all: List[LatencySample] = samples.asScala.toList
  }

  /** Reconfiguration-phase timer log — ReconfigurationProfiler analog
    * (reference util/profiling/ReconfigurationProfiler.java:31-90):
    * named phase timers accumulated per reconfiguration. */
  final class ReconfigProfiler {
    private val timers =
      scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def time[T](phase: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body
      finally timers.updateWith(phase) {
        case Some(acc) => Some(acc + (System.nanoTime() - t0))
        case None => Some(System.nanoTime() - t0)
      }
    }
    def reportMs: Map[String, Double] =
      timers.map { case (k, ns) => k -> ns / 1e6 }.toMap

    /** Cumulative totals snapshot (pair with [[reportMsSince]]). */
    def snapshotNs: Map[String, Long] = timers.toMap

    /** Phase times of ONE reconfiguration: the delta against a
      * snapshot taken at its start. Phases with zero delta are
      * ABSENT — so a routing-only reconfiguration that runs after a
      * state-moving one reports no `updateState` entry, which is the
      * exact property the zero-state-movement assertions check.
      * (reportMs alone is cumulative across the profiler's life and
      * inflates every report from the second reconfiguration on.) */
    def reportMsSince(snap: Map[String, Long]): Map[String, Double] =
      timers.collect {
        case (k, ns) if ns - snap.getOrElse(k, 0L) > 0 =>
          k -> (ns - snap.getOrElse(k, 0L)) / 1e6
      }.toMap
  }
}
