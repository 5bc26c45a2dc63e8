package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.EventSemantics

/** Replay of the driver's `events` table through Structured Streaming,
  * plus the streaming forms of the windowed event queries (SURVEY §2.6).
  * The transforms are the same DataFrame expressions as the batch twins
  * in EventQueries — one definition of query semantics, two execution
  * modes.
  */
object EventStream {

  /** Streaming read of the events table (file-replay source — the
    * analog of the reference's SSERealRateSourceFunction file replay,
    * stock/sources/SSERealRateSourceFunctionKV.java:14-100).
    *
    * Schema-adaptive like Tables.events: the file's footer supplies the
    * streaming schema (`Tables.openEvents`, no Spark job), and the ns→µs
    * shim is applied only when the file's `ts` loads as long (old
    * TIMESTAMP(NANOS) testdata); current timestamp[us] files stream
    * through untouched. */
  def readStream(spark: SparkSession, dir: String): DataFrame = {
    val fileSchema = graft.Tables.openEvents(spark, s"$dir/events.parquet").schema
    val raw = spark.readStream
      .schema(fileSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(ReplayStaging.stage(s"$dir/events.parquet"))
    // ONE shim for both readers: the batch loader and this streaming
    // reader must stay vintage-for-vintage identical or the
    // batch/stream parity tests compare different instants
    graft.Tables.tsShim(raw)
  }

  private val wm: DataFrame => DataFrame = _.withWatermark("ts", "0 seconds")

  /** Streaming hourly tumbling counts (Q5 analog): the SHARED
    * [[EventSemantics.tumblingHourly]] core under a watermark — one
    * expression tree with the oracle-gated batch twin (the previous
    * hand copy here had silently dropped the `total` column). */
  def tumblingHourly(events: DataFrame): DataFrame =
    EventSemantics.tumblingHourly(wm(events))

  /** Streaming session windows per user (Q11 built-in variant) —
    * shared core under a watermark. */
  def sessions(events: DataFrame): DataFrame =
    EventSemantics.sessions(wm(events))

  /** Windowed stream-stream join (Q8 analog; reference
    * Query8.java:101-120): shared core with a per-side watermark prep
    * (built-in SS stream-stream join needs one on each input). */
  def windowJoin(events: DataFrame): DataFrame =
    EventSemantics.windowJoin(events, wm)

  /** Stream-static dimension join (Nexmark Q3 as stream⋈table): the
    * static customer dim is broadcast into every micro-batch — no
    * state, no watermark needed; shared core with the batch twin. At
    * scale the dim re-broadcasts per batch; a slowly-changing dim
    * would swap in via the per-batch supplier pattern
    * (DynamicRules.streaming). */
  def dimJoin(events: DataFrame, spark: SparkSession,
      dir: String): DataFrame =
    EventSemantics.dimJoin(events, graft.Tables.customer(spark, dir))

  /** Time-interval stream-stream join (Flink interval-join analog):
    * shared core with per-side watermarks; the 30-minute bound
    * doubles as the state-eviction constraint — each side's buffered
    * rows are dropped once the other side's watermark passes the
    * interval, so join state is bounded by rate × 30 min, not by
    * history. */
  def intervalJoin(events: DataFrame): DataFrame =
    EventSemantics.intervalJoin(events, wm)
}
