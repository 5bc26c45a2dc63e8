package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming forms of the exact-dedup operator: the corpus arrives as
  * a stream and each content digest is emitted once — the ingestion
  * shape of a continuously-fed training-data pipeline (batch form:
  * [[graft.operators.DedupQueries.exactDedup]]).
  *
  * State = one row per distinct digest, sharded by the digest hash
  * (the same one-shuffle layout as the batch groupBy). For unbounded
  * streams the watermarked variant bounds that state: digests older
  * than the event-time watermark are evicted, trading unbounded
  * history for bounded memory — the standard configuration when the
  * dedup horizon is a retention window rather than all of time.
  */
object DedupStream {

  /** File-replay stream of the documents table (staged via
    * [[ReplayStaging]], cleaned up at JVM shutdown). The streaming
    * schema comes from the file's footer (`Tables.open`) — the same
    * vintage-adaptive pattern as [[EventStream.readStream]] — rather
    * than a hand-written StructType that would silently drift from
    * the generator (exactly how the events.ts vintage change broke
    * r7's hardcoded shim). */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(graft.Tables.open(spark, s"$dir/documents.parquet").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(ReplayStaging.stage(s"$dir/documents.parquet"))

  /** One row per distinct content digest, first arrival wins.
    * Unbounded state — exact over all time. */
  def dedupByDigest(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
      .dropDuplicates("digest")

  /** Chunk-level online dedup — the incremental-ingestion form of the
    * batch chunk pipeline: each arriving document is cut into
    * overlapping token windows ([[graft.operators.CurationQueries
    * .chunkTransform]], a pure map that streams untouched) and a
    * chunk is emitted only the first time its md5 is seen. State is
    * one row per distinct chunk digest, sharded by digest hash —
    * exactly the batch groupBy layout, so a 1000-executor cluster
    * spreads both the chunking (narrow) and the dedup state (one
    * shuffle) evenly. */
  def chunkDedup(docs: DataFrame): DataFrame =
    graft.operators.CurationQueries.chunkTransform(docs)
      .dropDuplicates("chunk_md5")

  /** Watermark-bounded dedup over the events stream: duplicate
    * (user_id, event_type) arrivals inside the watermark horizon are
    * suppressed; state older than the horizon is evicted. */
  def dedupEventsWithinWatermark(events: DataFrame,
      slack: String): DataFrame =
    events
      .withWatermark("ts", slack)
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
}
