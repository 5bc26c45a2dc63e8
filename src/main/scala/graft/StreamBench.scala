package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.{Bid, KeyedTuple, Order, Rule}
import graft.operators.EntityResolution
import graft.sources.NexmarkSources
import graft.streaming.{Metrics, RulesTws, StatefulOps, StateLoader,
  SymmetricJoin, TransformWithStateOps}

/** The streaming bench: every streaming workload the repo measures, as
  * one table of legs run under one protocol — the reference's
  * micro-bench configuration (scripts/trisk_reconfig/micro-bench.sh:
  * 74-117: aggregate rate 60 000 ev/s over 10 000 keys with 1/10/100
  * KiB state per key), then the operator suites at the same offered
  * rate, then Nexmark at its published source configuration.
  *
  * Each leg runs from a fresh rate source on a fresh [[Bench.session]]
  * for `seconds` and reports per-batch throughput, batch-duration
  * percentiles, and END-TO-END latency percentiles (batch completion −
  * max source timestamp, the reference's sink-side latency-marker
  * metric — Nexmark DummyLatencyCountingSink.java:30-47, analyzed by
  * scripts/analysis/performance_analyzer.py:5-42 as a latency curve).
  *
  * All legs share ONE JVM — [[BenchSweep]]'s rationale applied to the
  * rate harnesses: one JVM per leg re-pays a 16 GiB pre-touch on a host
  * whose first-touch fault path intermittently degrades ~100×. Every leg
  * runs under [[StreamGuard]]'s probe/steal/history brackets, so a
  * contaminated leg self-reports `flagged` in its record. Between legs
  * the session is stopped and the next one rebuilds a local context in
  * the same warmed JVM (~2 s, untimed — the pre-leg probe runs after
  * the rebuild).
  *
  * Usage: runMain graft.StreamBench <outDir> [secondsPerLeg=45] [legs=all]
  *   legs: `all`, or comma-separated leg names (a flagged leg's
  *   standalone re-run); each leg's record goes to `<outDir>/<leg>.json`
  */
object StreamBench {

  final case class Percentiles(p50: Long, p95: Long, p99: Long)

  /** What [[measure]] reads off one query's progress events. */
  final case class StepResult(rowsPerSec: Double, batches: Int,
      totalRows: Long, busyFraction: Double, durationMs: Percentiles,
      latencyMs: Percentiles, stateRowsEnd: Long, stateBytesMax: Long)

  /** One leg's record: its fixed workload constants plus the facts its
    * setup learned (`config`), the measurement, and the guard stamp. */
  final case class Record(leg: String, seconds: Int,
      config: Map[String, Any], result: StepResult,
      guard: StreamGuard.Stamp)

  /** A leg's untimed setup: `start` launches the query the guard
    * measures; `facts` reads the leg-specific counts after it stopped. */
  final case class Setup(start: () => StreamingQuery,
      facts: () => Map[String, Any] = () => Map.empty)

  /** One bench leg: its guard name (the key of its history rate in
    * tools/stream_history.json), its fixed workload constants, whether
    * its session needs the RocksDB state store, and its setup. */
  final case class Leg(name: String, config: ListMap[String, Any],
      rocksDb: Boolean = false)(val setup: SparkSession => Setup)

  // the reference micro-bench's offered rate and key space
  // (micro-bench.sh:74,100-106)
  private val Rate = 60000
  private val Keys = 10000
  private val RuleCount = 10
  private val Securities = 1000
  private val WarmOrders = 10 * Rate
  // Nexmark source (Query1.java:52-55, Query5.java:66-69): the sine
  // curve's mean rate and period
  private val Amplitude = 100000
  private val CycleSec = 60
  // Q3 runs the reference's own two-stream rates (Query3.java:60-62),
  // constant not sine: 20k auctions/s + 10k persons/s
  private val AuctionRate = 20000
  private val PersonRate = 10000

  private def pct(xs: Seq[Long], q: Double): Long =
    if (xs.isEmpty) -1
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.ceil(q * s.length).toInt - 1).max(0))
    }

  private def percentiles(xs: Seq[Long]) =
    Percentiles(pct(xs, 0.50), pct(xs, 0.95), pct(xs, 0.99))

  /** Measure ANY streaming query for `seconds`: attach a fresh
    * progress listener, start the query via `startQuery`, run, stop,
    * summarize rates + duration/latency percentiles. */
  private[graft] def measure(spark: SparkSession, seconds: Int)(
      startQuery: => StreamingQuery): StepResult = {
    val collector = new Metrics.ProgressCollector
    spark.streams.addListener(collector)
    val q = startQuery
    val t0 = System.nanoTime()
    Thread.sleep(seconds * 1000L)
    q.stop()
    // a query that DIED mid-run must fail the bench loudly: stop() on
    // a terminated query is a no-op and the pre-crash batches would
    // otherwise summarize into a plausible-looking (low) result
    q.exception.foreach(e => throw new IllegalStateException(
      s"streaming query failed mid-measure: ${e.message}", e))
    val wallSec = (System.nanoTime() - t0) / 1e9
    spark.streams.removeListener(collector)
    // filter to THIS query's runId: the listener bus is asynchronous,
    // so back-to-back queries on one session can otherwise leak a
    // still-in-flight final batch into the NEXT measurement's collector
    val runId = q.runId.toString
    val ps = collector.progresses
      .filter(p => p.runId == runId && p.numInputRows > 0)
    // when an emitted-rows observation is attached (sine-modulated
    // sources drop rows AFTER the source, so numInputRows counts the
    // peak-rate reads), rate and totals come from the emitted counts —
    // the rows the query was actually offered
    def rows(p: Metrics.BatchProgress): Long =
      p.emittedRows.getOrElse(p.numInputRows)
    // both modes share ONE denominator — Spark's processing-time rate
    // — with the emitted mode scaling it by the post-drop row share.
    // The previous emitted path divided by total batch duration
    // (trigger time incl. planning/commit), which made sine-modulated
    // and plain benches report slightly incomparable throughput and
    // silently fell back to the peak-rate figure on a durationMs==0
    // batch.
    // (ps is already filtered to numInputRows > 0, so the ratio's
    // denominator is never zero here)
    val rps = ps.map(p =>
      if (p.emittedRows.isDefined)
        p.processedRowsPerSecond * (rows(p).toDouble / p.numInputRows)
      else p.processedRowsPerSecond)
    val durs = ps.map(_.durationMs)
    StepResult(
      if (rps.nonEmpty) rps.sum / rps.size else 0.0,
      ps.size, ps.map(rows).sum,
      // busy = executed-batch time over the measured window only; t0
      // is taken AFTER startQuery returns so seconds of query planning
      // / state-store init don't deflate the fraction
      durs.sum / 1000.0 / wallSec,
      percentiles(durs), percentiles(ps.flatMap(_.latencyMs)),
      ps.lastOption.map(_.stateRows).getOrElse(0L),
      if (ps.isEmpty) 0L else ps.map(_.stateBytes).max)
  }

  private def rateSource(spark: SparkSession, rowsPerSecond: Int)
      : DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()

  private def noop(ds: Dataset[_], mode: String): StreamingQuery =
    ds.writeStream.format("noop").outputMode(mode).start()

  // ---------------------------------------------------------------- micro

  /** The payload-state operator at the reference's offered rate. */
  private def micro(spark: SparkSession, perKeyBytes: Int): StreamingQuery = {
    import spark.implicits._
    val tuples = Metrics.observeSourceTs(rateSource(spark, Rate), "timestamp")
      .select(col("value"))
      .as[Long]
      .map(v => KeyedTuple(s"A${v % Keys}", 1L))
    noop(StatefulOps.statefulPayload(tuples, perKeyBytes), "update")
  }

  // ------------------------------------------------------------------- ER

  /** Streaming entity resolution: the online record-linkage path
    * ([[EntityResolution.bestMatchStream]] — batch-built bounded name
    * model, broadcast; each micro-batch ONE stateless hash join), so
    * the online-linkage claim carries a measured number.
    *
    * The stream replays the corpus's dirty registry (collected once,
    * cycled by the rate source's value counter) — every record
    * exercises the signature model exactly like the batch twin's input
    * distribution. Corpus dir from [[Bench.sfDir]]. */
  private def erStream(spark: SparkSession): Setup = {
    import spark.implicits._
    val dir = Bench.sfDir
    // the replayed record set: the registry's (id, corrupted-name)
    // rows, the batch twin's exact input distribution
    val replay = Tables.customer(spark, dir)
      .select(col("c_custkey"),
        expr(EntityResolution.dirtyNameSqlForProbe).as("dname"))
      .as[(Long, String)].collect()
    require(replay.nonEmpty, s"empty registry at $dir")
    Setup(
      () => {
        val stream = Metrics.observeSourceTs(rateSource(spark, Rate), "timestamp")
          .select(col("value")).as[Long]
          .map { v =>
            val r = replay((v % replay.length).toInt)
            (r._1, r._2)
          }
          .toDF("src_id", "dname")
        noop(EntityResolution.bestMatchStream(stream, spark, dir), "append")
      },
      () => Map("registry_rows" -> replay.length))
  }

  // ---------------------------------------------------------------- rules

  /** N ACTIVE rules over 1-minute windows: a spread of agg types and
    * key columns, limits placed so a realistic fraction actually
    * fires (alerts flowing — the evaluator's full output path works,
    * not just its aggregation). */
  private def mkRules(n: Int): Seq[Rule] =
    (1 to n).map { i =>
      val agg = Seq("SUM", "AVG", "MIN", "MAX")(i % 4)
      val keys = if (i % 3 == 0) Seq("event_type") else Seq("user_id")
      val (op, lim) = agg match {
        case "SUM" => (">", BigDecimal(200))  // fires on hot keys
        case "AVG" => ("<=", BigDecimal(50))  // ~half the value range
        case "MIN" => ("<", BigDecimal(5))
        case "MAX" => (">=", BigDecimal(95))
      }
      Rule(i, "ACTIVE", keys, "value", agg, op, lim, 1)
    }

  private def events(spark: SparkSession): DataFrame =
    Metrics.observeSourceTs(rateSource(spark, Rate), "timestamp")
      .select(col("timestamp").as("ts"),
        (col("value") % Keys).as("user_id"),
        concat(lit("t"), col("value") % 7).as("event_type"),
        ((col("value") % 1000).cast("double") / 10.0).as("value"))

  /** The rules engine, both evaluators from the same rate source with
    * the same N ACTIVE rules — the checkpointed transformWithState
    * engine ([[RulesTws]], the reference's managed-keyed-state
    * semantics) and the foreachBatch accumulator twin
    * ([[graft.operators.DynamicRules.streaming]], the
    * plan-regeneration demonstration) — so the semantic upgrade
    * (restart-durable window state) carries a measured cost beside its
    * twin. Each event fans out to one observation per ACTIVE rule, so
    * the TWS engine's internal row rate is rate × rules. */
  private def rules(tws: Boolean)(spark: SparkSession): Setup = {
    val ruleSet = mkRules(RuleCount)
    val alerts = new AtomicLong
    Setup(
      () =>
        if (tws)
          RulesTws.alerts(events(spark), () => ruleSet)
            .writeStream
            .outputMode("append")
            .option("checkpointLocation",
              Files.createTempDirectory("rules-bench-ckpt").toString)
            .foreachBatch {
              (b: Dataset[graft.streaming.RuleAlert], _: Long) =>
                alerts.addAndGet(b.count()): Unit
            }
            .start()
        else
          graft.operators.DynamicRules.streaming(events(spark), () => ruleSet,
            (a, _) => alerts.addAndGet(a.count()): Unit),
      () => Map("alerts" -> alerts.get))
  }

  // ---------------------------------------------------------------- order

  /** A mixed buy/sell order across a moving price band, so the book
    * continuously matches. */
  private def orderOf(v: Long, nSecs: Int): Order = {
    // price cycles on v / nSecs (the per-security sequence number),
    // NOT on raw v: with a raw modulus that divides nSecs, every order
    // of a given security got ONE constant price — the per-price
    // MapState under test held a single entry per key and the
    // dual-pool state shape was never exercised
    val price = 10000 + ((v / nSecs) % 50).toInt - 25
    Order(orderNo = v.toString, tranMaintCode = "A",
      lastUpdTime = "09:30:00", orderPriceCents = price,
      orderExecVol = 0, orderVol = 100,
      secCode = s"S${v % nSecs}",
      tradeDir = if ((v / nSecs) % 2 == 0) "B" else "S")
  }

  /** The order stream from sequence number `offset` on. End-to-end
    * latency percentiles need the source-timestamp observation (batch
    * completion − max source ts, the DummyLatencyCountingSink metric
    * every other stream row carries). */
  private def orders(spark: SparkSession, offset: Long): Dataset[Order] = {
    import spark.implicits._
    Metrics.observeSourceTs(rateSource(spark, Rate), "timestamp")
      .select(col("value")).as[Long]
      .map(v => orderOf(v + offset, Securities))
  }

  /** Either matching implementation:
    *  - `fmgws` — [[graft.operators.OrderBook.streaming]], whole book
    *    serialized per key per batch;
    *  - `tws`   — [[TransformWithStateOps.orderBook]], per-price
    *    MapState (the reference's dual-pool state shape). */
  private def orderBook(tws: Boolean)(spark: SparkSession): Setup =
    Setup(() => noop(
      if (tws) TransformWithStateOps.orderBook(orders(spark, 0L))
      else graft.operators.OrderBook.streaming(orders(spark, 0L)),
      "append"))

  /** Warm-start leg — the StateLoader path end-to-end (reference
    * stock/StateLoader.java:25-128): replay a prefix of the order day
    * into a persisted book snapshot, then start the TWS matcher FROM
    * that snapshot (initial-state channel) and measure the live
    * stream's throughput against orders that CONTINUE the sequence.
    * The snapshot build is reported separately (it is the offline
    * job), the streamed rate is the warm matcher's: the guard brackets
    * only the LIVE stream window, never the build. */
  private def orderBookWarm(spark: SparkSession): Setup = {
    import spark.implicits._
    val prefix = spark.range(0L, WarmOrders.toLong).as[Long]
      .map(v => orderOf(v, Securities))
    val snapDir =
      Files.createTempDirectory("orderbook-snap").toString + "/books"
    val t0 = System.nanoTime()
    StateLoader.save(StateLoader.snapshotFromReplay(prefix), snapDir)
    val snapSec = (System.nanoTime() - t0) / 1e9
    val snapshot = StateLoader.load(spark, snapDir)
    val resting = snapshot
      .map(b => (b.buys.size + b.sells.size).toLong).reduce(_ + _)
    Setup(
      () => noop(TransformWithStateOps.orderBookWarm(
        orders(spark, WarmOrders.toLong), snapshot), "append"),
      () => Map("snapshot_build_sec" -> snapSec,
        "resting_orders" -> resting))
  }

  // -------------------------------------------------------------- Nexmark
  //
  // What `latency_ms` measures for these legs, precisely: batch
  // completion wallclock minus the newest SOURCE timestamp the batch
  // ingested — i.e. input processing recency. For the stateless per-row
  // queries (Q1/Q2) every ingested row is emitted in its batch, so this
  // coincides with the reference's sink-side per-record latency
  // (DummyLatencyCountingSink.java:41-47). For the stateful queries it
  // does NOT: Q5's windows emit only after the watermark passes the
  // window end and Q11's sessions only after a gap timeout, so their
  // output-record latency is the recency figure PLUS the window/gap
  // wait — and a run whose sessions never close reports healthy
  // recency with near-zero sink output. Read `latency_ms` for Q5/Q11
  // as "how far processing lags the source", not "how stale an emitted
  // result is".

  /** Sine-modulated WALLCLOCK bid stream: offered rate follows
    * (sin(2π·epoch/cycle)+1)·amplitude, i.e. 0..2·amplitude with mean
    * amplitude. The rate source runs at the curve's peak
    * (2·amplitude rows/s) with real ingest timestamps, and each
    * one-second epoch keeps the sine-sized prefix of its sequence
    * range — the same deterministic curve as
    * [[NexmarkSources.bidStreamSine]], but event times are wallclock
    * so the watermarked windows and the end-to-end latency metric
    * measure real elapsed time, not generator time. */
  private def sineBids(spark: SparkSession, base: Int, amplitude: Int,
      cycleSec: Int): Dataset[Bid] = {
    import spark.implicits._
    val peak = base + 2 * amplitude
    // observeEmitted AFTER the sine drop: numInputRows counts the
    // peak-rate source reads (2·amplitude rows/s), so without it the
    // reported "sustained rate" would be ~2× the offered mean and
    // insensitive to the very curve this bench exists to exercise
    Metrics.observeEmitted(
      Metrics.observeSourceTs(rateSource(spark, peak), "timestamp")
        .select(col("timestamp"), col("value"))
        .as[(Timestamp, Long)]
        .flatMap { case (ts, i) =>
          // peak rows arrive per epoch second -> epoch = i / peak
          if (NexmarkSources.sineKeep(base, amplitude, cycleSec,
              i / peak, i % peak))
            Iterator.single(NexmarkSources.bidAt(i).copy(dateTime = ts))
          else Iterator.empty
        })
  }

  /** Q1 — currency conversion map (Query1.java:83-85): stateless
    * per-record arithmetic, the pure pipeline-overhead measurement.
    * Same truncating `(long)(0.82 * price)` constant as the
    * oracle-gated twin ([[graft.operators.EventQueries]] e1). */
  private def q1(b: Dataset[Bid]) =
    b.select(col("auction"), col("bidder"),
      floor(col("price") * 0.82).cast("long").as("price_eur"),
      col("dateTime"))

  /** Q2 — selection (Query2.java): bids on a sparse auction subset. */
  private def q2(b: Dataset[Bid]) =
    b.filter(col("auction") % 123 === 0)
      .select(col("auction"), col("price"))

  /** Q3 — the reference's two-stream config (Query3.java:60-62:
    * auctions at srcRate, persons at srcRate/2) through the unbounded
    * incremental symmetric join. Latency is observed on the auction
    * side (the volume-dominant stream; one observation per query —
    * the metric name is shared). Join-state growth (person cache +
    * pending-auction buffers for sellers whose person never passes
    * the state filter — same accumulation as the reference's MapState
    * buffer) is reported via the state-rows/bytes columns. */
  private def q3(spark: SparkSession, aRate: Int, pRate: Int) = {
    import spark.implicits._
    val auctions = Metrics.observeSourceTs(rateSource(spark, aRate), "timestamp")
      .select(col("value")).as[Long]
      .map(i => NexmarkSources.auctionAt(i))
    val persons = rateSource(spark, pRate)
      .select(col("value")).as[Long]
      .map(i => NexmarkSources.personAt(i))
    SymmetricJoin.join(persons, auctions)
  }

  /** Q5 — hot items (Query5.java): sliding-window bid counts per
    * auction; scaled to seconds like the reference's micro configs. */
  private def q5(b: Dataset[Bid]) =
    b.withWatermark("dateTime", "2 seconds")
      .groupBy(window(col("dateTime"), "10 seconds", "2 seconds"),
        col("auction"))
      .agg(count(lit(1)).as("bids"))

  /** Q11 — user sessions (Query11.java): per-bidder session windows
    * (5 s gap), append on watermark close. */
  private def q11(b: Dataset[Bid]) =
    b.withWatermark("dateTime", "2 seconds")
      .groupBy(session_window(col("dateTime"), "5 seconds"), col("bidder"))
      .agg(count(lit(1)).as("bids"))

  private def nexmark(name: String, query: Dataset[Bid] => Dataset[_],
      mode: String): Leg =
    Leg(s"nexmark_$name",
      ListMap("rate" -> Amplitude, "cycle_sec" -> CycleSec)) { spark =>
      Setup(() =>
        noop(query(sineBids(spark, base = 0, Amplitude, CycleSec)), mode))
    }

  // ------------------------------------------------------------ the table

  private val rulesConfig =
    ListMap("rate" -> Rate, "keys" -> Keys, "rules" -> RuleCount)
  private val orderConfig = ListMap("rate" -> Rate, "securities" -> Securities)

  /** Every leg, in run order; names are the guard/history keys. */
  val legs: Seq[Leg] =
    Seq(1, 10, 100).map { kib =>
      Leg(s"micro_${kib}k", ListMap("rate" -> Rate, "keys" -> Keys,
        "state_bytes" -> kib * 1024)) { spark =>
        Setup(() => micro(spark, kib * 1024))
      }
    } ++ Seq(
      Leg("er_stream", ListMap("rate" -> Rate, "dir" -> Bench.sfDir))(erStream),
      Leg("rules_tws", rulesConfig, rocksDb = true)(rules(tws = true)),
      Leg("rules_foreach_batch", rulesConfig, rocksDb = true)(
        rules(tws = false)),
      Leg("order_tws", orderConfig, rocksDb = true)(orderBook(tws = true)),
      Leg("order_tws_warm", orderConfig + ("warm_orders" -> WarmOrders),
        rocksDb = true)(orderBookWarm),
      Leg("order_fmgws", orderConfig, rocksDb = true)(orderBook(tws = false)),
      nexmark("q1_currency", q1, "append"),
      nexmark("q2_filter", q2, "append"),
      nexmark("q5_sliding_hot", q5, "update"),
      nexmark("q11_sessions", q11, "append"),
      Leg("nexmark_q3_join", ListMap("rate" -> (AuctionRate + PersonRate),
        "auction_rate" -> AuctionRate, "person_rate" -> PersonRate)) { spark =>
        Setup(() => noop(q3(spark, AuctionRate, PersonRate), "append"))
      })

  /** The legs a filter names: `all`, or comma-separated leg names. */
  private[graft] def select(filter: String): Seq[Leg] =
    if (filter == "all") legs
    else {
      val names = filter.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- legs.map(_.name)
      require(names.nonEmpty && unknown.isEmpty,
        s"unknown legs '$filter'; known: ${legs.map(_.name).mkString(",")}")
      legs.filter(l => names(l.name))
    }

  /** Run one leg on `spark` for `seconds` under the guard, print its
    * record and write it to `<outDir>/<leg>.json`. */
  def runLeg(spark: SparkSession, leg: Leg, seconds: Int,
      outDir: String): Unit = {
    val setup = leg.setup(spark)
    val (result, stamp) = StreamGuard.guarded(spark, leg.name) {
      measure(spark, seconds)(setup.start())
    }(_.rowsPerSec)
    val line = Json.mapper.writeValueAsString(
      Record(leg.name, seconds, leg.config ++ setup.facts(), result, stamp))
    println(line)
    Files.writeString(Paths.get(outDir, s"${leg.name}.json"), line + "\n")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 1 && args.length <= 3,
      "usage: StreamBench <outDir> [secondsPerLeg=45] [legs=all]")
    val outDir = args(0)
    val seconds = args.lift(1).map(_.toInt).getOrElse(45)
    val picked = select(args.lift(2).getOrElse("all"))
    Files.createDirectories(Paths.get(outDir))
    picked.foreach { leg =>
      val spark = Bench.session()
      if (leg.rocksDb)
        spark.conf.set(TransformWithStateOps.RocksDbProvider._1,
          TransformWithStateOps.RocksDbProvider._2)
      try runLeg(spark, leg, seconds, outDir) finally spark.stop()
    }
    System.err.println(s"[stream-bench] done: $outDir")
  }
}
