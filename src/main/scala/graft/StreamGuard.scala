package graft

import org.apache.spark.sql.SparkSession

/** Host-calibration guard for the STREAMING bench mains — the batch
  * sweep's probe + history-tripwire discipline ported to the rate
  * harnesses (the r15 verdict's #1: the streaming suite was the only
  * gate surface that could not self-certify; its r15 re-record read
  * 5-10% under r14's band on unchanged code with no way to prove the
  * host did it).
  *
  * Mechanisms, mirroring [[Bench]]'s guard semantics:
  *
  *  - a FIXED synthetic probe (2M-row RDD range-partition sort, the
  *    batch sweep's mini-probe workload — ~0.3-1 s healthy on this
  *    box) timed immediately before and after every measured leg;
  *    either side past the limit flags the leg. Streaming legs are
  *    wall-clock-fixed, so unlike the batch sweep the probe can never
  *    run INSIDE the measured window — before/after brackets are the
  *    tightest placement that doesn't perturb the measurement.
  *  - hypervisor-steal ticks (/proc/stat field 8) metered across the
  *    leg's own window; >5% of wall x cores flags it (a streaming
  *    source keeps offering rows while the box is stolen, so steal
  *    shows up directly as a rate deficit).
  *  - a per-leg HISTORY tripwire against tools/stream_history.json
  *    (best guard-era healthy rows/s per leg, refreshed each round):
  *    a leg reading under 1/1.4 of its history fires an immediate
  *    probe — hot probe => host event, the leg self-reports flagged;
  *    clean probe => the deficit is recorded as a real-regression
  *    pointer, exactly the batch tripwire's two outcomes. Rates are
  *    higher-is-better, so the ratio test is inverted from the batch
  *    (time) form; 1.4 matches the batch guard's long-row threshold —
  *    streaming rates are 45 s means, percent-scale noisy like the
  *    >=30 s batch rows, not the 3x-noisy sub-second ones.
  *
  * Every leg's JSON gains a "guard" object with a `flagged` bool, so a
  * contaminated streaming record announces itself instead of needing
  * the r15 footnote ("the host ran slow that day... it cannot PROVE
  * it"). */
object StreamGuard {

  /** One leg's guard verdict. `historyRatio` = measured/history
    * (<1 = slower than history; 0 when no history entry exists). */
  final case class Stamp(name: String, probeStartSec: Double,
      probeEndSec: Double, probeLimit: Double, stealSec: Double,
      stealFrac: Double, historyRps: Double, historyRatio: Double,
      tripProbeSec: Double, flagged: Boolean) {
    def json: String = {
      def n(v: Double) =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      s"""{"name":"$name","probe_start_sec":${n(probeStartSec)},""" +
        s""""probe_end_sec":${n(probeEndSec)},""" +
        s""""probe_limit":${n(probeLimit)},"steal_sec":${n(stealSec)},""" +
        s""""steal_frac":${n(stealFrac)},""" +
        s""""history_rps":${n(historyRps)},""" +
        s""""history_ratio":${n(historyRatio)},""" +
        s""""trip_probe_sec":${n(tripProbeSec)},"flagged":$flagged}"""
    }
  }

  /** The batch sweep's 1/5-scale calibration workload verbatim
    * ([[Bench]]'s mini-probe): fixed, shuffle-bound, query-code-free —
    * the only meter that sees the host's degraded first-touch
    * fault path, which leaves steal/iowait/majfault all reading zero. */
  def probe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.sparkContext.range(0L, 2000000L, 1, numSlices = 32)
      .map(i => (i * 2654435761L) % 999999937L)
      .sortBy(identity)
      .count()
    (System.nanoTime() - t0) / 1e9
  }

  def probeLimit: Double =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_PROBE_LIMIT", "2.0").toDouble

  /** Cumulative hypervisor-steal ticks (USER_HZ = 100) from
    * /proc/stat's aggregate cpu line; -1 when unreadable. */
  private def stealTicks(): Long =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val cpu = try f.getLines().next() finally f.close()
      cpu.trim.split("\\s+")(8).toLong
    } catch { case _: Throwable => -1L }

  /** Best healthy rows/s per leg from the checked-in history file
    * (refreshed each round from the latest guard-clean record). Flat
    * name -> rate map; a missing file or leg disables that tripwire
    * with a warning (self-announcing, like the batch guard). */
  lazy val history: Map[String, Double] = {
    val path = sys.env.getOrElse("SPARK_GRAFT_STREAM_HISTORY",
      "/root/repo/tools/stream_history.json")
    val m =
      try parseRates(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8"))
      catch { case _: Throwable => Map.empty[String, Double] }
    if (m.isEmpty)
      System.err.println("[stream-guard] WARNING: rate tripwire " +
        s"disabled — no history at $path")
    m
  }

  /** The "rates" object's numeric fields, nothing else: a numeric
    * metadata field elsewhere in the file ("round": 17) must not
    * become a phantom leg entry in the tripwire map. */
  private[graft] def parseRates(txt: String): Map[String, Double] =
    Json.numbers(Json.mapper.readTree(txt).get("rates"))

  // the FIRST probe against a fresh SparkContext reads cold (JIT +
  // first-touch of the sort path — measured 3.8 s vs 0.5-0.8 s steady
  // on a healthy box), which would flag leg 1 of every suite on probe
  // noise. One discarded warm-up probe per CONTEXT (not per JVM —
  // StreamBenchAll rebuilds the SparkSession between suites, and each
  // rebuilt context's first probe re-pays scheduler/codegen warm-up
  // for rebuild reasons unrelated to host health) pays that cost
  // untimed; the host-health reading starts from the second probe,
  // like the probe-twice rule the batch recipe documents for idle
  // hosts.
  private val warmedApp =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** Bracket one measured leg with the full guard. `rowsPerSec` maps
    * the leg's result to its headline rate for the history check. */
  def guarded[T](spark: SparkSession, name: String)(run: => T)(
      rowsPerSec: T => Double): (T, Stamp) = {
    val limit = probeLimit
    val appId = spark.sparkContext.applicationId
    if (warmedApp.getAndSet(appId) != appId) {
      val w = probe(spark)
      System.err.println(f"[stream-guard] warm-up probe (discarded): $w%.3f s")
    }
    val p0 = probe(spark)
    if (p0 > limit)
      System.err.println(f"[stream-guard] WARNING: pre-leg probe for " +
        f"'$name' read $p0%.3f s (limit $limit%.1f) — host degraded; " +
        "this leg will self-report flagged")
    val s0 = stealTicks()
    val t0 = System.nanoTime()
    val result = run
    val wallSec = (System.nanoTime() - t0) / 1e9
    val s1 = stealTicks()
    val p1 = probe(spark)
    if (p1 > limit)
      System.err.println(f"[stream-guard] WARNING: post-leg probe for " +
        f"'$name' read $p1%.3f s (limit $limit%.1f) — host degraded; " +
        "this leg self-reports flagged")
    val hostCpus = Runtime.getRuntime.availableProcessors()
    val stealSec = if (s0 < 0 || s1 < 0) 0.0 else (s1 - s0) / 100.0
    val stealFrac =
      if (wallSec <= 0) 0.0 else stealSec / (wallSec * hostCpus)
    val rps = rowsPerSec(result)
    val hist = history.getOrElse(name, 0.0)
    val ratio = if (hist > 0) rps / hist else 0.0
    // rate under 1/1.4 of history: immediate probe arbitrates between
    // "host event while this leg ran" (hot => flagged) and "real
    // regression" (clean => recorded pointer, leg stays unflagged)
    var tripProbe = -1.0
    if (hist > 0 && rps < hist / 1.4) {
      tripProbe = probe(spark)
      System.err.println(f"[stream-guard] WARNING: '$name' measured " +
        f"$rps%.0f rows/s = ${ratio * 100}%.0f%% of its checked-in " +
        f"history ($hist%.0f); immediate probe $tripProbe%.3f s " +
        f"(limit $limit%.1f) — " +
        (if (tripProbe > limit) "host degraded, leg self-reports flagged"
         else "probe clean: investigate as a real regression"))
    }
    val flagged = p0 > limit || p1 > limit || stealFrac > 0.05 ||
      tripProbe > limit
    (result, Stamp(name, p0, p1, limit, stealSec, stealFrac, hist,
      ratio, tripProbe, flagged))
  }
}
