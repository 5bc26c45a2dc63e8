package graft

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.SerializerProvider
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.databind.ser.std.StdSerializer
import org.apache.spark.sql.SparkSession

import graft.StageRecorder.RowProfile

/** Batch benchmark main: sweeps [[SparkEntry.benchRows]] against
  * SPARK_GRAFT_SF_DIR (default sf0.1), writes the full record and
  * prints it, then prints the summary line LAST (see [[LegRecord]]). */
object Bench {

  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The corpus the benches read: SPARK_GRAFT_SF_DIR, default sf0.1. */
  private[graft] def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** History-tripwire ratio threshold for a row whose checked-in
    * history is `histPrev` seconds. Multi-second rows get the TIGHT
    * 1.4x ratio: the r15c sweep measured a host event hiding +142 s
    * inside the 471 s converged-pagerank row at 1.43x its history —
    * under the 3x threshold that guards short rows against
    * timer/first-repeat noise — and r16 shipped an unflagged ~2x
    * regression on layout_bucketed_join (12.5→24.3 s, history 13.3 s)
    * precisely because the 1.4x band used to start at 30 s: a
    * [10 s, 30 s)-history row could double silently. A >=10 s-history
    * row's run-to-run noise is already percent-scale (these are
    * multi-second means over fixed work), so 1.4x is signal there
    * too. A trip's immediate probe still arbitrates: hot probe =>
    * leg self-reports flagged; clean probe => the trip records as a
    * regression POINTER (ratio + clean probe) without flagging the
    * leg — the honest middle ground for evidence the probes cannot
    * reach. */
  private[graft] def tripRatioFor(histPrev: Double): Double =
    if (histPrev >= 10.0) 1.4 else 3.0

  /** One timed repeat of row `name`, recorded as a [[StageRecorder]]
    * unit: the clock covers `body` only, the record every job `body`
    * ran. A throwing `body` comes back as `Left` with its record closed. */
  private[graft] def timedRepeat(recorder: StageRecorder, spark: SparkSession,
      name: String)(body: => Unit): (Double, Either[Throwable, Unit], RowProfile) = {
    var sec = 0.0
    val (out, profile) = recorder.record(spark.sparkContext, name) {
      val t0 = System.nanoTime()
      try body finally sec = (System.nanoTime() - t0) / 1e9
    }
    (sec, out, profile)
  }

  /** The `repeats` argument: an integer >= 1, or a failure naming it. */
  private[graft] def parseRepeats(arg: String): Int = {
    val repeats = arg.trim.toIntOption.getOrElse(throw
      new IllegalArgumentException(s"repeats must be an integer, got '$arg'"))
    require(repeats >= 1, s"repeats must be >= 1, got $repeats")
    repeats
  }

  def main(args: Array[String]): Unit = {
    // local profiling knobs (driver passes no args): args(0) = comma-
    // separated substring filters on query names ("-" prefix excludes;
    // no inclusion tokens = include all), args(1) = repeat count
    val tokens = args.headOption.getOrElse("").split(",")
      .map(_.trim).filter(_.nonEmpty).toSeq
    val (excludes, includes) = tokens.partition(_.startsWith("-"))
    val matches = (name: String) =>
      (includes.isEmpty || includes.exists(name.contains)) &&
        !excludes.exists(e => name.contains(e.drop(1)))
    require(SparkEntry.benchRows.exists(r => matches(r.name)),
      s"name filter '${args(0)}' matches no bench row")
    val repeats = if (args.length > 1) parseRepeats(args(1)) else 1
    val spark = session()
    runLeg(spark, matches, repeats,
      sfDir,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json"),
      filtered = tokens.nonEmpty)
    spark.stop()
  }

  /** One sweep over one SF dir, writing the full record to `fullPath`
    * and printing the compact summary line. Factored out of main so
    * [[BenchSweep]] can run several legs in ONE JVM: this guest's
    * page-fault path intermittently degrades ~100x (33 µs-3.5 ms/page
    * in sys time, zero guest-visible steal — host-side memory
    * pressure re-faulting pages the guest freed), so re-allocating a
    * 48 GiB pre-touched heap per leg can cost more than a leg itself.
    * One JVM touches the heap once and keeps it. */
  private[graft] def runLeg(spark: SparkSession,
      matches: String => Boolean, repeats: Int, sfDir: String,
      fullPath: String, filtered: Boolean = false): Unit = {

    // warm the JVM + parquet footers once with the flagship query
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }

    val rows = SparkEntry.benchRows.filter(r => matches(r.name))

    // Warm-up sweep (untimed): construct every query once against the
    // bench dir — this performs the construction-time memo scans (LSH
    // width gate, overlap index, CC materialization key) and Catalyst
    // analysis outside the timed region — and, when the tiny sf0.001
    // sibling exists, EXECUTE the sweep there once so codegen/JIT of
    // every kernel's hot path happens before the first timed query
    // (repeats=1 driver runs otherwise charge ~30 s of one-time JIT to
    // whichever queries run first).
    {
      val tiny = new java.io.File("/root/testdata/sf0.001")
      val warmDirs =
        (if (tiny.isDirectory && tiny.getPath != sfDir) Seq(tiny.getPath)
         else Seq.empty) :+ sfDir
      warmDirs.foreach { d =>
        rows.filter(r => d != sfDir || !r.memoized).foreach { r =>
          try {
            val df = r.timed(spark, d)
            if (d != sfDir) df.count() // execute only at the tiny SF
          } catch { case _: Throwable => }
        }
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        System.gc()
      }
    }

    // Host-calibration probe: a FIXED synthetic workload (10M-long
    // RDD range-partition sort — shuffle write + sorted read, no
    // parquet, no query code) timed right before the sweep. The last
    // two rounds' driver totals moved with the box, not the code
    // (r10 drifted ~14% and needed a hand A/B to attribute); the
    // probe gives cross-round comparisons a same-box denominator.
    val calibSec = StreamGuard.probe(spark, 10000000L)
    System.err.println(f"[bench] calibration probe: $calibSec%.3f s")
    // Absolute degradation limit for the fixed probe: healthy runs of
    // this box measure 3.8-5.2 s; an r14 sweep starting at 22.6 s (6x,
    // ZERO guest-visible steal/majfault/refault — host-side memory or
    // scheduling trouble the guest cannot meter directly) produced
    // rows up to 30x their history. The probe is the only meter that
    // sees that class, so past the limit the sweep self-reports
    // flagged. Override per box via SPARK_GRAFT_CALIB_LIMIT.
    val calibLimit = StreamGuard.limitFromEnv("SPARK_GRAFT_CALIB_LIMIT", 10.0)

    // Mid-leg probes: r14 proved the start/end probes leave a BLIND
    // WINDOW — a degradation that begins after the start probe and
    // ends before the end probe inflates rows 3-30× while both probes
    // read healthy (BENCH_r14: calib 5.5→2.7 s around a uniformly
    // 1.69× sweep). Interleave a 1/5-scale probe (2M-row sort, ~0.3-1 s
    // healthy) at every query-FAMILY boundary, untimed, after the
    // between-query cleanup — ~15 boundaries ≈ 10 s of untimed wall
    // per leg buys per-family localization of a mid-leg host event.
    // Any mid probe past limit/5 folds into coload.flagged, so a
    // contaminated sweep self-reports even when both end probes are
    // clean.
    val calibMidLimit = StreamGuard.limitFromEnv(
      "SPARK_GRAFT_CALIB_MID_LIMIT", calibLimit / 5.0)
    val midProbes = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    var prevFamily: String = null

    // Per-row HISTORY tripwire — the second mechanism closing the
    // blind window (r14 showed family-boundary probes can read just
    // under their limit while a fault-path event inflates the
    // checkpoint-heavy rows 3x between two probes). Against the
    // checked-in per-SF history (tools/bench_history.json, refreshed
    // each round from the latest guard-clean sweep), any row reading
    // >3x its history fires an IMMEDIATE untimed mini-probe: probe hot
    // => host event, leg self-reports flagged; probe clean => the
    // regression is real and the artifact says exactly which row to
    // investigate. Rows under 0.3 s history are exempt (timer noise
    // flips sub-second ratios; r11's rollup_returns measured 16.4x on
    // one descheduled task).
    val sfName = new java.io.File(sfDir).getName
    val historyTimes: Map[String, Double] =
      try {
        val path = sys.env.getOrElse("SPARK_GRAFT_HISTORY",
          "/root/repo/tools/bench_history.json")
        Json.numbers(Json.readFile(path).get(sfName))
      } catch { case _: Throwable => Map.empty }
    // a guard that silently disables itself contradicts the repo's
    // self-announcing-guard rule: an empty history map means the
    // tripwire is OFF for this whole leg — say so next to the artifact
    if (historyTimes.isEmpty)
      System.err.println(s"[bench] WARNING: history tripwire disabled " +
        s"for this leg — no entries for '$sfName' in " +
        sys.env.getOrElse("SPARK_GRAFT_HISTORY",
          "/root/repo/tools/bench_history.json"))
    val historyTrips =
      scala.collection.mutable.ArrayBuffer[(String, Double, Double)]()

    // Co-load guard: the r12 official sweep was distorted 23% by a
    // concurrent JVM the single-job calibration probe cannot see (it
    // saturates the box itself, so co-load only stretches it a little).
    // Instead, meter what OTHER java processes actually BURNED while
    // the sweep ran: snapshot each foreign JVM's cumulative CPU ticks
    // (utime+stime from /proc/<pid>/stat, USER_HZ = 100) before and
    // after, plus /proc/loadavg for context. A sweep whose foreign-JVM
    // CPU exceeds 5% of its own wall×cores self-reports flagged=true in
    // the summary line — a contaminated artifact announces itself
    // instead of needing a judge A/B rerun.
    def loadavg1(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // host-meter denominator: /proc/stat steal ticks accrue over ALL
    // host CPUs, so the contamination fractions must divide by the
    // box's real core count — SPARK_GRAFT_CPUS sizes only the Spark
    // master/partitions and may legitimately differ from it
    val hostCpus = Runtime.getRuntime.availableProcessors()
    def otherJvmCpuTicks(): Map[Long, Long] = {
      val self = ProcessHandle.current().pid()
      val procs = Option(new java.io.File("/proc").listFiles())
        .getOrElse(Array.empty)
      procs.iterator
        .filter(f => f.getName.forall(_.isDigit))
        .map(_.getName.toLong)
        .filter(_ != self)
        .flatMap { pid =>
          try {
            // classify by the EXECUTABLE (comm = argv[0] basename, 15
            // chars), not a substring of the full cmdline — a node or
            // python process with "java" anywhere in a path/argument
            // (".../javascript/...") must not count as a foreign JVM
            val comm = new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(s"/proc/$pid/comm")), "UTF-8").trim
            if (comm != "java") None
            else {
              val stat = new String(java.nio.file.Files.readAllBytes(
                java.nio.file.Paths.get(s"/proc/$pid/stat")), "UTF-8")
              // comm may contain spaces/parens — fields resume after
              // the LAST ')': state is field 3, so utime(14) = rest(11),
              // stime(15) = rest(12)
              val rest = stat.substring(stat.lastIndexOf(')') + 2)
                .split(" ")
              Some(pid -> (rest(11).toLong + rest(12).toLong))
            }
          } catch { case _: Throwable => None }
        }.toMap
    }
    val loadBefore = loadavg1()
    val jvmsBefore = otherJvmCpuTicks()
    val (stealBefore, iowaitBefore) = StreamGuard.hostStealIo()
    val sweepStartNs = System.nanoTime()

    val timedNames = rows.map(_.name).toSet
    // A name filter that selects the _warm layout row WITHOUT its cold
    // twin would charge the one-time bucketed materialization to the
    // first (reported) "warm" repeat — construct the copies untimed
    // here so the warm figure measures what its name claims
    if (timedNames("layout_bucketed_join_warm") &&
        !timedNames("layout_bucketed_join")) {
      try {
        graft.sources.BucketedLayout.ensureBucketed(spark, sfDir)
        System.err.println("[bench] warm-only filter: bucketed copies " +
          "materialized untimed so the _warm row stays a read-path measure")
      } catch { case e: Throwable =>
        // swallowing this silently would let the first TIMED "warm"
        // repeat quietly perform the full bucketed write — the exact
        // mislabeling this guard exists to prevent — so the failure
        // must at least be visible next to the artifact
        System.err.println("[bench] WARNING: warm-only bucketed " +
          s"materialization failed ($e) — the _warm row's first repeat " +
          "will include the one-time write")
      }
    }

    // the layer record of each row's reported repeat, for the full record
    val recorder = new StageRecorder().register(spark)
    val profiles = scala.collection.mutable.LinkedHashMap[String, RowProfile]()
    val results = rows.map { row =>
      val name = row.name
      val fam = family(name)
      if (prevFamily != null && fam != prevFamily) {
        val t = StreamGuard.probe(spark)
        midProbes += fam -> t
        if (t > calibMidLimit)
          System.err.println(f"[bench] WARNING: mid-leg probe before " +
            f"family '$fam' read $t%.3f s (limit $calibMidLimit%.1f) — " +
            "host degraded mid-sweep; this leg will self-report flagged")
      }
      prevFamily = fam
      val form = row.timed
      var sec = Double.MaxValue
      var ok = true
      var skipped = false
      var rep = 0
      // construction-memoized rows report the FIRST repeat by contract
      // (min-over-repeats never applies), so further repeats could only
      // burn sweep wall time re-reading memos — skip them outright
      // (pageRankConverged alone would re-run its 47-iteration loop)
      var planned = if (row.memoized) 1 else repeats
      // per-ROW steal meter: the sweep-level guard can only say "some
      // window was contaminated"; sampling /proc/stat around each row
      // localizes a mid-sweep host event to the rows it actually hit
      // (the first r13 sf10 sweep lost exactly q15–q18 to one such
      // event and needed a standalone re-measure to prove it)
      val (rowSteal0, _) = StreamGuard.hostStealIo()
      val rowStartNs = System.nanoTime()
      while (rep < planned) {
        rep += 1
        val (t, outcome, profile) =
          timedRepeat(recorder, spark, name)(form(spark, sfDir).count())
        ok = outcome match {
          case Right(_) => ok
          // a DESIGNED refusal (e.g. the exact all-pairs form past
          // its row cap, whose scale path is a separate query) is not
          // an error — report it distinctly so a genuine failure of
          // the same query can never hide behind the skip sentinel
          case Left(_: graft.model.DesignedSkip) => skipped = true; ok
          case Left(_) => false
        }
        // min over repeats: the steady-state cost, robust to one-off
        // JIT/page-cache/GC interference in either direction — except
        // construction-memoized queries, which report the first (cold)
        // repeat so the memoized work can't vanish from the number.
        // The row's profile is the reported repeat's.
        val reported = if (row.memoized) rep == 1 else t < sec
        if (reported) {
          sec = t
          profiles(name) = profile
        }
        // Fast rows are timer-noise-dominated at big SFs: one
        // descheduled task flips a sub-second query's sweep ratio
        // (r11's rollup_returns recorded 16.4× at sf10 against 3.3× on
        // re-measure). When a multi-repeat sweep meets a fast query,
        // extend it to three repeats so the reported min is a stable
        // figure — cost is < 2·3 s per fast row. repeats=1 driver runs
        // are untouched (extension would change their accounting), as
        // are memoized rows (they report the first repeat by contract,
        // which extension cannot stabilize).
        if (rep == planned && planned < 3 && repeats > 1 &&
            !row.memoized && ok && !skipped && sec < 3.0)
          planned = 3
        if (repeats > 1) {
          System.err.println(f"[bench] $name $t%.3f s")
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          // a repeat must not pay for its predecessor's garbage (the
          // bounded driver collects leave old-gen pressure behind)
          System.gc()
        }
      }
      // caches are query-scoped working sets — release before the next
      // query so storage memory never accumulates across the sweep.
      // clearCache only drops SQL-cached relations; localCheckpoint
      // blocks (iterative queries) live in the RDD registry and must be
      // unpersisted explicitly or they pin storage for the whole sweep.
      // Broadcast blocks are reaped by the ContextCleaner only after
      // their weak refs are GC'd — force that between queries (outside
      // the timed region) so no query pays for its predecessors.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      // error OUTRANKS skip: if any repeat genuinely failed, the query
      // reports -1 even when another repeat ended in a designed
      // refusal — otherwise a transient failure could hide behind the
      // skip sentinel. `rep` records how many repeats actually ran —
      // the self-extending fast-row policy above makes the count
      // row-dependent, and the artifact must say which policy measured
      // each row
      val (rowSteal1, _) = StreamGuard.hostStealIo()
      val rowStealFrac =
        if (rowSteal0 < 0 || rowSteal1 < 0) 0.0
        else {
          val wall = (System.nanoTime() - rowStartNs) / 1e9
          if (wall <= 0) 0.0
          else (rowSteal1 - rowSteal0) / 100.0 / (wall * hostCpus)
        }
      if (rowStealFrac > 0.05)
        System.err.println(f"[bench] WARNING: $name ran under " +
          f"${rowStealFrac * 100}%.1f%% hypervisor steal — treat its " +
          "time as contaminated")
      val histPrev = historyTimes.getOrElse(name, 0.0)
      val tripRatio = Bench.tripRatioFor(histPrev)
      // a name filter that drops a memo reuser's provider makes the
      // reuser pay a construction its history recorded warm: an
      // accounting artifact, not the host or the code, so no trip
      val warmthComparable =
        !(filtered && row.memoProvider.exists(p => !matches(p)))
      if (ok && !skipped && warmthComparable &&
          histPrev >= 0.3 && sec > tripRatio * histPrev) {
        val ratio = sec / histPrev
        val probe = StreamGuard.probe(spark)
        historyTrips += ((name, ratio, probe))
        // machine-readable marker FIRST — external harnesses
        // (tools/tripwire_demo.sh) key off this line, not the prose
        // warning below, so rewording the prose can't silently break
        // them (the r16 ADVICE low on the demo's grep)
        System.err.println(f"[bench-trip] $name ratio=$ratio%.2f " +
          f"probe=$probe%.3f")
        System.err.println(f"[bench] WARNING: $name read $sec%.3f s = " +
          f"$ratio%.1fx its checked-in history ($histPrev%.3f s); " +
          f"immediate probe $probe%.3f s (limit $calibMidLimit%.1f) — " +
          (if (probe > calibMidLimit) "host degraded, leg self-reports flagged"
           else "probe clean: investigate this row as a real regression"))
      }
      RowResult(name, if (!ok) -1.0 else if (skipped) Double.NaN else sec,
        rep, rowStealFrac)
    }
    val sweepWallSec = (System.nanoTime() - sweepStartNs) / 1e9
    recorder.unregister(spark)
    val loadAfter = loadavg1()
    val jvmsAfter = otherJvmCpuTicks()
    val (stealAfter, iowaitAfter) = StreamGuard.hostStealIo()
    val stealSec =
      if (stealBefore < 0 || stealAfter < 0) -1.0
      else (stealAfter - stealBefore) / 100.0
    val iowaitSec =
      if (iowaitBefore < 0 || iowaitAfter < 0) -1.0
      else (iowaitAfter - iowaitBefore) / 100.0
    val stealFrac =
      if (stealSec < 0 || sweepWallSec <= 0) 0.0
      else stealSec / (sweepWallSec * hostCpus)
    // foreign CPU burned in-window: common pids by tick delta, pids
    // born mid-sweep by their full count (their whole life is in the
    // window); vanished pids are unmeasurable and only under-count
    val otherJvmCpuSec = jvmsAfter.iterator.map { case (pid, t) =>
      math.max(0L, t - jvmsBefore.getOrElse(pid, 0L))
    }.sum / 100.0
    val coloadFrac =
      if (sweepWallSec > 0) otherJvmCpuSec / (sweepWallSec * hostCpus)
      else 0.0
    // end-of-sweep probe: catches degradation that began MID-sweep
    // (the start probe alone passed a sweep whose later rows ran on a
    // 6x-degraded host)
    val calibEndSec = StreamGuard.probe(spark, 10000000L)
    System.err.println(f"[bench] calibration probe (end): $calibEndSec%.3f s")
    val calibMidMax = if (midProbes.isEmpty) 0.0 else midProbes.map(_._2).max
    val calibFlag = calibSec > calibLimit || calibEndSec > calibLimit ||
      calibMidMax > calibMidLimit ||
      // a history trip whose immediate probe also read hot is direct
      // evidence the host was degraded WHILE that row ran; a trip with
      // a clean probe stays in history_trips as a regression pointer
      // without flagging the leg
      historyTrips.exists(_._3 > calibMidLimit)
    val coloadFlag = coloadFrac > 0.05 || stealFrac > 0.05 || calibFlag
    if (coloadFlag)
      System.err.println(f"[bench] WARNING: co-load guard tripped — " +
        f"foreign JVMs $otherJvmCpuSec%.1f CPU-s, hypervisor steal " +
        f"$stealSec%.1f s during the $sweepWallSec%.1f s sweep " +
        f"(foreign ${coloadFrac * 100}%.1f%% / steal ${stealFrac * 100}%.1f%% " +
        f"of the box), calibration $calibSec%.1f->$calibEndSec%.1f s " +
        f"vs limit $calibLimit%.1f, mid-leg max $calibMidMax%.1f vs " +
        f"$calibMidLimit%.1f; treat this sweep as contaminated")

    // ANN retrieval quality (untimed): mean recall@5 per approximate
    // leg vs the exact answer under its own metric — hash-parity
    // proves replay, this records whether the index actually finds
    // the neighbors. SPARK_GRAFT_RECALL=off skips (e.g. huge SFs).
    val recall: Seq[(String, Double)] =
      if (sys.env.getOrElse("SPARK_GRAFT_RECALL", "on") == "off") Seq.empty
      else try graft.operators.AnnRecall.recallAtK(spark, sfDir, timedNames)
      catch { case e: Throwable =>
        System.err.println(s"[bench] recall computation failed: $e")
        Seq.empty
      }
    // Structured-fixture recall (untimed): the planted-cluster twin of
    // the recall block above. On the iid-random driver fixture recall
    // cannot distinguish a working PQ index from a broken one (r13:
    // 0.00 either way); on the planted fixture it DISCRIMINATES —
    // exact-rerank legs ≈ 1.0, trained IVF-PQ in a diagnostic band,
    // the deliberately mis-trained negative control ≈ 0 — and the
    // nprobe→recall curve records the scan-fraction trade behind the
    // trained model's nprobe default. Skipped silently when the
    // fixture for this SF doesn't exist.
    val structured: Option[(String,
        graft.operators.AnnRecall.StructuredReport)] =
      if (sys.env.getOrElse("SPARK_GRAFT_RECALL", "on") == "off") None
      else sys.env.get("SPARK_GRAFT_STRUCT_DIR")
        .orElse(Some("/root/repo/benchdata/clustered/" +
          new java.io.File(sfDir).getName))
        .filter(d => new java.io.File(d, "embeddings.parquet").exists)
        .flatMap { d =>
          try Some(d -> graft.operators.AnnRecall.structuredReport(spark, d))
          catch { case e: Throwable =>
            System.err.println(s"[bench] structured recall failed: $e")
            None
          }
        }
    // cross-round comparability: rounds ADD rows, so the raw total is
    // not comparable with the previous round's — the record stamps the
    // total over the intersection with the PREVIOUS round's measured
    // query set (checked-in snapshot, refreshed each round)
    val prevQueries: Set[String] =
      try {
        val path = sys.env.getOrElse("SPARK_GRAFT_PREV_QUERIES",
          "/root/repo/tools/bench_prev_queries.json")
        Json.readFile(path).get("queries").elements().asScala
          .map(_.asText).toSet
      } catch { case _: Throwable => Set.empty }
    val record = LegRecord(results, calibSec, calibEndSec, midProbes.toSeq,
      calibMidLimit, historyTrips.toSeq,
      Coload(otherJvmCpuSec, coloadFrac, stealSec, stealFrac, iowaitSec,
        loadBefore, loadAfter, results.count(_.stealFrac > 0.05), coloadFlag),
      recall, structured, profiles, prevQueries, fullPath, sfDir)
    val full = record.full
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] full-record write failed: $e") }
    // A second, (sf, cpus)-keyed copy of the full record: the driver
    // runs the bench twice (32-core then low-core scaling leg) with the
    // default fullPath, and the second run silently overwrites the
    // first — the r17 32-core per-query record was lost exactly that
    // way and had to be reconstructed from git. The keyed copy makes
    // each leg's per-query ground truth survive in the working tree.
    try {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val sfLeaf = new java.io.File(sfDir).getName
        .replaceAll("[^A-Za-z0-9._-]", "_")
      val dir = Option(new java.io.File(fullPath).getParentFile)
        .map(_.getPath + "/").getOrElse("")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"${dir}bench_full_${sfLeaf}_${cpus}c.json"),
        (full + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] keyed full-record write failed: $e") }
    println(full) // kept on stdout too for local runs; summary is LAST
    val summary = record.summary
    if (summary.length > SummaryLimit)
      System.err.println(s"[bench] WARNING: summary line is " +
        s"${summary.length} chars even after dropping optional fields " +
        "— the driver's 2000-char tail capture may truncate it")
    println(summary)
  }

  /** A row name's family: its prefix before the first `_`, with every
    * `q<N>` and `e<N>` row folded into `q` and `e`. */
  private def family(n: String): String = {
    val p = n.takeWhile(_ != '_')
    if (p.matches("q\\d+")) "q" else if (p.matches("e\\d*")) "e" else p
  }

  /** One swept row: its reported seconds (-1 = error, NaN = designed
    * skip), the repeats that ran, and the hypervisor-steal fraction of
    * the box while it ran. */
  private[graft] final case class RowResult(name: String, sec: Double,
      reps: Int, stealFrac: Double)

  /** The co-load guard: what foreign JVMs, steal and iowait took from
    * the box during the sweep, and whether any guard flagged it. */
  private[graft] final case class Coload(otherJvmCpuSec: Double,
      frac: Double, stealSec: Double, stealFrac: Double, iowaitSec: Double,
      load1Before: Double, load1After: Double, rowsStealFlagged: Int,
      flagged: Boolean)

  /** Tail contract: the round's bench record is parsed from the last
    * complete JSON line in the LAST 2000 chars of stdout. r15-r17 lost
    * their bench records because recall_structured grew the summary
    * past that (r17: 3387 chars). */
  private[graft] val SummaryLimit = 1900

  /** Json.mapper writing every double as a 3-decimal figure (locale
    * free) and a non-finite one as null: NaN marks a designed skip. */
  private lazy val recordMapper = {
    val threeDecimals = new StdSerializer[java.lang.Double](classOf[java.lang.Double]) {
      override def serialize(v: java.lang.Double, g: JsonGenerator,
          p: SerializerProvider): Unit =
        if (v.isNaN || v.isInfinite) g.writeNull()
        else g.writeNumber(java.math.BigDecimal.valueOf(v.doubleValue)
          .setScale(3, java.math.RoundingMode.HALF_UP))
    }
    Json.mapper.copy().registerModule(new SimpleModule()
      .addSerializer(classOf[java.lang.Double], threeDecimals)
      .addSerializer(java.lang.Double.TYPE, threeDecimals))
  }

  /** Everything one leg records. [[full]] is the full per-row record
    * (written to `fullPath`); [[summary]] the compact line printed last
    * on stdout, which keeps under [[SummaryLimit]] by dropping its
    * optional fields: first `recall`, then `worst5`. Per-row maps live
    * only in the full record: the row names alone pass the limit. */
  private[graft] final case class LegRecord(rows: Seq[RowResult],
      calibSec: Double, calibEndSec: Double,
      calibMid: Seq[(String, Double)], calibMidLimit: Double,
      historyTrips: Seq[(String, Double, Double)], coload: Coload,
      recall: Seq[(String, Double)],
      structured: Option[(String, graft.operators.AnnRecall.StructuredReport)],
      profiles: scala.collection.Map[String, RowProfile],
      prevQueries: Set[String], fullPath: String, sfDir: String) {
    private val measured = rows.filter(r => !r.sec.isNaN && r.sec >= 0)
    private val comparable = measured.filter(r => prevQueries(r.name))
    private def byName(rs: Seq[RowResult])(f: RowResult => Any) =
      ListMap.from(rs.map(r => r.name -> f(r)))
    private def head = ListMap[String, Any]("metric" -> "total",
      "value" -> measured.map(_.sec).sum, "unit" -> "sec")
    private def tail = ListMap[String, Any](
      "comparable_total" -> comparable.map(_.sec).sum,
      "comparable_n" -> comparable.size)
    private def skipped = rows.filter(_.sec.isNaN).map(_.name)
    private def errors = rows.filter(_.sec == -1.0).map(_.name)

    def full: String = recordMapper.writeValueAsString(head ++ ListMap(
      "queries" -> byName(rows)(_.sec),
      "reps" -> byName(rows)(_.reps),
      // which rows a mid-sweep host event actually touched
      "row_steal" -> byName(rows.filter(_.stealFrac > 0.05))(_.stealFrac),
      "skipped" -> skipped, "errors" -> errors,
      "calib_sec" -> calibSec, "calib_end_sec" -> calibEndSec,
      "calib_mid" -> ListMap.from(calibMid),
      "calib_mid_limit" -> calibMidLimit,
      "history_trips" -> historyTrips.map { case (n, r, p) =>
        ListMap("row" -> n, "ratio" -> r, "probe_sec" -> p) },
      "coload" -> coload,
      "recall" -> ListMap.from(recall),
      "recall_structured" -> structured.map { case (d, r) => ListMap(
        "dir" -> d, "legs" -> ListMap.from(r.legs),
        "negctrl_ivfpq_trained" -> r.negControl,
        "nlist" -> r.nlist, "nprobe_curve" -> r.curve,
        "alt_nlist" -> r.altNlist, "alt_nprobe_curve" -> r.altCurve,
        "ivf_nlist" -> r.ivfNlist, "ivf_nprobe_curve" -> r.ivfCurve,
        "lsh_or_amp" -> r.orAmp, "refine_curve" -> r.refineCurve) },
      "profile" -> profiles) ++ tail + ("sf" -> sfDir))

    def summary: String = {
      val fields = head ++ ListMap(
        "n" -> measured.size,
        "families" -> ListMap.from(measured.groupBy(r => family(r.name))
          .map { case (f, rs) => f -> rs.map(_.sec).sum }.toSeq.sortBy(-_._2)),
        "worst5" -> byName(measured.sortBy(-_.sec).take(5))(_.sec),
        "skipped" -> skipped, "errors" -> errors,
        "calib_sec" -> calibSec, "calib_end_sec" -> calibEndSec,
        "calib_mid_max" -> (if (calibMid.isEmpty) 0.0 else calibMid.map(_._2).max),
        "history_trips_n" -> historyTrips.size,
        "coload" -> coload,
        "recall" -> ListMap.from(recall)) ++ tail ++
        ListMap("full" -> fullPath, "sf" -> sfDir)
      // the first variant that fits, else the leanest
      val drops = Seq(Nil, Seq("recall"), Seq("recall", "worst5"))
      drops.view.map(d => recordMapper.writeValueAsString(fields -- d))
        .find(_.length <= SummaryLimit)
        .getOrElse(recordMapper.writeValueAsString(fields -- drops.last))
    }
  }
}

/** Multi-leg sweep in ONE JVM: `BenchSweep <repeats> <sfDir:outPath>...`
  *
  * Equivalent to running [[Bench]] once per leg, except the
  * SparkSession — and with it the pre-touched heap, the JIT state, and
  * the page cache the parquet footers live in — survives across legs.
  * Construction memos are keyed by (session, dir, mtimes), so legs
  * cannot serve each other's models; between-query cache/persist
  * cleanup already runs inside each leg's sweep loop. Motivated by a
  * measured host pathology: first-touch page faults intermittently run
  * ~100x slow (host-side memory pressure, invisible to every
  * guest-side meter except wall time), so per-leg 48 GiB heap
  * re-allocation contaminated whole legs. One JVM pays first-touch
  * once, at startup, OUTSIDE any timed region. */
object BenchSweep {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BenchSweep <repeats> <sfDir:outPath>...")
    val repeats = Bench.parseRepeats(args(0))
    val legs = args.drop(1).toSeq.map { a =>
      val i = a.lastIndexOf(':')
      require(i > 0, s"leg must be sfDir:outPath, got $a")
      (a.substring(0, i), a.substring(i + 1))
    }
    val spark = Bench.session()
    legs.foreach { case (sfDir, outPath) =>
      System.err.println(s"[bench-sweep] leg $sfDir -> $outPath")
      Bench.runLeg(spark, _ => true, repeats, sfDir, outPath)
    }
    spark.stop()
  }
}
