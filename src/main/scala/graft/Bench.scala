package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.StageRecorder.RowProfile

/** Benchmark main — driver runs this per round against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and records the one-line JSON.
  *
  * Prints exactly one JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  */
object Bench {

  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // split-size override for local profiling (A/B'd at 4m vs the
      // 128m default: smaller splits parallelize single-file kernel
      // scans slightly but cost more on the iterative CC queries, so
      // the default stands)
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_SPLIT_BYTES", "128m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

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
    val repeats = if (args.length > 1) args(1).toInt else 1
    require(repeats >= 1, s"repeats must be >= 1, got $repeats")
    val spark = session()
    runLeg(spark, matches, repeats,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
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

    // scale-bench overrides: oracle-gated entries whose gates pin
    // parameters to the static sf0.01 oracle (and refuse larger
    // corpora so a silent divergence can't pass the gate) are benched
    // through their auto-scaling production forms instead
    val benchForms: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      Map(
        "sim_near_dup_lsh" ->
          ((s, d) => graft.operators.AnnLsh.nearDupLsh(s, d)),
        "sim_ann_lsh" ->
          ((s, d) => graft.operators.AnnLsh.annTopKScaled(s, d)),
        "sim_ann_multiprobe" ->
          ((s, d) => graft.operators.AnnLsh.annMultiProbeScaled(s, d)),
        // the oracle form's 6-bit width gate refuses corpora past
        // 2048 vectors (pinned static SQL); the bench runs the
        // auto-width production pipeline, like the two entries above
        "sim_sem_dedup" ->
          ((s, d) => graft.operators.SemDedup.semDedupScaled(s, d)),
        // exact-form guards: the _pruned twins below set the topK
        // confs at construction, which would otherwise leak into the
        // exact forms on the next sweep/dir — pin them unset here
        "t_lm_perplexity" -> ((s, d) => {
          s.conf.unset("spark.graft.lm.topK")
          graft.operators.TextQueries.lmPerplexity(s, d)
        }),
        "t_quality_classifier" -> ((s, d) => {
          s.conf.unset("spark.graft.nb.topK")
          graft.operators.TextQueries.qualityClassifier(s, d)
        }),
        // r15: the TRAINED codebooks are the benched PQ defaults — the
        // repo's own planted-cluster recall table showed the untrained
        // SQL-replayable models losing to their trained siblings 3-5×
        // (0.06-0.16 vs 0.44-0.76 recall@5 across SFs), an
        // anti-default. The oracle gate (Verify) still runs the
        // replayable untrained forms under these names; the untrained
        // models stay benched as the explicit _baseline rows below.
        "sim_ivfpq_topk" -> ((s, d) =>
          graft.operators.AnnIvfPq.ivfPqTopKTrained(s, d)),
        "sim_ivfpq_refine" -> ((s, d) =>
          graft.operators.AnnIvfPq.ivfPqRefineTopKTrained(s, d)),
        "sim_pq_adc_topk" -> ((s, d) =>
          graft.operators.AnnPq.pqAdcTopKTrained(s, d)))

    // Bench-only rows: the production corpus-model forms (fixed-size
    // top-K model tables with smoothed backoff — the 100 TB shape)
    // benched ALONGSIDE the exact oracle forms, so the artifact
    // carries a measured curve for both. Not part of SparkEntry
    // .queries (the oracle gate runs the exact default-conf forms).
    val extraQueries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      Map(
        "t_lm_perplexity_pruned" -> ((s, d) => {
          s.conf.set("spark.graft.lm.topK", "262144")
          graft.operators.TextQueries.lmPerplexity(s, d)
        }),
        "t_quality_classifier_pruned" -> ((s, d) => {
          s.conf.set("spark.graft.nb.topK", "262144")
          graft.operators.TextQueries.qualityClassifier(s, d)
        }),
        // the amortized side of the pay-once layout trade: runs after
        // the cold row (alphabetical order), so ensureBucketed serves
        // from the session memo and this times the exchange-free READ
        // path — the cost every query after the first pays at 100 TB
        "layout_bucketed_join_warm" -> ((s, d) =>
          graft.sources.BucketedLayout.bucketedJoin(s, d)),
        // the untrained SQL-replayable PQ models, demoted to explicit
        // _baseline rows (the oracle gate's forms; the canonical
        // sim_ivfpq_topk / sim_pq_adc_topk bench rows run the trained
        // production models since r15 — see benchForms above) — kept
        // benched so the artifact still carries both sides' cost and
        // the recall section both sides' retrieval quality
        "sim_ivfpq_baseline" -> ((s, d) =>
          graft.operators.AnnIvfPq.ivfPqTopK(s, d)),
        // the recall-hungry routing point (nprobe = nlist/4, kf=4 —
        // 0.92 recall where the default breadth plateaus at 0.84 on
        // the planted fixture): recorded as a row so the recall/cost
        // knee is measured at the bench SFs, not just the curve grid
        "sim_ivfpq_refine_wide" -> ((s, d) =>
          graft.operators.AnnIvfPq.ivfPqRefineTopKTrainedWide(s, d)),
        "sim_pq_adc_baseline" -> ((s, d) =>
          graft.operators.AnnPq.pqAdcTopK(s, d)),
        // the production convergence form beside the fixed-3-iteration
        // oracle form; iteration count goes to stderr next to the row.
        // The between-query cleanup has UNPERSISTED the adjacency the
        // oracle row built (the memo would serve a cache-less frame
        // that re-scans orders⋈lineitem EVERY iteration) — release it
        // so this row is a self-contained production run: adjacency
        // build + persist + iterate-to-ε, all timed
        "graph_pagerank_converged" -> ((s, d) => {
          graft.operators.GraphQueries.releaseAdjacency(s, d)
          val cr = graft.operators.GraphQueries.pageRankConverged(s, d)
          System.err.println(s"[bench] pageRankConverged: ${cr.iters} " +
            s"iterations, converged=${cr.converged} (eps=0.1% of max rank)")
          cr.ranks
        }))

    // Queries whose CONSTRUCTION performs real MEMOIZED
    // model/materialization work: the CC family materializes the
    // shared cluster-label table (DedupQueries.simhashClusters memo).
    // Two bench rules keep that honest: (1) they are never warmed at
    // the bench SF — the work stays inside the timed sweep (for the CC
    // memo, charged to the family's first query; the other two reuse
    // it, the sweep semantics the sharing is FOR); (2) with repeats >
    // 1 they report the FIRST repeat, not the min — a later CC repeat
    // hits the memo and would report only the parquet-read tail.
    // NOTE the text-scorer forms (t_lm_perplexity /
    // t_quality_classifier AND their _pruned twins) are deliberately
    // NOT here: all four rebuild their corpus model inside every
    // repeat (the pruned twins re-collect the K-bounded model each
    // construction — no memo, no scratch table), so min-over-repeats
    // hides nothing. Listing them here just reported one-time JIT as
    // if it were query cost (r10 measured the classifier at 9.3 s
    // first repeat vs 6.4 s steady-state for exactly that reason; the
    // pruned twins were de-listed in r11 on the same argument).
    val heavyConstruction =
      Set("dedup_clusters", "dedup_simhash_pairs", "pipeline_keep",
        "pipeline_keep_best",
        // constructing this one MATERIALIZES the bucketed fact-table
        // copies (the write-side cost the co-location lever trades
        // for) — it must be paid inside the first timed repeat, not
        // vanish into the untimed warm-up. The _warm twin is here for
        // the warm-up EXCLUSION only (constructing it at the bench SF
        // during warm-up would materialize the copies untimed and rob
        // the cold row): in the timed sweep it runs after the cold
        // row, so its first repeat is already the memoized read path
        // it exists to measure.
        "layout_bucketed_join", "layout_bucketed_join_warm",
        // the embedding near-dup pair memo: built by the family's
        // first timed query, reused by the rest — warming it at the
        // bench SF would hide the family's dominant cost untimed
        "sim_near_dup_lsh", "sim_sem_dedup",
        // the IVF quantizer (count + sample + k-means + centroid
        // broadcast) is construction-memoized per table version —
        // the first repeat pays the training, later ones must not
        // hide it
        "sim_ann_ivf",
        // the pagerank adjacency (orders⋈lineitem→distinct, persisted)
        // is construction-memoized per table version — same rule
        "graph_pagerank",
        // CONSTRUCTION runs the whole iterate-to-convergence loop
        // (delta probes execute eagerly); alphabetical order charges
        // the shared adjacency memo to graph_pagerank first
        "graph_pagerank_converged",
        // Lloyd training (sample collect + coarse & per-subspace
        // k-means) is construction-memoized — first repeat pays it.
        // Since r15 these canonical names BENCH the trained models
        // (benchForms), so the training cost lands here.
        "sim_ivfpq_topk", "sim_ivfpq_refine", "sim_pq_adc_topk",
        // here for the warm-up EXCLUSION only (like the _warm layout
        // row): constructing it at the bench SF during warm-up would
        // train the shared -refine model untimed and rob
        // sim_ivfpq_refine's first repeat; in the timed sweep it runs
        // after that provider, timing pure wide-breadth search
        "sim_ivfpq_refine_wide",
        // quantileSelect's CONSTRUCTION runs its driver-side control
        // jobs (bounds + histogram + sub-histogram — 3 corpus scans);
        // not memoized (each repeat honestly rebuilds), but the
        // warm-up sweep must not execute corpus-scale work it only
        // means to plan, and min-over-repeats hides nothing since
        // every repeat pays the identical build
        "t_quantile_select")

    // Memo-reusing row -> the earlier row whose timed construction its
    // checked-in history assumes already ran (full sweeps guarantee it
    // by alphabetical order). Used to exempt exactly these rows from
    // the history tripwire when a name filter drops their provider —
    // their first repeat then pays a construction the history recorded
    // warm, an accounting artifact no probe should flag. Rows NOT here
    // are warmth-comparable in any filter: they train into their own
    // memo slot (the PQ legs since r16), release-and-rebuild
    // explicitly (graph_pagerank_converged), or get their provider's
    // work done untimed by the warm-only guard (layout_..._warm).
    val memoProviders: Map[String, String] = Map(
      "dedup_simhash_pairs" -> "dedup_clusters",
      "pipeline_keep" -> "dedup_clusters",
      "pipeline_keep_best" -> "dedup_clusters",
      "sim_sem_dedup" -> "sim_near_dup_lsh",
      "sim_ivfpq_refine_wide" -> "sim_ivfpq_refine")

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
        (SparkEntry.queries ++ extraQueries).toSeq.sortBy(_._1)
          .filter(q => matches(q._1))
          .filter(q => d != sfDir || !heavyConstruction(q._1))
          .foreach { case (name, entryFn) =>
            val fn = benchForms.getOrElse(name, entryFn)
            try {
              val df = fn(spark, d)
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
    def calibProbe(): Double = {
      val t0 = System.nanoTime()
      spark.sparkContext.range(0L, 10000000L, 1, numSlices = 32)
        .map(i => (i * 2654435761L) % 999999937L)
        .sortBy(identity)
        .count()
      (System.nanoTime() - t0) / 1e9
    }
    val calibSec = calibProbe()
    System.err.println(f"[bench] calibration probe: $calibSec%.3f s")
    // Absolute degradation limit for the fixed probe: healthy runs of
    // this box measure 3.8-5.2 s; an r14 sweep starting at 22.6 s (6x,
    // ZERO guest-visible steal/majfault/refault — host-side memory or
    // scheduling trouble the guest cannot meter directly) produced
    // rows up to 30x their history. The probe is the only meter that
    // sees that class, so past the limit the sweep self-reports
    // flagged. Override per box via SPARK_GRAFT_CALIB_LIMIT.
    val calibLimit = sys.env.getOrElse("SPARK_GRAFT_CALIB_LIMIT", "10.0")
      .toDouble

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
    def miniCalibProbe(): Double = {
      val t0 = System.nanoTime()
      spark.sparkContext.range(0L, 2000000L, 1, numSlices = 32)
        .map(i => (i * 2654435761L) % 999999937L)
        .sortBy(identity)
        .count()
      (System.nanoTime() - t0) / 1e9
    }
    val calibMidLimit =
      sys.env.get("SPARK_GRAFT_CALIB_MID_LIMIT").map(_.toDouble)
        .getOrElse(calibLimit / 5.0)
    def family(n: String): String = {
      val p = n.takeWhile(_ != '_')
      if (p.matches("q\\d+")) "q" else if (p.matches("e\\d*")) "e" else p
    }
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
    // host-level counters the per-process meter cannot see: CPU STEAL
    // (a co-tenant VM taking the physical core — the classic invisible
    // contention on a Firecracker guest) and IO-wait. Returns (steal,
    // iowait) cumulative ticks from /proc/stat's aggregate cpu line.
    def hostStealIo(): (Long, Long) =
      try {
        val f = scala.io.Source.fromFile("/proc/stat")
        val cpu = try f.getLines().next() finally f.close()
        val t = cpu.trim.split("\\s+") // cpu user nice sys idle iowait irq sirq steal
        (t(8).toLong, t(5).toLong)
      } catch { case _: Throwable => (-1L, -1L) }
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
    val (stealBefore, iowaitBefore) = hostStealIo()
    val sweepStartNs = System.nanoTime()

    val timedNames = (SparkEntry.queries ++ extraQueries).keySet
      .filter(matches)
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
    val results = (SparkEntry.queries ++ extraQueries).toSeq.sortBy(_._1)
      .filter(q => matches(q._1))
      .map { case (name, entryFn) =>
      val fam = family(name)
      if (prevFamily != null && fam != prevFamily) {
        val t = miniCalibProbe()
        midProbes += fam -> t
        if (t > calibMidLimit)
          System.err.println(f"[bench] WARNING: mid-leg probe before " +
            f"family '$fam' read $t%.3f s (limit $calibMidLimit%.1f) — " +
            "host degraded mid-sweep; this leg will self-report flagged")
      }
      prevFamily = fam
      val fn = benchForms.getOrElse(name, entryFn)
      var sec = Double.MaxValue
      var ok = true
      var skipped = false
      var rep = 0
      // construction-memoized rows report the FIRST repeat by contract
      // (min-over-repeats never applies), so further repeats could only
      // burn sweep wall time re-reading memos — skip them outright
      // (pageRankConverged alone would re-run its 47-iteration loop)
      var planned = if (heavyConstruction(name)) 1 else repeats
      // per-ROW steal meter: the sweep-level guard can only say "some
      // window was contaminated"; sampling /proc/stat around each row
      // localizes a mid-sweep host event to the rows it actually hit
      // (the first r13 sf10 sweep lost exactly q15–q18 to one such
      // event and needed a standalone re-measure to prove it)
      val (rowSteal0, _) = hostStealIo()
      val rowStartNs = System.nanoTime()
      while (rep < planned) {
        rep += 1
        val (t, outcome, profile) =
          timedRepeat(recorder, spark, name)(fn(spark, sfDir).count())
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
        val reported = if (heavyConstruction(name)) rep == 1 else t < sec
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
        // are heavyConstruction rows (they report the first repeat by
        // contract, which extension cannot stabilize).
        if (rep == planned && planned < 3 && repeats > 1 &&
            !heavyConstruction(name) && ok && !skipped && sec < 3.0)
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
      val (rowSteal1, _) = hostStealIo()
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
      // Memo-REUSING rows' first-repeat accounting assumes their
      // PROVIDER row ran earlier in the sweep (full sweeps — the runs
      // history is refreshed from — guarantee it by alphabetical
      // order); a NAME-FILTERED run that drops the provider makes the
      // reuser pay a construction its history recorded warm, so its
      // tripwire would fire on an accounting artifact, not the host or
      // the code. Exempt exactly those rows — every self-contained
      // heavyConstruction row (its own memo slot, or an explicit
      // release-and-rebuild like graph_pagerank_converged) keeps its
      // tripwire on filtered runs too.
      val warmthComparable =
        !(filtered && memoProviders.get(name).exists(p => !matches(p)))
      if (ok && !skipped && warmthComparable &&
          histPrev >= 0.3 && sec > tripRatio * histPrev) {
        val ratio = sec / histPrev
        val probe = miniCalibProbe()
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
      (name, if (!ok) -1.0 else if (skipped) Double.NaN else sec, rep,
        rowStealFrac)
    }
    val sweepWallSec = (System.nanoTime() - sweepStartNs) / 1e9
    recorder.unregister(spark)
    val loadAfter = loadavg1()
    val jvmsAfter = otherJvmCpuTicks()
    val (stealAfter, iowaitAfter) = hostStealIo()
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
    val calibEndSec = calibProbe()
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
      else try graft.operators.AnnRecall.recallAtK(spark, sfDir,
        (SparkEntry.queries ++ extraQueries).keySet.filter(matches))
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
    // Artifact contract: the driver keeps only a short stdout tail, so
    // the LAST line is a compact (<2 KB) self-describing summary —
    // total, count, per-family sums, worst-5, skips/errors, and the
    // path of the full per-query record this main also writes.
    // Locale-pinned number formatting: the f interpolator uses the
    // JVM's default locale, and a comma-decimal locale (de_DE, fr_FR)
    // would render {"value":1,234} — invalid JSON, losing the round's
    // bench record to the driver's parse.
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def j(v: Double): String = if (v.isNaN) "null" else num(v)
    // JSON string escape (same contract as Verify's): env-supplied
    // paths and builder-authored names must never break the artifact
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val measured = results.filter(r => !r._2.isNaN && r._2 >= 0)
    val skippedNames = results.filter(_._2.isNaN).map(_._1)
    val errorNames = results.filter(_._2 == -1.0).map(_._1)
    val total = measured.map(_._2).sum
    // cross-round comparability: rounds ADD rows, so the raw total is
    // not comparable with the previous round's — stamp the total over
    // the intersection with the PREVIOUS round's measured query set
    // (checked-in snapshot, refreshed each round) so the "subtract the
    // new rows" arithmetic lives in the artifact, not in a footnote
    val prevQueries: Set[String] =
      try {
        val path = sys.env.getOrElse("SPARK_GRAFT_PREV_QUERIES",
          "/root/repo/tools/bench_prev_queries.json")
        Json.readFile(path).get("queries").elements().asScala
          .map(_.asText).toSet
      } catch { case _: Throwable => Set.empty }
    val comparable = measured.filter(r => prevQueries(r._1))
    val comparableTotal = comparable.map(_._2).sum
    val comparableJson =
      s""""comparable_total":${num(comparableTotal)},""" +
        s""""comparable_n":${comparable.size}"""
    val qs = results.map { case (k, v, _, _) => q(k) + ":" + j(v) }
      .mkString("{", ",", "}")
    val repsJson = results.map { case (k, _, r, _) => q(k) + ":" + r }
      .mkString("{", ",", "}")
    // per-row steal (full record only): which rows a mid-sweep host
    // event actually touched
    val stealRows = results.filter(_._4 > 0.05)
    val rowStealJson = stealRows
      .map { case (k, _, _, f) => q(k) + ":" + num(f) }
      .mkString("{", ",", "}")
    val arr = (xs: Seq[String]) => xs.map(q).mkString("[", ",", "]")
    val coloadJson =
      s"""{"other_jvm_cpu_sec":${num(otherJvmCpuSec)},""" +
        s""""frac":${num(coloadFrac)},"steal_sec":${num(stealSec)},""" +
        s""""steal_frac":${num(stealFrac)},"iowait_sec":${num(iowaitSec)},""" +
        s""""load1_before":${num(loadBefore)},""" +
        s""""load1_after":${num(loadAfter)},""" +
        s""""rows_steal_flagged":${stealRows.size},"flagged":$coloadFlag}"""
    val recallJson = recall.map { case (k, v) => q(k) + ":" + j(v) }
      .mkString("{", ",", "}")
    val structuredJson = structured match {
      case None => "null"
      case Some((d, r)) =>
        val legsJ = r.legs.map { case (k, v) => q(k) + ":" + j(v) }
          .mkString("{", ",", "}")
        def curveJ(c: Seq[graft.operators.AnnRecall.NprobePoint]): String =
          c.map(p =>
            s"""{"nprobe":${p.nprobe},"scan_frac":${num(p.scanFrac)},""" +
              s""""recall":${j(p.recall)}}""").mkString("[", ",", "]")
        val orAmpJ = r.orAmp.map(p =>
          s"""{"tables":${p.tables},"bits":${p.bits},""" +
            s""""index_rows":${p.indexRows},"cand_pairs":${p.candPairs},""" +
            s""""recall":${j(p.recall)}}""").mkString("[", ",", "]")
        val refineJ = r.refineCurve.map(p =>
          s"""{"k_factor":${p.kFactor},"nprobe":${p.nprobe},""" +
            s""""scan_frac":${num(p.scanFrac)},"recall":${j(p.recall)}}""")
          .mkString("[", ",", "]")
        s"""{"dir":${q(d)},"legs":$legsJ,""" +
          s""""negctrl_ivfpq_trained":${j(r.negControl)},""" +
          s""""nlist":${r.nlist},"nprobe_curve":${curveJ(r.curve)},""" +
          s""""alt_nlist":${r.altNlist},""" +
          s""""alt_nprobe_curve":${curveJ(r.altCurve)},""" +
          s""""ivf_nlist":${r.ivfNlist},""" +
          s""""ivf_nprobe_curve":${curveJ(r.ivfCurve)},""" +
          s""""lsh_or_amp":$orAmpJ,"refine_curve":$refineJ}"""
    }
    val calibMidJson = midProbes
      .map { case (f, t) => q(f) + ":" + num(t) }.mkString("{", ",", "}")
    val historyTripsJson = historyTrips
      .map { case (n, r, p) =>
        s"""{"row":${q(n)},"ratio":${num(r)},"probe_sec":${num(p)}}""" }
      .mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,""" +
        s""""reps":$repsJson,"row_steal":$rowStealJson,""" +
        s""""skipped":${arr(skippedNames)},"errors":${arr(errorNames)},""" +
        s""""calib_sec":${num(calibSec)},"calib_end_sec":${num(calibEndSec)},""" +
        s""""calib_mid":$calibMidJson,"calib_mid_limit":${num(calibMidLimit)},""" +
        s""""history_trips":$historyTripsJson,""" +
        s""""coload":$coloadJson,""" +
        s""""recall":$recallJson,"recall_structured":$structuredJson,""" +
        s""""profile":${Json.mapper.writeValueAsString(profiles)},""" +
        s"""$comparableJson,"sf":${q(sfDir)}}"""
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
    val fams = measured.groupBy(r => family(r._1)).toSeq
      .map { case (f, rs) => f -> rs.map(_._2).sum }.sortBy(-_._2)
      .map { case (f, v) => q(f) + ":" + j(v) }.mkString("{", ",", "}")
    val worst = measured.sortBy(-_._2).take(5)
      .map { case (k, v, _, _) => q(k) + ":" + j(v) }.mkString("{", ",", "}")
    // Driver tail contract: the driver keeps only the LAST 2000 chars
    // of stdout and parses the last complete JSON line found there.
    // r15-r17 lost their bench records because recall_structured grew
    // this line past 2000 chars (r17: 3387). The structured recall
    // curves now live ONLY in the full record (fullPath, printed
    // above); the summary is length-guarded — if it ever outgrows the
    // budget, progressively heavy optional fields are dropped rather
    // than silently breaking the driver's parse. A full per-query map
    // can never fit: the 123 query names alone sum to 1915 chars.
    def summaryLine(withRecall: Boolean, withWorst: Boolean): String =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","n":${measured.size},""" +
        s""""families":$fams,""" +
        (if (withWorst) s""""worst5":$worst,""" else "") +
        s""""skipped":${arr(skippedNames)},""" +
        s""""errors":${arr(errorNames)},"calib_sec":${num(calibSec)},""" +
        s""""calib_end_sec":${num(calibEndSec)},""" +
        s""""calib_mid_max":${num(calibMidMax)},""" +
        s""""history_trips_n":${historyTrips.size},""" +
        s""""coload":$coloadJson,""" +
        (if (withRecall) s""""recall":$recallJson,""" else "") +
        s"""$comparableJson,""" +
        s""""full":${q(fullPath)},"sf":${q(sfDir)}}"""
    // the first variant that fits, built lazily; the leanest otherwise
    val summary = Iterator((true, true), (false, true))
      .map { case (r, w) => summaryLine(r, w) }.find(_.length <= 1900)
      .getOrElse(summaryLine(false, false))
    if (summary.length > 1900)
      System.err.println(s"[bench] WARNING: summary line is " +
        s"${summary.length} chars even after dropping optional fields " +
        "— the driver's 2000-char tail capture may truncate it")
    println(summary)
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
    val repeats = args(0).toInt
    require(repeats >= 1, s"repeats must be >= 1, got $repeats")
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
