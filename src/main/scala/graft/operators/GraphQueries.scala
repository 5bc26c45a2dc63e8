package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{StageRecorder, Tables}

/** Iterative graph analytics over the order graph: PageRank on the
  * customer–supplier bipartite graph (an edge per distinct
  * customer/supplier trading pair, both directions, so rank flows both
  * ways and no node dangles).
  *
  * Cross-engine exactness (the [[TextQueries.lmPerplexity]] contract,
  * extended to an ITERATIVE computation): ranks live on a fixed-point
  * BIGINT grid (1e6 = rank 1.0). Each iteration is
  *   r'(v) = 150000 + (85 * sum over in-edges of (r(u) div deg(u))) div 100
  * — integer division and an order-free integer sum only, so three
  * chained iterations stay bit-identical between Spark and the
  * oracle's three unrolled CTEs, where chained double rounding would
  * drift. Truncating (div) vs flooring (//) division agree because
  * every operand is non-negative.
  *
  * Scale: the classic DataFrame-Pregel shape. Edges and out-degrees
  * join ONCE outside the loop into a (src, dst, d) table that is
  * clustered on the iteration's HOT key and persisted — under the
  * default broadcast-rank regime that key is dst, the aggregation key,
  * so each iteration is a broadcast probe of the in-place edge blocks
  * followed by an exchange-FREE groupBy(dst): after construction the
  * edge table never crosses the wire again and the only per-iteration
  * movement is the node-sized rank broadcast. Skewed high-degree nodes
  * are a sum on the dst side — partial aggregation absorbs them
  * map-side. GraphX was considered and declined: RDD-based, no
  * Catalyst, and the whole loop here stays in whole-stage codegen.
  */
/** [[GraphQueries.pageRankConverged]] result: the rank frame, the
  * iteration count actually run, and the cleanup that unpersists the
  * final iteration's pinned frame once the caller has consumed it. */
final case class ConvergedRanks(ranks: DataFrame, iters: Int,
    release: () => Unit, converged: Boolean = true)

object GraphQueries {

  private[graft] val Damp = 85L   // damping * 100
  private[graft] val Base = 150000L // (1 - damping) on the 1e6 grid
  // node-id space: suppliers shifted ABOVE any plausible custkey.
  // 2^40 ≈ 1.1e12 clears standard TPC-H custkeys (150k·SF — 1.5e10 at
  // SF 100k) while keeping rank·id packing far from BIGINT overflow;
  // an earlier 1e6 offset aliased customers ≥ 1,000,001 onto supplier
  // nodes at SF ≥ 7, silently merging entities (the oracle used the
  // same constant, so the gate could not see it)
  private[graft] val SuppOffset = 1L << 40

  /** The persisted (src, dst, d) adjacency. Its physical LAYOUT follows
    * the iteration's join strategy (see [[joinStrategy]]):
    *
    *  - `broadcast` (the default under the node bound): clustered on
    *    **dst** — the per-iteration AGGREGATION key. The broadcast rank
    *    join preserves the streamed side's partitioning, so every
    *    iteration's `groupBy(dst)` finds its required distribution
    *    already satisfied and runs WITHOUT an exchange: the edge-scale
    *    frame is shuffled exactly once, here at construction, instead
    *    of once per iteration (~47 edge-scale shuffles saved on the
    *    converged sf10 run — the r15 verdict's one remaining plan
    *    target). The degree join rides the same broadcast bound (one
    *    row per node), so construction costs ONE edge exchange total.
    *  - `shuffle_hash`/`smj` (node set past the driver bound):
    *    clustered on **src**, the join key, so the per-iteration join
    *    re-exchanges only the node-sized rank frame; the aggregation
    *    pays the edge-scale exchange (you cannot have both without
    *    broadcasting one side — exactly the regime split the strategy
    *    bound encodes).
    *
    * Construction-MEMOIZED per (session, table versions, layout):
    * repeated constructions share ONE cache entry instead of leaking a
    * fresh edge-scale persist per call (the [[DedupQueries]]
    * cluster-table convention; in Bench this puts graph_pagerank in
    * the heavyConstruction first-repeat set). */
  private[graft] def adjacency(s: SparkSession, dir: String): DataFrame = {
    val clusterOnDst = joinStrategy(s, dir) == "broadcast"
    val layout = if (clusterOnDst) "dst" else "src"
    // the memo key includes the layout, so an A/B run that toggles
    // spark.graft.pagerank.join (or crosses broadcastNodesMax) would
    // otherwise build a SECOND edge-scale persisted adjacency while
    // the first stays pinned — evict the other layout's entry first
    // (same-layout entries for an older table vintage ride along;
    // they are equally stale)
    val other = if (clusterOnDst) "src" else "dst"
    Tables.evictMemoMatching(s, dir, "orders", s"pagerank-adj-$other")
      .foreach {
        case df: org.apache.spark.sql.Dataset[_] =>
          df.unpersist(blocking = false)
        case _ => ()
      }
    Tables.memoizedAtConstruction(s, dir, "orders",
        s"pagerank-adj-$layout-${Tables.tableStamp(s, dir, "lineitem")}") {
      val pairs = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + SuppOffset).as("p"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("p").as("dst"))
        .unionAll(pairs.select(col("p").as("src"), col("c").as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      val adj =
        if (clusterOnDst) edges.repartition(col("dst"))
          .join(broadcast(deg), "src")
        else edges.join(deg, "src")
      adj.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** Release the session's cached adjacency for `dir`: unpersist the
    * 2|E|-row frame and EVICT its construction memo. Both halves
    * matter — an unpersist alone leaves the memo serving a frame that
    * silently recomputes the orders⋈lineitem distinct once per
    * iteration on the next pageRank call; a memo eviction alone leaks
    * the cached blocks. A long-lived session running many graphs calls
    * this per graph (Bench bulk-unpersists between queries; the
    * eviction here keeps its re-runs honest too). */
  def releaseAdjacency(s: SparkSession, dir: String): Unit =
    Tables.evictMemoMatching(s, dir, "orders", "pagerank-adj-").foreach {
      case df: org.apache.spark.sql.Dataset[_] =>
        df.unpersist(blocking = false)
      case _ => ()
    }

  /** Iteration 1 unrolled: the initial vector is the CONSTANT 1e6, so
    * r1 comes straight off the cached adjacency (contrib = 1e6 div
    * deg(src)) with no rank join and no initial-node-set distinct —
    * two shuffles saved vs joining a materialized r0. */
  private def firstIteration(adj: DataFrame): DataFrame = adj
    .groupBy(col("dst").as("id"))
    .agg((lit(Base) + expr(s"($Damp * sum(1000000 div d)) div 100")).as("r"))

  /** Per-iteration join shape: the rank frame has exactly one row per
    * node, and the node count is bounded above by |customer| +
    * |supplier| — both known from cheap memoized metadata counts. When
    * that bound fits a broadcast (spark.graft.pagerank.broadcastNodesMax,
    * default 20M ≈ 320 MB of (id, r) rows), hint it: a shuffled join
    * would re-SORT the 100M-row cached adjacency EVERY iteration,
    * while the broadcast probe streams it in place and only the
    * per-iteration aggregation shuffles (partial-aggregated, one row
    * per node). Past the bound — a graph whose node set outgrows the
    * driver — the hint drops away and the shuffled join is the
    * correct plan. */
  /** The per-iteration rank-join strategy — also the adjacency-layout
    * switch (see [[adjacency]]). Measured at sf10 (3-iteration pageRank
    * incl. adjacency build, local[32]): broadcast 39.7 s vs
    * shuffle_hash 52.1 s — the per-iteration driver-side hash-relation
    * build is CHEAPER than re-exchanging the rank frame against the
    * cached adjacency, so broadcast is the default while the rank frame
    * (one row per node, bounded by |customer| + |supplier| — cheap
    * memoized metadata counts) fits the driver
    * (spark.graft.pagerank.broadcastNodesMax, default 20M ≈ 320 MB);
    * past it shuffle_hash is the fallback — it beats SMJ by not
    * re-SORTING the cached edge-scale side every iteration. Explicit
    * values of spark.graft.pagerank.join override for A/B runs. */
  /** Upper bound on the node count: |customer| + |supplier|, from
    * cheap memoized metadata counts. Shared by the join-strategy
    * switch and the loop-AQE switch. */
  private def nodeBound(s: SparkSession, dir: String): Long =
    Tables.memoizedAtConstruction(s, dir, "customer", "count") {
      Tables.customer(s, dir).count()
    } + Tables.memoizedAtConstruction(s, dir, "supplier", "count") {
      Tables.supplier(s, dir).count()
    }

  private def joinStrategy(s: SparkSession, dir: String): String =
    s.conf.get("spark.graft.pagerank.join", "auto") match {
      case "auto" =>
        val bcastMax = s.conf
          .get("spark.graft.pagerank.broadcastNodesMax", "20000000").toLong
        if (nodeBound(s, dir) <= bcastMax) "broadcast" else "shuffle_hash"
      case explicit => explicit
    }

  private def rankJoinHint(s: SparkSession, dir: String)
      : DataFrame => DataFrame =
    joinStrategy(s, dir) match {
      case "broadcast" => broadcast(_)
      case "smj" => identity
      case _ => (df: DataFrame) => df.hint("shuffle_hash")
    }

  private def nextIteration(adj: DataFrame, ranks: DataFrame,
      hint: DataFrame => DataFrame): DataFrame =
    // one Dataset step fewer on each side of the aggregate (the
    // contrib projection folds into sum(), the id rename into the
    // grouping key): every Dataset construction is an eager analyzer
    // pass, and this plan is re-analyzed once per iteration — ~47
    // times per converged run — so driver-side plan cost is part of
    // the iteration cost here, not a one-off. The optimizer plants
    // the same pre-agg projection either way; the physical plan is
    // unchanged (partial sum below, exchange-free final agg on dst).
    adj.join(hint(ranks), adj("src") === ranks("id"))
      .groupBy(adj("dst").as("id"))
      .agg((lit(Base) + expr(s"($Damp * sum(r div d)) div 100")).as("r"))

  /** [[nextIteration]] plus an in-plan delta column: a SECOND probe of
    * the same broadcast rank frame — on the aggregated node id this
    * time — attaches each node's previous rank, so dr = r − prev lands
    * in the checkpointed frame itself. Node-scale rows after the agg,
    * broadcast-hash probe in the same stage: the convergence check
    * then needs only a scan-aggregate of blocks the checkpoint already
    * materialized, replacing the old per-iteration union→groupBy probe
    * that re-shuffled two node-sized frames (~46 node-scale exchanges
    * on the sf10 converged run — the floor the r16 dst-clustered
    * adjacency exposed). The inner join drops no rows: the symmetric
    * edge union makes src-set = dst-set = the node set, and every rank
    * frame carries exactly that node set. */
  private def nextIterationDelta(adj: DataFrame, ranks: DataFrame,
      hint: DataFrame => DataFrame): DataFrame = {
    // Join the UNPROJECTED rank frame (renames happen after): both
    // probes of the iteration — the src join inside [[nextIteration]]
    // and this prev attach — then broadcast the IDENTICAL plan
    // (same LogicalRDD child, same id build key), so the physical
    // plan's second BroadcastExchange canonicalizes equal to the
    // first and becomes a ReusedExchange: ONE node-sized hash
    // relation is built per iteration instead of two. The old form
    // renamed (id→pid, r→prev_r) BEFORE the broadcast, and that
    // alias-only Project defeated exchange reuse.
    // `next` carries `ranks` in its lineage (the src join), so bare
    // df("col") disambiguation trips DetectAmbiguousSelfJoin — the
    // dataset aliases resolve it; EliminateSubqueryAliases removes
    // them before physical planning, so the broadcast child stays
    // canonically equal to the src join's and reuse still fires.
    val next = nextIteration(adj, ranks, hint).as("nx")
    next.join(hint(ranks.as("pv")), col("nx.id") === col("pv.id"))
      .select(col("nx.id").as("id"), col("nx.r").as("r"),
        (col("nx.r") - col("pv.r")).as("dr"))
  }

  def pageRank(s: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val adj = adjacency(s, dir)
    require(iters >= 1, "pageRank needs at least one iteration")
    var ranks = firstIteration(adj)
    val hint = rankJoinHint(s, dir)
    for (_ <- 2 to iters) ranks = nextIteration(adj, ranks, hint)
    val out = ranks
      .select(col("id").as("node_id"), col("r").as("rank_scaled"))
      .orderBy(col("node_id"))
    // materialize before unpersist would be ideal, but the bench/verify
    // harness counts/writes immediately; keep adj pinned for this plan
    // — callers running many graphs in one session release it with
    // [[releaseAdjacency]] (bench unpersists all RDDs between queries)
    out
  }

  /** Convergence-driven variant: iterate until max |Δrank| ≤
    * `epsPpm` ppm of the current max rank or `maxIters`, returning
    * the rank frame, the iteration count actually run, and whether
    * the tolerance (vs the cap) ended the loop. Each iteration's
    * frame is materialized through a LAZY localCheckpoint (plan
    * truncation — see the body comment) whose materializing action is
    * the convergence probe itself — one fused job per iteration — so
    * the NEXT iteration reads its blocks instead of replaying, and
    * the predecessor's blocks are dropped as soon as its successor's
    * delta is known — at most two node-sized frames are ever pinned
    * beyond the shared adjacency. The delta COLUMN is computed inside
    * the iteration plan ([[nextIterationDelta]] — a second probe of
    * the already-broadcast rank frame, node-scale, same stage), so the
    * convergence check is a shuffle-free scan-aggregate of the frame
    * the checkpoint just materialized, bounded by the NODE count, not
    * the edges.
    * The final frame's blocks stay pinned (the caller is about to
    * consume it) and are released through the result's `release()`
    * handle, plus [[releaseAdjacency]] for the shared adjacency. The
    * fixed-iters [[pageRank]] remains the oracle form — DuckDB
    * mirrors its three unrolled CTEs; this is the production form for
    * graphs whose mixing time is unknown. */
  def pageRankConverged(s: SparkSession, dir: String,
      epsPpm: Long = 1000L, maxIters: Int = 60): ConvergedRanks = {
    // The tolerance is RELATIVE — converge when max |Δrank| ≤ epsPpm
    // ppm of the current max rank (default 0.1%). An absolute epsilon
    // on the unnormalized integer grid cannot scale: hub ranks grow
    // with graph size (measured max |Δ| starts at 11.4M on the sf0.01
    // graph — 11400× an absolute eps of 1000), so any fixed constant
    // is unreachable on one SF and trivial on another. |Δ| contracts
    // by ~the damping factor per step (measured 0.85/iter, clean
    // geometric decay), so 0.1% of a hub-dominated spread needs
    // ~30-40 iterations; the cap exists for graphs whose mixing is
    // slower still, and the flag below reports a cap hit honestly.
    require(maxIters >= 1, "pageRankConverged needs at least one iteration")
    val adj = adjacency(s, dir)
    val hint = rankJoinHint(s, dir)
    // AQE off for the iteration loop only (restored in the finally):
    // the per-iteration plan is STATIC — explicit broadcast hints, an
    // exchange-free groupBy over the dst-clustered cached adjacency,
    // and a ReusedExchange the static ReuseExchangeAndSubquery rule
    // already plans — so adaptive re-planning can change nothing,
    // while its per-query stage orchestration (TableCacheQueryStage /
    // BroadcastQueryStage / ResultQueryStage creation + replan rounds
    // on the driver event loop) is a fixed driver tax paid ~47 times.
    // The adjacency itself (and everything outside this loop) builds
    // under AQE when warm; on a COLD session the persisted adjacency
    // is first materialized by the first-iteration job inside the toggled
    // window, so its one-time edge-scale build runs under the loop's
    // AQE setting — acceptable (the build is a bounded distinct +
    // repartition; forcing a pre-toggle materializing action would
    // charge every warm call an extra cached-adjacency scan to help
    // only the cold one).
    //
    // CONCURRENCY CONTRACT: the toggle below mutates the SESSION conf
    // for the loop's duration (restored in the finally, which also
    // unset()s if the key was never explicitly set, so a library
    // default is not frozen into an explicit value). A concurrent
    // query planned on the SAME SparkSession during the loop would
    // plan under the flipped value. This operator therefore assumes a
    // single planning thread per session — the bench, Verify and the
    // streaming mains all satisfy it. Callers that share one session
    // across threads (e.g. batch + streaming at 100 TB) must wrap the
    // call in their own session clone; a clone is not done here
    // because the memoized adjacency/codebook caches are keyed per
    // session and a silent clone would rebuild them per call.
    // GraphAqeScopeSpec pins the restore semantics.
    val aqeKey = "spark.sql.adaptive.enabled"
    // getAll lists only EXPLICITLY-set entries; getOption would fall
    // through to the default and make the restore freeze it
    val aqeExplicit: Option[String] = s.conf.getAll.get(aqeKey)
    val sc = s.sparkContext
    // Each iteration is materialized through a localCheckpoint,
    // not a bare persist: persist caches the DATA but the logical plan
    // keeps growing — by iteration k the delta probe's tree nests k
    // levels of cached-plan innerChildren with TWO branches each
    // (union(next, ranks)), and the per-job plan-string rendering in
    // SQLExecution walks that tree EXPONENTIALLY (measured: a 20-
    // iteration run burned 15 driver-minutes in generateTreeString
    // while executors sat idle). The checkpoint truncates the plan to
    // a LogicalRDD scan, so every iteration plans and renders O(1).
    // On a cluster, localCheckpoint trades HDFS durability for speed —
    // the right call for an iterative loop whose restart replays from
    // the (persisted) adjacency anyway. FAULT-TOLERANCE CAVEAT (load-
    // bearing since the lazy-checkpoint fusion): local checkpoint
    // blocks live only on their executor and the lineage is truncated,
    // so an executor loss mid-loop FAILS the query rather than
    // recomputing — the documented trade is "re-run the loop from the
    // adjacency", not transparent recovery. Use reliable checkpoints
    // if executors are preemptible.
    // localCheckpoint registers its blocks in the persistent-RDD
    // registry; snapshotting the registry around the call captures the
    // ids so the PREDECESSOR's blocks are dropped deterministically —
    // at most two node-sized frames are ever pinned beyond the
    // adjacency (the promise the release() contract documents).
    // LAZY localCheckpoint: the logical-plan truncation to a
    // LogicalRDD happens at the call either way, but eager=true would
    // spend a dedicated job materializing the blocks and the probe
    // below would then pay a SECOND job to scan them. Lazy defers
    // materialization to the first action — the probe aggregate —
    // so one job per iteration computes the edge-scale
    // join+agg, caches the node blocks, and folds the convergence
    // aggregate, instead of two (r16 shape: checkpoint job + probe
    // job). The persist registration still happens at the call, so
    // the registry snapshot captures the block ids as before.
    // The first iteration alone is checkpointed EAGERLY: lazily, its
    // blocks (and a cold adjacency build) would be computed inside
    // iteration 2's broadcast job, and the per-iteration layer record
    // (StageRecorder.IterationKey, set below) could not tell the two
    // apart. One extra node-scale job per run.
    def checkpointed(df: DataFrame, eager: Boolean = false)
        : (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint(eager)
      (out, (sc.getPersistentRDDs.keySet -- before).toSet)
    }
    def drop(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
    // spark.graft.pagerank.loopAqe: "auto" (default) keeps AQE OFF
    // inside the loop while the node set is small and turns it back
    // ON past spark.graft.pagerank.loopAqeNodesMin (default 500k).
    // Why scale-dependent: the second broadcast probe (the prev
    // attach) is a ReusedExchange only under AQE's runtime stage
    // reuse — the static reuse rule does not canonicalize the two
    // node-frame scans equal (the checkpointed LogicalRDD's preserved
    // outputPartitioning differs by expr id) — so AQE-off builds the
    // node-rank hash relation twice per iteration. At small node
    // counts that duplicate build is microseconds while AQE's stage
    // orchestration is a fixed driver tax paid ~47 times (measured
    // sf0.1: off 12.8 s vs on 13.7 s); at sf10's 1.65M nodes the
    // duplicate build dominates (measured: ~44 s of per-iteration
    // driver/broadcast phase, ~halved by reuse) and AQE wins.
    // Explicit true/false overrides for A/B runs, case-insensitive as
    // Spark's own boolean confs are.
    val loopAqeSetting = s.conf.get("spark.graft.pagerank.loopAqe", "auto")
    val loopAqe = loopAqeSetting.toLowerCase(java.util.Locale.ROOT) match {
      case "auto" =>
        val minNodes = s.conf
          .get("spark.graft.pagerank.loopAqeNodesMin", "500000").toLong
        (nodeBound(s, dir) >= minNodes).toString
      case explicit @ ("true" | "false") => explicit
      case _ =>
        // fail HERE naming the graft conf — an unvalidated pass-through
        // surfaces as an IllegalArgumentException from conf.set with no
        // hint which setting caused it
        throw new IllegalArgumentException(
          s"spark.graft.pagerank.loopAqe must be one of true/false/auto, " +
            s"got '$loopAqeSetting'")
    }
    s.conf.set(aqeKey, loopAqe)
    try {
    StageRecorder.setIteration(sc, 1)
    var (ranks, ranksIds) = checkpointed(firstIteration(adj), eager = true)
    var iters = 1
    var converged = false
    while (!converged && iters < maxIters) {
      StageRecorder.setIteration(sc, iters + 1)
      // dr rides in the checkpointed frame itself (nextIterationDelta's
      // second broadcast probe), so the convergence check is a bare
      // scan-aggregate of blocks the checkpoint just materialized — the
      // previous union→groupBy(id) probe re-SHUFFLED two node-sized
      // frames every iteration, which the r16 exchange-free adjacency
      // left as the loop's dominant per-iteration exchange
      val (next, nextIds) =
        checkpointed(nextIterationDelta(adj, ranks, hint))
      // the probe aggregate IS the materializing action of the lazy
      // checkpoint above: one job computes the edge-scale iteration,
      // caches the node blocks, and reduces the convergence maxima
      val probe = next
        .agg(max(abs(col("dr"))), max(col("r"))).head()
      // an EMPTY graph (no edges at this dir) aggregates to nulls —
      // zero deltas below declare immediate convergence instead of NPE
      val (delta, maxRank) =
        if (probe.isNullAt(0)) (0L, 0L)
        else (probe.getLong(0), probe.getLong(1))
      drop(ranksIds)
      ranks = next
      ranksIds = nextIds
      iters += 1
      // double arithmetic: maxRank × epsPpm would overflow Long for
      // permissive tolerances (the spec passes Long.MaxValue)
      converged = delta.toDouble <= maxRank.toDouble * epsPpm / 1e6
    }
    val pinned = ranksIds
    ConvergedRanks(
      ranks.select(col("id").as("node_id"), col("r").as("rank_scaled"))
        .orderBy(col("node_id")),
      iters,
      () => drop(pinned),
      converged)
    } finally {
      StageRecorder.clearIteration(sc)
      aqeExplicit match {
        case Some(v) => s.conf.set(aqeKey, v)
        case None => s.conf.unset(aqeKey)
      }
    }
  }

  private def rankCte(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT e.dst AS id,
       |    CAST($Base + ($Damp * SUM($prev.r // deg.d)) // 100 AS BIGINT) AS r
       |  FROM e JOIN deg USING (src) JOIN $prev ON $prev.id = e.src
       |  GROUP BY e.dst)""".stripMargin

  val pageRankSql: String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey + $SuppOffset AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT c AS src, p AS dst FROM pairs
       |      UNION ALL SELECT p AS src, c AS dst FROM pairs),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src),
       |r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
       |${rankCte("r0", "r1")},
       |${rankCte("r1", "r2")},
       |${rankCte("r2", "r3")}
       |SELECT id AS node_id, r AS rank_scaled FROM r3 ORDER BY node_id"""
      .stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> ((s, d) => pageRank(s, d)))

  val oracles: Map[String, String] = Map(
    "graph_pagerank" -> pageRankSql)
}
