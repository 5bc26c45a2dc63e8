package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AnnIvf, AnnIvfPq, AnnLsh, AnnPq, AsofJoin, BehaviorQueries,
  BpeTrainer, CurationQueries, DataloaderQueries, DecisionSupportQueries,
  DedupQueries, DynamicRules, EntityResolution, EventQueries,
  GraphQueries, MediaPipeline, RelationalQueries, SemDedup,
  SimilarityQueries, SketchQueries, SubqueryQueries, TextQueries}

/** How the batch bench times one row, defined once. `Bench`'s warm-up,
  * sweep and recall pass and `AnnRecall`'s legs all read these rows.
  *
  * @param form     the form Bench times; `None` times the oracle form in
  *                 [[SparkEntry.queries]] (a bench-only row must set it)
  * @param memoized construction performs memoized work: never warmed at
  *                 the bench SF, and the FIRST repeat is reported (and
  *                 the only one run), so the work cannot vanish from the
  *                 number
  * @param memoProvider the earlier row (alphabetically — the sweep
  *                 order) whose construction this row's memo reuses; a
  *                 name filter that drops the provider exempts this row
  *                 from the history tripwire, since its first repeat
  *                 then pays a construction its history recorded warm
  *                 (a memoized row with no provider is self-contained:
  *                 its own memo slot, or an explicit release-and-rebuild)
  * @param recall   the exact metric (`cos` or `l2`) this row's recall@5
  *                 is scored against */
final case class BenchRow(name: String,
    form: Option[(SparkSession, String) => DataFrame] = None,
    memoized: Boolean = false,
    memoProvider: Option[String] = None,
    recall: Option[String] = None) {
  /** The form Bench times: the override, else the oracle form. */
  def timed: (SparkSession, String) => DataFrame =
    form.getOrElse(SparkEntry.queries(name))
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (one entry per implemented
  * operator from SURVEY §2 plus the training-data-pipeline operators);
  * `oracleSql` holds the DuckDB-equivalent SQL the driver checks each
  * entry against at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q1PricingSummary(spark, "/root/testdata/sf0.001")

  private def queryModules: Seq[Map[String, (SparkSession, String) => DataFrame]] =
    Seq(RelationalQueries.queries, EventQueries.queries,
      TextQueries.queries, DedupQueries.queries,
      SimilarityQueries.queries, DynamicRules.queries,
      MediaPipeline.queries, AnnLsh.queries, AnnIvf.queries,
      AsofJoin.queries, SubqueryQueries.queries,
      DecisionSupportQueries.queries, BehaviorQueries.queries,
      SketchQueries.queries, CurationQueries.queries,
      SemDedup.queries, BpeTrainer.queries, DataloaderQueries.queries,
      EntityResolution.queries, GraphQueries.queries, AnnPq.queries,
      AnnIvfPq.queries, graft.sources.BucketedLayout.queries)

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val merged = queryModules.reduce(_ ++ _)
    // Map ++ silently SHADOWS duplicate keys: a new module reusing an
    // existing query name would make the earlier query's parquet dump
    // — and with it its oracle compare — vanish without any signal.
    // Fail at the aggregation point instead.
    val total = queryModules.map(_.size).sum
    require(merged.size == total, {
      val dups = queryModules.flatMap(_.keys)
        .groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
      s"duplicate query names across modules: ${dups.mkString(", ")}"
    })
    merged
  }

  def oracleSql: Map[String, String] = {
    val mods = Seq(RelationalQueries.oracles, EventQueries.oracles,
      TextQueries.oracles, DedupQueries.oracles,
      SimilarityQueries.oracles, DynamicRules.oracles,
      MediaPipeline.oracles, AnnLsh.oracles, AnnIvf.oracles,
      AsofJoin.oracles, SubqueryQueries.oracles,
      DecisionSupportQueries.oracles, BehaviorQueries.oracles,
      SketchQueries.oracles, CurationQueries.oracles,
      SemDedup.oracles, BpeTrainer.oracles, DataloaderQueries.oracles,
      EntityResolution.oracles, GraphQueries.oracles, AnnPq.oracles,
      AnnIvfPq.oracles, graft.sources.BucketedLayout.oracles)
    val merged = mods.reduce(_ ++ _)
    require(merged.size == mods.map(_.size).sum,
      "duplicate oracle names across modules (Map ++ silently shadows)")
    // an oracle without a query would make the driver's compare report
    // a missing parquet for a query that does not exist — catch the
    // wiring mistake here, where the module author sees it
    val orphans = merged.keySet -- queries.keySet
    require(orphans.isEmpty, s"oracles without a query: ${orphans.mkString(", ")}")
    merged
  }

  /** Every benched row in sweep (alphabetical) order: each
    * [[queries]] name in its oracle form unless [[benchTable]] says
    * otherwise, plus the bench-only rows. */
  def benchRows: Seq[BenchRow] = {
    val listed = benchTable.map(_.name).toSet
    (benchTable ++ (queries.keySet -- listed).map(BenchRow(_)))
      .sortBy(_.name)
  }

  /** The rows benched other than as a plain, unmemoized oracle form.
    * Bench-only rows (no oracle) are the production forms benched
    * beside their exact oracle rows. An oracle row whose bench form
    * differs is tied to its oracle form by `BenchRowsSpec`. */
  private def benchTable: Seq[BenchRow] = Seq(
    // the CC family materializes the shared cluster-label table
    // (DedupQueries.simhashClusters memo), charged to the family's
    // first row; the other three reuse it, the sweep semantics the
    // sharing is for
    BenchRow("dedup_clusters", memoized = true),
    BenchRow("dedup_simhash_pairs", memoized = true,
      memoProvider = Some("dedup_clusters")),
    BenchRow("pipeline_keep", memoized = true,
      memoProvider = Some("dedup_clusters")),
    BenchRow("pipeline_keep_best", memoized = true,
      memoProvider = Some("dedup_clusters")),
    // the packed pagerank adjacency (orders⋈lineitem→distinct →
    // persisted CSR blocks) is construction-memoized per table
    // version; construction also runs the loop
    BenchRow("graph_pagerank", memoized = true),
    // the production convergence form beside the fixed-3-iteration
    // oracle form. The between-query cleanup has unpersisted the
    // packed blocks the oracle row built while its memo entry still
    // holds them — release it so this row is a self-contained
    // production run: adjacency build + persist + iterate-to-ε, all
    // in construction
    BenchRow("graph_pagerank_converged", memoized = true,
      form = Some { (s, d) =>
        GraphQueries.releaseAdjacency(s, d)
        val cr = GraphQueries.pageRankConverged(s, d)
        System.err.println(s"[bench] pageRankConverged: ${cr.iters} " +
          s"iterations, converged=${cr.converged} (eps=0.1% of max rank)")
        cr.ranks
      }),
    // construction MATERIALIZES the bucketed fact-table copies (the
    // write-side cost the co-location lever trades for): paid inside
    // the first timed repeat, not in the untimed warm-up
    BenchRow("layout_bucketed_join", memoized = true),
    // the amortized side of the pay-once layout trade: runs after the
    // cold row, so ensureBucketed serves from the session memo and
    // this times the exchange-free READ path. Memoized for the warm-up
    // exclusion only (warming it would materialize the copies untimed
    // and rob the cold row); Bench builds the copies untimed when a
    // filter selects this row without its cold twin
    BenchRow("layout_bucketed_join_warm", memoized = true,
      form = Some(graft.sources.BucketedLayout.bucketedJoin _)),
    // the embedding near-dup pair memo: built by the family's first
    // timed row, reused by sim_sem_dedup. Both oracle forms gate the
    // 6-bit width their static SQL pins (≤ 2048 vectors); the bench
    // runs the auto-width production pipelines
    BenchRow("sim_near_dup_lsh", memoized = true,
      form = Some((s, d) => AnnLsh.nearDupLsh(s, d))),
    BenchRow("sim_sem_dedup", memoized = true,
      memoProvider = Some("sim_near_dup_lsh"),
      form = Some(SemDedup.semDedupScaled _)),
    // auto-width production forms of the 6-bit oracle forms
    BenchRow("sim_ann_lsh", recall = Some("cos"),
      form = Some(AnnLsh.annTopKScaled _)),
    BenchRow("sim_ann_multiprobe", recall = Some("cos"),
      form = Some(AnnLsh.annMultiProbeScaled _)),
    // the IVF quantizer (count + sample + k-means + centroid
    // broadcast) is construction-memoized per table version
    BenchRow("sim_ann_ivf", memoized = true, recall = Some("cos")),
    // The TRAINED codebooks are the benched PQ defaults: on the
    // planted-cluster fixture the untrained SQL-replayable models lost
    // to their trained siblings 3-5x (0.06-0.16 vs 0.44-0.76
    // recall@5). The oracle gate still runs the untrained forms under
    // these names; they stay benched as the _baseline rows. Lloyd
    // training (sample collect + coarse & per-subspace k-means) is
    // construction-memoized — the first repeat pays it
    BenchRow("sim_ivfpq_topk", memoized = true, recall = Some("l2"),
      form = Some(AnnIvfPq.ivfPqTopKTrained _)),
    BenchRow("sim_ivfpq_refine", memoized = true, recall = Some("l2"),
      form = Some(AnnIvfPq.ivfPqRefineTopKTrained _)),
    BenchRow("sim_pq_adc_topk", memoized = true, recall = Some("l2"),
      form = Some(AnnPq.pqAdcTopKTrained _)),
    BenchRow("sim_ivfpq_baseline", recall = Some("l2"),
      form = Some(AnnIvfPq.ivfPqTopK _)),
    BenchRow("sim_pq_adc_baseline", recall = Some("l2"),
      form = Some(AnnPq.pqAdcTopK _)),
    // the recall-hungry routing point (nprobe = nlist/4, kf = 4: 0.92
    // recall where the default breadth plateaus at 0.84 on the planted
    // fixture), so the recall/cost knee is measured at the bench SFs.
    // Memoized for the warm-up exclusion only: warming it would train
    // the shared -refine model untimed and rob sim_ivfpq_refine's
    // first repeat
    BenchRow("sim_ivfpq_refine_wide", memoized = true,
      memoProvider = Some("sim_ivfpq_refine"),
      form = Some(AnnIvfPq.ivfPqRefineTopKTrainedWide _)),
    // the production corpus-model forms (fixed-size top-K model tables
    // with smoothed backoff — the 100 TB shape) beside the exact
    // oracle forms. Not memoized: every repeat rebuilds its model, so
    // min-over-repeats hides nothing (first-repeat reporting measured
    // one-time JIT as query cost: 9.3 s vs 6.4 s steady state)
    BenchRow("t_lm_perplexity_pruned",
      form = Some((s, d) => TextQueries.lmPerplexity(s, d, topK = 262144))),
    BenchRow("t_quality_classifier_pruned",
      form = Some((s, d) => TextQueries.qualityClassifier(s, d, topK = 262144))),
    // construction runs its driver-side control jobs (bounds +
    // histogram + sub-histogram — 3 corpus scans): not memoized, but
    // the warm-up must not run corpus-scale work it only means to
    // plan, and every repeat pays the identical build
    BenchRow("t_quantile_select", memoized = true))
}
