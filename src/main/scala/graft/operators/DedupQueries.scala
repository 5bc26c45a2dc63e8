package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{StageRecorder, Tables}
import graft.functions.GraftFunctions.tokens
import graft.functions.HashExpressions.{minhashSig, shingleHashes, simhash64}

/** Deduplication operators over `documents`: exact hash dedup, exact
  * n-gram Jaccard near-dup, MinHash+LSH, SimHash — the standard
  * large-corpus dedup ladder.
  *
  * Scale notes (100 TB): exact dedup is a hash groupBy (one shuffle on
  * the digest). The pairwise operators never materialize the O(n²)
  * cross product — candidates come from an inverted index (shingle,
  * MinHash band, or SimHash byte-block join) and only candidates are
  * verified. All hashing is md5-derived so the DuckDB oracle can
  * reproduce signatures bit-for-bit.
  */
object DedupQueries {

  /** Exact dedup: md5 digest groupBy; keeps min doc_id per digest. */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("digest"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("digest"))

  val exactDedupSql: String =
    """SELECT md5(text) AS digest, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
      |FROM documents GROUP BY 1 ORDER BY digest""".stripMargin

  /** Per-doc shingle inventory as ONE ROW PER DOCUMENT: the distinct
    * 3-gram shingles hashed to 60-bit md5-derived keys, held as a
    * SORTED array plus its cardinality. Built entirely narrowly (no
    * explode, no shuffle): tokenize → shingle → distinct → hash →
    * sort, all inside one projection pipeline.
    *
    * This representation is the scale lever of the near-dup operators:
    * candidate verification joins ONE row per doc (≈1 KiB of hashes)
    * instead of exploding every (doc, shingle) row, and the exact
    * intersection is an in-place `array_intersect` of two sorted
    * arrays. The shingle→distinct→md5→sort chain is one native kernel
    * ([[HashImpl.shingleHashes]] — a tight per-row loop inside
    * whole-stage codegen). Cached: each near-dup query reads it 2-3
    * times (prefix index + both sides of the verification join); the
    * cache is harness-scoped — Bench/Verify clear it after each
    * query — and at 100 TB it would be materialized to scratch
    * parquet instead. */
  private[graft] def docShingleArrays(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        shingleHashes(tokens(col("text")), 3).as("khs"))
      .select(col("doc_id"), size(col("khs")).as("n_sh"), col("khs"))
      .cache()

  /** Exact Jaccard ≥ `t` verification of candidate (id1, id2) pairs
    * against the doc-array inventory: two one-row-per-doc joins (AQE
    * broadcasts them at small scale; at 100 TB they are shuffled hash
    * joins keyed on doc_id, still one row per doc), then a merge-walk
    * intersection COUNT of the two sorted arrays — the
    * [[graft.functions.HashImpl.sortedIntersectCount]] kernel: no
    * per-shingle row explosion, no per-pair hash set, no materialized
    * intersection array (`size(array_intersect(..))` built both; this
    * loop runs once per candidate pair, the hottest loop of the dedup
    * family at scale). */
  private def verifyJaccard(cand: DataFrame, docs: DataFrame,
      t: Double): DataFrame = {
    // SHUFFLE_HASH on the one-row-per-doc build side: with the
    // cpp-bounded candidate set (hundreds of thousands, not
    // millions), hashing the docs side and streaming the thin pair
    // stream through it beats sort-merge — A/B in the same warm JVM
    // at the sf10 corpus: 5.8 s vs 42 s for the verification stage.
    // Conf escape hatch kept for profiling.
    def strat(df: DataFrame): DataFrame =
      docs.sparkSession.conf
        .get("spark.graft.ngram.verifyJoin", "shuffle_hash") match {
        case "smj" => df
        case h => df.hint(h)
      }
    val a = strat(docs.select(col("doc_id").as("id1"), col("n_sh").as("n1"),
      col("khs").as("k1")))
    val b = strat(docs.select(col("doc_id").as("id2"), col("n_sh").as("n2"),
      col("khs").as("k2")))
    cand.join(a, "id1").join(b, "id2")
      .withColumn("inter",
        graft.functions.HashExpressions.sortedIntersectCount(
          col("k1"), col("k2")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= t)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Exact 3-gram Jaccard near-dup pairs (threshold 0.7).
    *
    * Scale path: candidate pairs come from a PREFIX-FILTERED inverted
    * index (AllPairs/PPJoin): with shingles in a canonical md5 order,
    * a pair with J ≥ t must share a shingle among each side's first
    * n − ⌈t·n⌉ + 1 shingles, so only prefixes are self-joined — this
    * removes the quadratic blow-up of hot (stopword) shingles while
    * staying EXACT (every true pair survives; false candidates die in
    * the verification join). Joins run on the compact 60-bit
    * md5-derived `kh` key, which the oracle mirrors, instead of the
    * shingle string. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    verifyJaccard(ngramCandidates(s, dir), docShingleArrays(s, dir), 0.7)
      .orderBy(col("id1"), col("id2"))

  /** Candidate (id1, id2) pairs of [[ngramJaccard]] (plan audit:
    * plans/r18/dedup_ngram_jaccard_sf10_audit.txt). Exactness: every
    * pruning rule below only DISCARDS pairs the exact verification
    * would discard anyway; every true J ≥ 0.7 pair survives. */
  private def ngramCandidates(s: SparkSession, dir: String)
      : DataFrame = {
    val docs = docShingleArrays(s, dir)
    // prefix = first n − ⌈t·n⌉ + 1 hashes of the doc's canonically
    // (numerically) sorted array — a slice, no window sort needed
    val prefixLen = (col("n_sh") - ceil(col("n_sh") * lit(0.7)) + 1)
      .cast("int")
    // `get` (0-based, null past the end), NOT element_at: under Spark
    // 4's default ANSI mode element_at([], 1) THROWS, and a sub-n-token
    // doc has an empty shingle array with prefixLen = 1 — the
    // projection evaluates maxpref even though the adjacent explode
    // emits no row for it. A null maxpref on an empty array is inert
    // (no exploded rows ⇒ no candidates). Same pattern as the AnnLsh
    // emit-once prefix read.
    val prefix = docs.select(col("doc_id"), col("n_sh"),
      prefixLen.as("p"),
      get(col("khs"), prefixLen - 1).as("maxpref"),
      explode(slice(col("khs"), lit(1), prefixLen)).as("kh"))
    // Common-prefix-count upper bound (the PPJoin family's strongest
    // exact filter, and the one that matters on templated corpora):
    // with m = min(maxpref_a, maxpref_b), every common element ≤ m
    // lies in BOTH prefixes (the prefix is the set of the doc's
    // smallest p keys), so cpp = |prefix_a ∩ prefix_b| counts the
    // overlap below m EXACTLY; common elements above m live in the
    // SUFFIX of the side whose maxpref is m (on the other side they
    // may still be prefix members, so its remainder is no bound), so
    // the total overlap is at most cpp + (nᵢ − pᵢ) for that side.
    // J ≥ t needs overlap ≥ t/(1+t)·(n1+n2). Counting cpp per pair
    // (one map-side-combined aggregation — the same shuffle the old
    // emit-level distinct paid) prunes every pair whose prefixes meet
    // only in 1–2 hot template shingles, which the measured candidate
    // set was 99.6% made of (6.82M of 6.84M candidates at J < 0.1,
    // each sharing a single prefix key; the per-match positional
    // bound this replaces passed them all). The 1e-6 slack makes
    // double rounding of t/(1+t) strictly conservative: this filter
    // only ever DISCARDS pairs the exact verification would discard.
    prefix.as("a")
      .join(prefix.as("b"), col("a.kh") === col("b.kh") &&
        col("a.doc_id") < col("b.doc_id") &&
        // length filter: J ≥ 0.7 forces min(n1,n2) ≥ 0.7·max(n1,n2) —
        // prunes candidates only, so float rounding can't lose a true
        // pair that the exact verification would keep
        least(col("a.n_sh"), col("b.n_sh")).cast("double") >=
          greatest(col("a.n_sh"), col("b.n_sh")).cast("double") * lit(0.7))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.n_sh").as("n1"), col("b.n_sh").as("n2"),
        col("a.p").as("p1"), col("b.p").as("p2"),
        col("a.maxpref").as("m1"), col("b.maxpref").as("m2"))
      .agg(count(lit(1)).as("cpp"))
      .filter((col("cpp") +
          when(col("m1") <= col("m2"), col("n1") - col("p1"))
            .otherwise(col("n2") - col("p2"))).cast("double") >=
        (lit(0.7) / lit(1.7)) * (col("n1") + col("n2")) - lit(1e-6))
      .select(col("id1"), col("id2"))
  }

  /** Oracle counts intersections on the same 60-bit md5 key as the
    * Spark plan (collision behavior identical across engines); it
    * needs no prefix filter — the inverted-index form is exact too,
    * and exact == exact. */
  val ngramJaccardSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS kh
      |  FROM (SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(w)-1, 1)),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |    FROM toks))),
      |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
      |  FROM sh a JOIN sh b ON a.kh = b.kh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id1, id2,
      |  CAST(inter AS DOUBLE) / (c1.n_sh + c2.n_sh - inter) AS jaccard
      |FROM inter
      |JOIN counts c1 ON c1.doc_id = id1
      |JOIN counts c2 ON c2.doc_id = id2
      |WHERE CAST(inter AS DOUBLE) / (c1.n_sh + c2.n_sh - inter) >= 0.7
      |ORDER BY id1, id2""".stripMargin

  /** MinHash signatures (16 universal hash functions over 3-gram
    * shingles) + banded LSH (4 bands × 4 rows): candidate pairs share
    * at least one band, then are verified with exact Jaccard ≥ 0.7.
    * At scale this replaces the full shingle self-join with a
    * band-bucket join whose fan-out is controlled by the banding.
    *
    * The universal hash family is h_i(s) = (a_i·H(s) + b_i) mod 2^32
    * with H = first 8 md5 hex chars of the shingle (the top 32 of the
    * stored 60-bit key); a_i·H < 2^63 so the arithmetic is exact
    * BIGINT in both engines, and the oracle reproduces it verbatim.
    * Each signature slot is an `array_min` over the doc's hash array —
    * computed NARROWLY per document row, no (doc, shingle) explosion
    * and no aggregation shuffle at all. */
  /** (doc_id, band, bucket) LSH band-bucket rows of [[minhashLsh]].
    * Bucket population skew on this construction was audited at
    * sf0.1/1/10 (plans/r18/dedup_skew_counts.txt, OPTIMIZATION_r18.md):
    * no hot key. */
  private def minhashBuckets(docs: DataFrame): DataFrame = {
    val numHashes = 16
    val rowsPerBand = 4
    // shingle-less docs have no hashes to min over (the oracle's
    // per-shingle form never emits them either) — and without the
    // guard they'd all share one degenerate bucket
    val sig = docs.filter(col("n_sh") > 0)
      .select(col("doc_id"), minhashSig(col("khs"), numHashes).as("mh"))
    // bands: concat the hashes of each band into one bucket key
    val bandCols = (0 until numHashes / rowsPerBand).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col("mh").getItem(i).cast("string"))
      struct(lit(b).as("band"),
        concat_ws("_", cols: _*).as("bucket"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = docShingleArrays(s, dir)
    val buckets = minhashBuckets(docs)
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    verifyJaccard(cand, docs, 0.7)
      .orderBy(col("id1"), col("id2"))
  }

  /** Oracle: reproduces signatures/bands/verification with the same
    * md5-derived hashes. */
  val minhashLshSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS kh,
      |    CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) AS hbase
      |  FROM (SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(w)-1, 1)),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |    FROM toks))),
      |based AS (SELECT doc_id, hbase FROM sh),
      |hashes AS (
      |  SELECT doc_id, seed,
      |    MIN(((2*seed+1) * hbase + 2654435769 + seed * 2245772395) % 4294967296) AS h
      |  FROM based CROSS JOIN (SELECT unnest(range(0, 16)) AS seed)
      |  GROUP BY doc_id, seed),
      |bands AS (
      |  SELECT doc_id, seed // 4 AS band,
      |    string_agg(CAST(h AS VARCHAR), '_' ORDER BY seed) AS bucket
      |  FROM hashes GROUP BY doc_id, seed // 4),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT id1, id2, COUNT(*) AS inter
      |  FROM cand JOIN sh sa ON sa.doc_id = id1
      |  JOIN sh sb ON sb.doc_id = id2 AND sa.kh = sb.kh
      |  GROUP BY id1, id2)
      |SELECT id1, id2,
      |  CAST(inter AS DOUBLE) / (c1.n_sh + c2.n_sh - inter) AS jaccard
      |FROM inter
      |JOIN counts c1 ON c1.doc_id = id1
      |JOIN counts c2 ON c2.doc_id = id2
      |WHERE CAST(inter AS DOUBLE) / (c1.n_sh + c2.n_sh - inter) >= 0.7
      |ORDER BY id1, id2""".stripMargin

  /** 64-bit SimHash per document from distinct tokens, carried as two
    * 32-bit halves (`hi` = md5 hex chars 1-8, `lo` = chars 9-16) so
    * neither engine needs unsigned 64-bit arithmetic.
    *
    * Bit b of the signature is "bit (3 − b%4) of md5 hex digit b/4"
    * of each distinct token, majority-voted (cnt_b·2 ≥ n) — the same
    * mapping the oracle computes digit-by-digit. The whole signature
    * is ONE narrow per-row kernel ([[HashImpl.simhash64]]): no token
    * explosion, no aggregation, NO SHUFFLE at all. At 100 TB the
    * signature step is a pure map over the corpus. */
  private def sig64(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), simhash64(tokens(col("text"))).as("sig"))
      .select(col("doc_id"),
        col("sig").getItem(0).as("simhash_hi"),
        col("sig").getItem(1).as("simhash_lo"))

  /** Shared oracle CTE chain computing the same 64-bit signature. */
  private val sig64Cte: String =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |    FROM documents)),
      |hx AS (SELECT doc_id, substr(md5(tok), 1, 16) AS h16 FROM toks),
      |bits AS (
      |  SELECT doc_id, b,
      |    (strpos('0123456789abcdef', substr(h16, CAST(b // 4 + 1 AS INT), 1)) - 1) AS digit
      |  FROM hx CROSS JOIN (SELECT unnest(range(0, 64)) AS b)),
      |sbits AS (
      |  SELECT doc_id, b,
      |    CAST(SUM((CAST(FLOOR(digit / POWER(2, 3 - b % 4)) AS BIGINT) % 2) * 2 - 1) >= 0 AS BIGINT) AS sbit
      |  FROM bits GROUP BY doc_id, b),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN b < 32 THEN sbit * CAST(POWER(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash_hi,
      |    CAST(SUM(CASE WHEN b >= 32 THEN sbit * CAST(POWER(2, b - 32) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash_lo
      |  FROM sbits GROUP BY doc_id)""".stripMargin

  /** Signature query: one row per doc with the 64-bit SimHash. */
  def simhash(s: SparkSession, dir: String): DataFrame =
    sig64(s, dir).orderBy(col("doc_id"))

  val simhashSql: String =
    sig64Cte + "\nSELECT doc_id, simhash_hi, simhash_lo FROM sig ORDER BY doc_id"

  /** SimHash near-dup pairs: hamming distance ≤ 3 on the 64-bit
    * signature. Candidates come from a byte-block join — 8 bands of
    * 8 bits; by pigeonhole, ≤3 differing bits leave ≥5 bands
    * identical — so the exact answer needs no O(n²) pass, and the
    * 64-bit signature keeps the per-band buckets discriminative even
    * on low-entropy corpora (32-bit degenerated to a near-quadratic
    * candidate set). The oracle brute-forces all pairs (feasible at
    * oracle scale). */
  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    hammingPairs(s, dir).orderBy(col("id1"), col("id2"))

  /** Rounds taken by the most recent star-contraction run — test
    * observability for the O(log n) convergence claim. */
  @volatile private[graft] var lastStarRounds: Int = -1

  /** Test hook: run a NAMED CC path directly over an arbitrary
    * (id1, id2) pair DataFrame (DedupClustersSpec's agreement tests).
    * "propagate" is reachable ONLY through here and the
    * spark.graft.cc.algorithm conf — without this the propagation
    * loop had no executing test (the conf-forced spec comparison was
    * served from the simhashClusters memo and compared the driver
    * union-find's parquet with itself). */
  private[graft] def ccForTest(s: SparkSession, pairDf: DataFrame,
      path: String): DataFrame = {
    import s.implicits._
    path match {
      case "local" => ccUnionFindLocal(s, pairDf.as[(Long, Long)].collect())
      case "star" => ccStarDistributed(s, pairDf)
      case "propagate" =>
        ccPropagateDistributed(s, pairDf, 2 * pairDf.count())
      case other => throw new IllegalArgumentException(s"unknown cc path $other")
    }
  }

  /** Materialized hamming≤3 pair set, shared by dedup_simhash_pairs
    * and the CC family (dedup_clusters / pipeline_keep /
    * pipeline_keep_best): like the CC label table, the band join is
    * identical across its four consumers, so it is computed once per
    * (session, testdata version) into scratch parquet and re-read
    * (distributed write/read, keyed on documents.parquet mtime). */
  private[operators] def hammingPairs(s: SparkSession, dir: String): DataFrame = {
    val path = Tables.memoizedAtConstruction(s, dir, "documents",
      "simhash-pairs") {
      val out = Tables.scratchDir(s, dir, "documents", "pairs")
      computeHammingPairs(s, dir).write.mode("overwrite").parquet(out)
      out
    }
    s.read.parquet(path)
  }

  private def computeHammingPairs(s: SparkSession, dir: String): DataFrame = {
    // tiny (one row per doc) but expensive to recompute; reused by both
    // sides of the band self-join. Harness-scoped: Bench/Verify clear
    // the cache after each query materializes.
    val sig = sig64(s, dir).cache()
    // 4 blocks × 16 bits: pigeonhole-complete for hamming ≤ 3 (three
    // flips can dirty at most 3 of the 4 blocks, so every qualifying
    // pair collides on ≥1 clean block) — same guarantee the previous
    // 8×8 banding gave for ≤7, but each band now has 65536 values
    // instead of 256, which keeps bucket occupancy (and the candidate
    // count) LINEAR in corpus size: at 50k docs the 8-bit bands
    // averaged ~200 docs/bucket and the candidate set grew
    // quadratically (measured 13× on 10× data before this change)
    val bands = sig.select(col("doc_id"), col("simhash_hi"), col("simhash_lo"),
      explode(array((0 until 4).map { b =>
        val half = if (b < 2) col("simhash_hi") else col("simhash_lo")
        struct(lit(b).as("band"),
          shiftright(half, 16 * (b % 2)).bitwiseAND(65535).as("block"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("simhash_hi"), col("simhash_lo"),
        col("bb.band").as("band"), col("bb.block").as("block"))
    // Emit-once: a pair colliding in several bands is taken ONLY in
    // its first colliding band — for band b the candidate must DIFFER
    // in every earlier band's block, a pure column predicate on the
    // two sigs already in the row. Every qualifying pair then appears
    // exactly once, so no distinct (a full shuffle of the surviving
    // pair set) is needed, and duplicate candidates are discarded by a
    // cheap block compare instead of a shuffle. The hamming filter
    // runs in the same codegen stage.
    def blockOf(j: Int, hi: Column, lo: Column): Column = {
      val half = if (j < 2) hi else lo
      shiftright(half, 16 * (j % 2)).bitwiseAND(65535)
    }
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.block") === col("b.block") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter((0 until 4).map { j =>
        // for the colliding band b: all earlier bands j < b differ
        (col("a.band") <= lit(j)) ||
          (blockOf(j, col("a.simhash_hi"), col("a.simhash_lo")) =!=
            blockOf(j, col("b.simhash_hi"), col("b.simhash_lo")))
      }.reduce(_ && _))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        (bit_count(col("a.simhash_hi").bitwiseXOR(col("b.simhash_hi"))) +
          bit_count(col("a.simhash_lo").bitwiseXOR(col("b.simhash_lo"))))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  val simhashPairsSql: String =
    sig64Cte +
      """
      |SELECT a.doc_id AS id1, b.doc_id AS id2,
      |  CAST(bit_count(xor(a.simhash_hi, b.simhash_hi)) + bit_count(xor(a.simhash_lo, b.simhash_lo)) AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash_hi, b.simhash_hi)) + bit_count(xor(a.simhash_lo, b.simhash_lo)) <= 3
      |ORDER BY id1, id2""".stripMargin

  /** Duplicate CLUSTERS: connected components of the ≤3-hamming
    * near-dup graph — the step that turns pairwise hits into a
    * keep-one-per-cluster decision (every doc labeled with the min
    * doc_id of its component).
    *
    * Components come from min-label propagation: each round every node
    * takes the minimum label among itself and its neighbors; the loop
    * stops when no label changes (rounds ≈ component diameter, which
    * is small for near-dup clusters). This is the standard
    * large-graph CC pattern at 100 TB — the post-pruning edge set is
    * sparse and each round is one shuffle on the edge key.
    *
    * The oracle computes the same fixpoint with a recursive CTE:
    * connected components are algorithm-independent, so the outputs
    * agree exactly. */
  def simhashClusters(s: SparkSession, dir: String): DataFrame = {
    // The cluster-label table is shared by three queries
    // (dedup_clusters, pipeline_keep, pipeline_keep_best): materialize
    // it ONCE per (session, testdata version) to a temp parquet and
    // serve later callers from that file — the signature + band-join +
    // CC work is the family's dominant cost and is identical across
    // them. Distributed write/read (never a driver collect), keyed by
    // the documents.parquet mtime so regenerated data recomputes.
    val path = Tables.memoizedAtConstruction(s, dir, "documents", "simhash-cc") {
      val out = Tables.scratchDir(s, dir, "documents", "cc")
      computeSimhashClusters(s, dir).write.mode("overwrite").parquet(out)
      out
    }
    s.read.parquet(path).orderBy(col("doc_id"))
  }

  private def computeSimhashClusters(s: SparkSession, dir: String): DataFrame = {
    // Clustering runs ONLY over edge-touched nodes: every other doc is
    // trivially its own representative and joins back in at the end.
    // At corpus scale the near-dup subgraph is a small fraction of the
    // table, so neither path below ever rescans the corpus.
    // parquet-backed (the hammingPairs memo): no cache — the probe
    // count and the first contraction round each re-scan two long
    // columns vectorized, which is far cheaper than building a
    // deserialized row cache of the full pair set (measured 26 s of
    // pure cache-build at the 27.5M-edge sf10 graph)
    val pairDf = hammingPairs(s, dir).select(col("id1"), col("id2"))
    val labeled = connectedComponents(s, pairDf)
    val singletons = Tables.documents(s, dir).select(col("doc_id"))
      .join(labeled.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("rep"))
    labeled.union(singletons)
      .select(col("doc_id"), col("rep").as("cluster_rep"))
  }

  /** Connected components of an (id1, id2) edge set → (doc_id, rep)
    * with rep = component minimum. Size-based hybrid, same rationale
    * as broadcast-vs-shuffle joins: the candidate pair set is
    * post-LSH sparse and ALREADY materialized (caller caches it), so
    * when it fits the driver comfortably, union-find there beats
    * O(rounds) distributed passes by orders of magnitude; past the
    * threshold the fully distributed star contraction takes over.
    * Shared by the simhash clustering and the semantic-dedup
    * operators. */
  private[graft] def connectedComponents(s: SparkSession,
      pairDf: DataFrame): DataFrame = {
    import s.implicits._
    // MaxValue/2 cap: the driver finish allocates a 2×edges long array
    val threshold = math.min(
      s.conf.get("spark.graft.cc.localEdgeThreshold", "2000000").toLong,
      Int.MaxValue / 2 - 1L).toInt
    // The pair set reaching here is always materialized (scratch
    // parquet via the hammingPairs/nearDupLsh memo, or caller-cached),
    // so a count() is cheap — decide the path on it and collect ONLY
    // when the graph actually fits the driver bound. (The earlier
    // probe collected threshold+1 boxed rows just to decide: ~3.5 s of
    // pure driver transfer at the 27.5M-edge sf10 graph.)
    val edgeCount = pairDf.count()
    if (edgeCount <= threshold)
      ccUnionFindLocal(s, pairDf.as[(Long, Long)].collect())
    else s.conf.get("spark.graft.cc.algorithm", "star") match {
      case "propagate" => ccPropagateDistributed(s, pairDf, 2 * edgeCount)
      case _ => ccStarDistributed(s, pairDf)
    }
  }

  /** Driver-side connected components: union-find with path compression
    * and union-by-min-root, so each component's final root is exactly
    * its minimum doc_id (the same fixpoint the distributed path and the
    * oracle's recursive CTE reach). */
  private def ccUnionFindLocal(s: SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import s.implicits._
    // Primitive-array union-find over dense int indices: the boxed
    // HashMap[Long, Long] form generated ~2 allocations per find on
    // multi-million-edge graphs — on the bench driver's large heap
    // that garbage turned into multi-second GC pauses with huge
    // run-to-run variance (measured 4 s vs 47 s on the SAME 1.6M-edge
    // residual). Core shared with the per-partition pre-contraction
    // pass (CcKernels).
    val flat = new Array[Long](edges.length * 2)
    var w = 0
    edges.foreach { e => flat(w) = e._1; flat(w + 1) = e._2; w += 2 }
    val (ids, n, parent) = CcKernels.unionFind(flat, w)
    val rows = new Array[(Long, Long)](n)
    var k = 0
    while (k < n) { rows(k) = (ids(k), ids(parent(k))); k += 1 }
    // parallelize, never toDF: a LocalRelation of a few hundred
    // thousand rows embedded in the logical plan makes every
    // downstream Catalyst pass copy it (measured ~30 s of pure
    // planning in the sf10 cluster write); an RDD-backed scan keeps
    // the plan O(1)
    s.sparkContext.parallelize(rows.toIndexedSeq,
      math.max(1, math.min(s.sparkContext.defaultParallelism,
        rows.length / 50000 + 1))).toDF("doc_id", "rep")
  }

  /** Distributed connected components: Pregel-style co-partitioned RDD
    * min-label propagation — the one place this engine drops below the
    * DataFrame API, for the same reason GraphX does: a Catalyst plan
    * re-built, re-optimized, and re-codegen'd every round costs more
    * than the round's work, and DataFrames cannot express "stay
    * partitioned by this key across rounds". Edges are hash-partitioned
    * ONCE; each round is one reduceByKey shuffle (messages to dst) plus
    * a NARROW join back to the co-partitioned labels — zero redundant
    * shuffle, no per-round planning. Partition count is sized by the
    * observed edge count, so the same code runs 1 task at test scale
    * and hundreds at 100 TB. */
  /** `edgeCount` = DIRECTED edge count (2 × pair rows), passed down by
    * the caller — connectedComponents just counted the pair set to
    * pick this path, and re-counting here was a redundant full scan
    * of the multi-million-row pair table. */
  private def ccPropagateDistributed(s: SparkSession,
      pairDf: DataFrame, edgeCount: Long): DataFrame = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    import s.implicits._
    val edges0 = pairDf.rdd.flatMap(r =>
      Iterator((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
    // same sizing rule as the star path: edge-volume scaled, floored
    // at the cluster's parallelism
    val nParts = math.max(1, math.min(400,
      math.max(s.sparkContext.defaultParallelism, (edgeCount / 500000L).toInt)))
    val part = new HashPartitioner(nParts)
    val edges = edges0.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    // node labels, co-partitioned with edges by construction: after
    // partitionBy every copy of a key is in one partition, so a
    // per-partition Set dedupe is a full distinct
    var labels: RDD[(Long, Long)] = edges.mapPartitions(it => {
      val seen = scala.collection.mutable.HashSet.empty[Long]
      it.foreach { case (srcId, _) => seen += srcId }
      seen.iterator.map(n => (n, n))
    }, preservesPartitioning = true).persist(StorageLevel.MEMORY_AND_DISK)
    var changed = 1L
    var rounds = 0
    // Hard cap, surfaced on overrun: each call restarts labels from
    // scratch, so exiting unconverged would silently emit coarser
    // clusters than the exact-CC fixpoint the oracle computes. Rounds
    // ≈ component diameter (small for near-dup clusters); at extreme
    // scale the large-star/small-star variant would bound rounds at
    // O(log n).
    val maxRounds =
      s.conf.get("spark.graft.cc.maxRounds", "1000").toInt
    // the previous round's PERSISTED rdd (labels is just a mapValues
    // view of it, so the view must never be the unpersist target)
    var prevPersisted: RDD[_] = labels
    try while (changed > 0 && rounds < maxRounds) {
      StageRecorder.setIteration(s.sparkContext, rounds + 1)
      // messages: min neighbor label arriving at each dst
      val nbrMin = edges.join(labels)
        .map { case (_, (dst, rep)) => (dst, rep) }
        .reduceByKey(part, math.min(_, _))
      // narrow: labels and nbrMin share `part`
      val joined = labels.leftOuterJoin(nbrMin)
        .mapValues { case (prev, m) =>
          (prev, math.min(prev, m.getOrElse(prev))) }
        .persist(StorageLevel.MEMORY_AND_DISK)
      // truncate lineage before the action so round N+1 never
      // recomputes through round N
      joined.localCheckpoint()
      changed = joined.filter { case (_, (prev, next)) => prev != next }.count()
      labels = joined.mapValues(_._2)
      prevPersisted.unpersist(blocking = false)
      prevPersisted = joined
      rounds += 1
    } finally StageRecorder.clearIteration(s.sparkContext)
    if (changed != 0)
      throw new IllegalStateException(
        s"simhashClusters: min-label propagation not converged after " +
          s"$maxRounds rounds ($changed labels still moving); raise " +
          "spark.graft.cc.maxRounds")
    val out = labels.toDF("doc_id", "rep")
    edges.unpersist(blocking = false)
    out
  }

  /** Distributed connected components via alternating large-star /
    * small-star rounds (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) — the default scale path.
    *
    * Unlike min-label propagation, whose round count is the component
    * DIAMETER (pathological on chain-shaped clusters), star rounds
    * contract every component to a star rooted at its minimum node in
    * O(log n) rounds:
    *
    *   large-star: every node links its strictly-larger neighbors to
    *     the minimum of its closed neighborhood;
    *   small-star: every node links its smaller-or-equal neighbors
    *     (and itself) to that minimum.
    *
    * Each half-round is one groupByKey shuffle over the current edge
    * set on a fixed partitioner; lineage is truncated per round. The
    * fixpoint is a star forest rooted at component minima — the same
    * labeling as the union-find path and the oracle's recursive CTE. */
  private def ccStarDistributed(s: SparkSession,
      pairDf: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    import s.implicits._
    // cap at MaxValue/2: the driver finish allocates a 2×edges long
    // array, so a threshold past ~1.07B edges would overflow the
    // allocation size before the collect OOMs
    val finishThreshold = math.min(
      s.conf.get("spark.graft.cc.localEdgeThreshold", "2000000").toLong,
      Int.MaxValue / 2 - 1L).toInt
    // Phase 0 — partition-local pre-contraction (CcKernels
    // .spanningForest): one NARROW mapPartitions pass replaces the
    // dense edge multiset with each partition's spanning forest before
    // anything shuffles. At the sf10 graph (27.5M hamming≤3 edges over
    // ~500k touched docs, ~55 edges/doc) this is a ~17× reduction in
    // one pass over the parquet-backed pair set — the first large-star
    // round then shuffles the forest, not the raw edges. Conf escape
    // hatch for the convergence specs and A/B profiling.
    val preContract =
      s.conf.get("spark.graft.cc.preContract", "true").toBoolean
    val (inputEdges, prePersisted) = if (preContract) {
      val forest = pairDf.select(col("id1"), col("id2")).as[(Long, Long)]
        .mapPartitions(it => CcKernels.spanningForest(it))
        .toDF("id1", "id2")
        .persist(StorageLevel.MEMORY_AND_DISK)
      // The pair memo compresses brutally (sorted longs delta-encode:
      // 27.5M edges ≈ 43 MB across 32 files), so the default 128 MB
      // split packs the whole scan into 1-2 tasks and serializes the
      // pass (measured 48 s vs ~4 s at one-task-per-file). Narrow the
      // split conf for THIS job only — per-file tasks keep the memo's
      // id-clustered locality (which is what makes the local forests
      // contract well), where a repartition would both shuffle the full
      // edge multiset and destroy that locality. Confs are read at
      // plan time: the persist is materialized inside the window.
      val oldMax = s.conf.get("spark.sql.files.maxPartitionBytes")
      val oldCost = s.conf.get("spark.sql.files.openCostInBytes", "4194304")
      s.conf.set("spark.sql.files.maxPartitionBytes", "1m")
      s.conf.set("spark.sql.files.openCostInBytes", "0")
      // confs are read when the PHYSICAL plan is built — force that
      // (queryExecution.toRdd) inside the narrow window and restore
      // the session confs BEFORE the job runs, so the milliseconds of
      // plan-building are the only time a concurrently-planned query
      // in this shared session could pick up the 1 MB splits (the old
      // form held the narrowed confs for the whole multi-second count)
      val planned =
        try forest.queryExecution.toRdd
        finally {
          s.conf.set("spark.sql.files.maxPartitionBytes", oldMax)
          s.conf.set("spark.sql.files.openCostInBytes", oldCost)
        }
      val fc = planned.count()
      if (finishThreshold > 0 && fc <= finishThreshold) {
        val arr = forest.as[(Long, Long)].collect()
        forest.unpersist(blocking = false)
        lastStarRounds = 0
        return ccUnionFindLocal(s, arr)
      }
      (forest, Option(forest))
    } else (pairDf, Option.empty[DataFrame])
    // Phase 1 — DataFrame large-star rounds. Each large-star preserves
    // connectivity over the node set (Kiveris et al.'s lemma: every
    // node is linked toward its closed-neighborhood minimum), and on
    // dense near-dup graphs contracts geometrically (27.5M → 1.6M
    // edges in one round at the sf10 graph). Running these first
    // rounds through Catalyst instead of the RDD loop keeps the heavy
    // shuffles in Tungsten binary format with whole-stage codegen —
    // the RDD loop moves java-serialized boxed tuples, measured 78 s
    // for the same single round the DataFrame form does in a few
    // seconds. The RDD loop remains the convergence tail for graphs
    // whose contracted residual still exceeds the driver bound
    // (alternating large/small-star there guarantees O(log n)
    // termination, which large-star alone does not).
    if (finishThreshold > 0) {
      val dfRounds = s.conf.get("spark.graft.cc.dfRounds", "4").toInt
      var cur = inputEdges.select(col("id1"), col("id2"))
      var persisted: Option[DataFrame] = prePersisted
      // previous round's broadcast min-table: executor copies are
      // dropped once the round that read it is superseded, but the
      // driver copy must survive until the parallelize-backed finish —
      // cache-loss recompute of the LIVE round's nxt walks the lineage
      // back through every prior round's broadcast lookup
      var prevBc: Option[org.apache.spark.broadcast.Broadcast[_]] = None
      var rounds = 0
      try while (rounds < dfRounds) {
        StageRecorder.setIteration(s.sparkContext, rounds + 1)
        // Large-star needs exactly ONE emission per edge: orienting
        // (lo, hi) = (min, max), the only center that links anything
        // through this edge is lo — it links hi to mm(lo), the minimum
        // of lo's closed neighborhood. So the heavy join runs over the
        // oriented edge set once (not the 2|E| bidirectional form);
        // only the per-node min aggregation, which map-side-combines
        // down to one row per node before its shuffle, reads both
        // directions.
        val e = cur.select(least(col("id1"), col("id2")).as("lo"),
          greatest(col("id1"), col("id2")).as("hi"))
        val m = e.select(col("lo").as("n"), col("hi").as("nbr"))
          .union(e.select(col("hi").as("n"), col("lo").as("nbr")))
          .groupBy(col("n"))
          .agg(min(col("nbr")).as("mn"))
          .select(col("n"), least(col("n"), col("mn")).as("mm"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // The min-table has one row per TOUCHED NODE — corpus-bounded
        // and tiny relative to the edge set on dense near-dup graphs
        // (500k nodes vs 27.5M edges at the sf10 graph). When it fits
        // the broadcast gate, ship it as a sorted primitive-array map
        // and turn the round's heavy step — the edges ⋈ min-table
        // shuffle join over the full edge set — into a NARROW
        // map-partition lookup: the round then shuffles only the
        // per-node minima (map-side combined) and the contracted
        // distinct output, never the raw edges. Same output as the
        // join by construction (mm ≤ lo < hi, lookup is total on lo).
        // Past the gate (billions of touched nodes at 100 TB) the
        // shuffle join below remains the honest path — the same
        // size-gated pattern as broadcast-vs-shuffle join selection.
        val nNodes = m.count()
        val bcastGate =
          s.conf.get("spark.graft.cc.broadcastNodeThreshold", "8000000").toLong
        var bcOpt: Option[org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Long])]] = None
        val nxt = (if (nNodes <= bcastGate) {
          val mm = m.as[(Long, Long)].collect().sortBy(_._1)
          m.unpersist(blocking = false)
          val keys = new Array[Long](mm.length)
          val vals = new Array[Long](mm.length)
          var i = 0
          while (i < mm.length) { keys(i) = mm(i)._1; vals(i) = mm(i)._2; i += 1 }
          val bc = s.sparkContext.broadcast((keys, vals))
          bcOpt = Some(bc)
          e.as[(Long, Long)].mapPartitions { it =>
            val (ks, vs) = bc.value
            it.map { case (lo, hi) =>
              val j = java.util.Arrays.binarySearch(ks, lo)
              (hi, if (j >= 0) vs(j) else lo)
            }
          }.toDF("id1", "id2").distinct()
        } else {
          e.join(m, col("lo") === col("n"))
            .select(col("hi").as("id1"), col("mm").as("id2"))
            .distinct()
        }).persist(StorageLevel.MEMORY_AND_DISK)
        val cnt = nxt.count()
        if (bcOpt.isEmpty) m.unpersist(blocking = false)
        // unpersist (not destroy): a lost cached partition of nxt can
        // still recompute — the driver re-ships the broadcast value
        bcOpt.foreach(_.unpersist(blocking = false))
        rounds += 1
        if (cnt <= finishThreshold) {
          val arr = nxt.as[(Long, Long)].collect()
          nxt.unpersist(blocking = false)
          persisted.foreach(_.unpersist(blocking = false))
          // out below is parallelize-backed — nothing depends on the
          // broadcasts any more; destroy reclaims the driver copies too
          prevBc.foreach(_.destroy())
          bcOpt.foreach(_.destroy())
          lastStarRounds = rounds
          return ccUnionFindLocal(s, arr)
        }
        persisted.foreach(_.unpersist(blocking = false))
        persisted = Some(nxt)
        // the superseded round's broadcast is still REACHABLE through
        // the live round's lineage: a lost cached partition of nxt(r)
        // recomputes through nxt(r-1)'s mapPartitions, which reads
        // bc(r-1) — destroy() would turn that recompute into a hard
        // failure, so only drop the executor copies (the driver
        // re-ships on demand; driver copies are bounded by the ~4
        // rounds the gate allows and are destroyed in the
        // parallelize-backed finish path, where nothing can recompute
        // through them)
        prevBc.foreach(_.unpersist(blocking = false))
        prevBc = bcOpt
        cur = nxt
      } finally StageRecorder.clearIteration(s.sparkContext)
      val out = ccStarRddLoop(s, cur, finishThreshold, rounds)
      persisted.foreach(_.unpersist(blocking = false))
      // same reachability argument: the RDD loop's output may retain
      // lineage through cur's broadcast-lookup stage
      prevBc.foreach(_.unpersist(blocking = false))
      out
    } else {
      val out = ccStarRddLoop(s, inputEdges, finishThreshold, 0)
      prePersisted.foreach(_.unpersist(blocking = false))
      out
    }
  }

  /** The RDD star-contraction loop — alternating large-star /
    * small-star rounds on a fixed HashPartitioner until the edge set
    * reproduces itself (or, mid-loop, fits the bounded driver finish).
    * Reached only when the DataFrame contraction phase above leaves a
    * residual larger than the driver bound (or is disabled for the
    * convergence specs). */
  private def ccStarRddLoop(s: SparkSession, pairDf: DataFrame,
      finishThreshold: Int, priorRounds: Int): DataFrame = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    import s.implicits._
    val edgeCount = pairDf.count()
    // size by edge volume for the 100 TB end, but FLOOR at the
    // cluster's parallelism: a few-million-edge graph divided into
    // edges/500k partitions ran 5 tasks on a 32-core box (measured
    // 210 s at sf10); with the floor the same loop saturates the
    // executors it has
    val nParts = math.max(1, math.min(400,
      math.max(s.sparkContext.defaultParallelism, (edgeCount / 500000L).toInt)))
    val part = new HashPartitioner(nParts)
    // Both half-rounds are expressed as ONE key-shuffle (partitionBy)
    // followed by a NARROW reduceByKey (per-neighborhood min) and a
    // NARROW join back — no groupByKey: materializing each node's
    // neighbor Iterable (and per-group Set dedup) dominated the round
    // cost on dense near-dup graphs (measured at the 27.5M-edge sf10
    // graph); duplicate emissions are collapsed by the round's global
    // distinct, which needs to run anyway for the convergence test.
    def largeStar(es: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val bidir = es.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
        .partitionBy(part)
      val m = bidir.reduceByKey(part, math.min(_, _))
        .map { case (u, mn) => (u, math.min(u, mn)) }
      bidir.join(m, part).flatMap { case (u, (v, mm)) =>
        if (v > u) Iterator((v, mm)) else Iterator.empty
      }
    }
    def smallStar(es: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val dirEs = es.map { case (u, v) => if (u > v) (u, v) else (v, u) }
        .partitionBy(part)
      // all neighbors on the value side are < u, so the per-key min is
      // the star center; u itself links there too
      val m = dirEs.reduceByKey(part, math.min(_, _))
      dirEs.join(m, part).flatMap { case (_, (v, mm)) =>
        if (v != mm) Iterator((v, mm)) else Iterator.empty
      }.union(m)
    }
    // No initial distinct: both half-round outputs are distinct-ed
    // below, the union-find finish dedups on the driver, and the
    // convergence test only ever compares two distinct-ed sets — so a
    // caller-supplied duplicate edge costs one emission, never
    // correctness, and the full-width shuffle a global dedup of the
    // input multiset would take is saved.
    var edges: RDD[(Long, Long)] = pairDf.as[(Long, Long)].rdd
      .map { case (a, b) => if (a > b) (a, b) else (b, a) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val maxRounds = s.conf.get("spark.graft.cc.maxRounds", "1000").toInt
    // The bounded-driver hybrid applies RECURSIVELY: each half-round
    // preserves connectivity over the same node set (Kiveris et al.'s
    // large-star/small-star lemmas — every surviving node keeps or
    // receives a link into its component), so once a contracted edge
    // set fits the driver bound, union-find finishes the job. Dense
    // graphs contract geometrically (27.5M → 389k edges in ONE
    // large-star at the sf10 graph), so the check runs after EACH
    // half-round and usually fires before a single small-star pass.
    // Set spark.graft.cc.localEdgeThreshold=0 to force the pure
    // distributed loop (the specs do, to exercise convergence).
    var rounds = priorRounds
    var converged = false
    var prevCount = -1L // previous round's (distinct) edge count
    def finishLocally(residual: RDD[(Long, Long)],
        toRelease: Seq[RDD[_]]): DataFrame = {
      val arr = residual.collect()
      toRelease.foreach(_.unpersist(blocking = false))
      lastStarRounds = rounds
      ccUnionFindLocal(s, arr)
    }
    try while (!converged && rounds < maxRounds) {
      StageRecorder.setIteration(s.sparkContext, rounds + 1)
      val half =
        if (finishThreshold > 0) {
          val ls = largeStar(edges).distinct(nParts)
            .persist(StorageLevel.MEMORY_AND_DISK)
          ls.localCheckpoint()
          val lsCount = ls.count()
          if (lsCount <= finishThreshold) {
            rounds += 1
            return finishLocally(ls, Seq(edges, ls))
          }
          ls
        } else largeStar(edges)
      val next = smallStar(half).distinct(nParts)
        .persist(StorageLevel.MEMORY_AND_DISK)
      next.localCheckpoint()
      val nextCount = next.count()
      rounds += 1
      if (finishThreshold > 0 && nextCount <= finishThreshold)
        return finishLocally(next, Seq(edges, half, next))
      // fixpoint: the (already deduplicated) star edge set reproduces
      // itself — compare as sets via one subtract on the co-partitioned
      // layout plus a count (the subtract only runs once counts agree;
      // the first round has no distinct-ed predecessor and never
      // converges)
      converged = prevCount >= 0 && nextCount == prevCount &&
        next.subtract(edges, part).isEmpty()
      val prev = edges
      edges = next
      prevCount = nextCount
      prev.unpersist(blocking = false)
      half.unpersist(blocking = false) // no-op when the half wasn't persisted
    } finally StageRecorder.clearIteration(s.sparkContext)
    if (!converged)
      throw new IllegalStateException(
        s"simhashClusters: star contraction not converged after " +
          s"$maxRounds rounds; raise spark.graft.cc.maxRounds")
    lastStarRounds = rounds
    // converged star forest: (node → component min) for every non-root;
    // roots label themselves
    val roots = edges.map(_._2).distinct(nParts).map(r => (r, r))
    val out = edges.union(roots).toDF("doc_id", "rep")
    // materialize before dropping the backing blocks
    out.cache().count()
    edges.unpersist(blocking = false)
    out
  }

  val simhashClustersSql: String =
    sig64Cte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """,
      |pairs AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash_hi, b.simhash_hi)) + bit_count(xor(a.simhash_lo, b.simhash_lo)) <= 3),
      |peers AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION SELECT id2, id1 FROM pairs),
      |reach AS (
      |  SELECT doc_id AS node, doc_id AS r FROM documents
      |  UNION
      |  SELECT p.dst AS node, reach.r FROM reach JOIN peers p ON p.src = reach.node)
      |SELECT node AS doc_id, MIN(r) AS cluster_rep
      |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  /** End-to-end curation composition: a document survives iff it
    * passes the quality filter AND is its near-dup cluster's
    * representative — the shape of a real pretraining keep/drop
    * decision (filters compose; dedup keeps one doc per cluster). */
  def pipelineKeep(s: SparkSession, dir: String): DataFrame = {
    val quality = TextQueries.qualityScore(s, dir)
      .filter(col("keep")).select(col("doc_id"))
    simhashClusters(s, dir)
      .filter(col("doc_id") === col("cluster_rep"))
      .join(quality, "doc_id")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  val pipelineKeepSql: String =
    sig64Cte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """,
      |pairs AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash_hi, b.simhash_hi)) + bit_count(xor(a.simhash_lo, b.simhash_lo)) <= 3),
      |peers AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION SELECT id2, id1 FROM pairs),
      |reach AS (
      |  SELECT doc_id AS node, doc_id AS r FROM documents
      |  UNION
      |  SELECT p.dst AS node, reach.r FROM reach JOIN peers p ON p.src = reach.node),
      |clusters AS (SELECT node AS doc_id, MIN(r) AS rep FROM reach GROUP BY node),
      |q AS (
      |  SELECT doc_id,
      |    (n_tokens >= 10 AND CAST(n_distinct AS DOUBLE)/n_tokens >= 0.2
      |      AND CAST(n_stop AS DOUBLE)/n_tokens <= 0.5) AS keep
      |  FROM (
      |    SELECT doc_id,
      |      CAST(len(w) AS BIGINT) AS n_tokens,
      |      CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
      |      CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in'))) AS BIGINT) AS n_stop
      |    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)))
      |SELECT c.doc_id AS doc_id FROM clusters c JOIN q ON q.doc_id = c.doc_id
      |WHERE q.keep AND c.doc_id = c.rep ORDER BY c.doc_id""".stripMargin

  /** Cluster retention by quality ARGMAX (the FineWeb/Dolma policy)
    * instead of [[pipelineKeep]]'s min-id representative: for each
    * near-dup cluster, among its quality-passing members, keep the
    * one with the highest type-token ratio (tie-break lowest doc_id).
    * Clusters with no quality-passing member are dropped entirely —
    * the policy difference that matters in production: min-id keeps
    * an arbitrary copy, argmax keeps the best copy.
    *
    * Scale: [[simhashClusters]]' distributed CC plus ONE extra hash
    * exchange on cluster_rep; the rank and member-count windows share
    * that partitioning, so the retention decision adds a single
    * shuffle regardless of corpus size. TTR ordering is a comparison
    * of identical IEEE divisions, deterministic cross-engine. */
  def pipelineKeepBest(s: SparkSession, dir: String): DataFrame = {
    val q = TextQueries.qualityScore(s, dir)
      .filter(col("keep"))
      .select(col("doc_id"), col("ttr"))
    val members = simhashClusters(s, dir).join(q, "doc_id")
    val byRep = Window.partitionBy(col("cluster_rep"))
    val rank = byRep.orderBy(col("ttr").desc, col("doc_id"))
    members
      .withColumn("rn", row_number().over(rank))
      .withColumn("n_kept_members", count(lit(1)).over(byRep))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cluster_rep"), col("n_kept_members"),
        col("ttr"))
      .orderBy(col("doc_id"))
  }

  val pipelineKeepBestSql: String =
    sig64Cte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """,
      |pairs AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash_hi, b.simhash_hi)) + bit_count(xor(a.simhash_lo, b.simhash_lo)) <= 3),
      |peers AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION SELECT id2, id1 FROM pairs),
      |reach AS (
      |  SELECT doc_id AS node, doc_id AS r FROM documents
      |  UNION
      |  SELECT p.dst AS node, reach.r FROM reach JOIN peers p ON p.src = reach.node),
      |clusters AS (SELECT node AS doc_id, MIN(r) AS rep FROM reach GROUP BY node),
      |q AS (
      |  SELECT doc_id, CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
      |    (n_tokens >= 10 AND CAST(n_distinct AS DOUBLE)/n_tokens >= 0.2
      |      AND CAST(n_stop AS DOUBLE)/n_tokens <= 0.5) AS keep
      |  FROM (
      |    SELECT doc_id,
      |      CAST(len(w) AS BIGINT) AS n_tokens,
      |      CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
      |      CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in'))) AS BIGINT) AS n_stop
      |    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents))),
      |kept AS (
      |  SELECT c.doc_id, c.rep, q.ttr,
      |    ROW_NUMBER() OVER (PARTITION BY c.rep ORDER BY q.ttr DESC, c.doc_id) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY c.rep) AS BIGINT) AS n_kept_members
      |  FROM clusters c JOIN q ON q.doc_id = c.doc_id
      |  WHERE q.keep)
      |SELECT doc_id, rep AS cluster_rep, n_kept_members, ttr
      |FROM kept WHERE rn = 1 ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_keep_best" -> (pipelineKeepBest _),
    "dedup_simhash_pairs" -> (simhashPairs _),
    "dedup_exact" -> (exactDedup _),
    "dedup_ngram_jaccard" -> (ngramJaccard _),
    "dedup_minhash_lsh" -> (minhashLsh _),
    "dedup_simhash" -> (simhash _),
    "dedup_clusters" -> (simhashClusters _),
    "pipeline_keep" -> (pipelineKeep _))

  val oracles: Map[String, String] = Map(
    "pipeline_keep_best" -> pipelineKeepBestSql,
    "dedup_simhash_pairs" -> simhashPairsSql,
    "dedup_exact" -> exactDedupSql,
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    "dedup_minhash_lsh" -> minhashLshSql,
    "dedup_clusters" -> simhashClustersSql,
    "pipeline_keep" -> pipelineKeepSql,
    "dedup_simhash" -> simhashSql)
}

/** Allocation-free union-find primitives shared by the driver-side CC
  * finish and the executor-side partition-local pre-contraction. A
  * top-level module so executor closures reference the static module
  * (no outer-object capture). */
private[graft] object CcKernels {

  /** Union-find over an interleaved (u,v) edge array (`flat(0..len)`,
    * len even). Returns (sorted unique node ids, node count n, parent)
    * with parent FULLY path-compressed: `parent(k)` is k's root index.
    * Node ids are sorted + dedup'd once; index order then equals id
    * order, so union-by-smaller-INDEX root is exactly union-by-min-ID —
    * each component's root is its minimum id (the fixpoint the
    * distributed path and the oracle's recursive CTE reach), with zero
    * allocation in the hot loop. */
  def unionFind(flat: Array[Long], len: Int): (Array[Long], Int, Array[Int]) = {
    val ids = java.util.Arrays.copyOf(flat, len)
    java.util.Arrays.sort(ids)
    var n = 0
    var r = 0
    while (r < ids.length) {
      if (n == 0 || ids(n - 1) != ids(r)) { ids(n) = ids(r); n += 1 }
      r += 1
    }
    val parent = new Array[Int](n)
    var k = 0
    while (k < n) { parent(k) = k; k += 1 }
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = root; c = nx }
      root
    }
    var i = 0
    while (i < len) {
      val ra = find(java.util.Arrays.binarySearch(ids, 0, n, flat(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, 0, n, flat(i + 1)))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
      i += 2
    }
    k = 0
    while (k < n) { parent(k) = find(k); k += 1 }
    (ids, n, parent)
  }

  /** Partition-local pre-contraction: run union-find over one edge
    * partition and emit its spanning FOREST — (node → partition-local
    * component minimum) for every non-root node, ≤ nodes−1 edges
    * regardless of the partition's edge count. Connectivity over the
    * node set is exactly preserved (each partition's components map to
    * stars), so any downstream CC pass reaches the same global
    * fixpoint. On dense near-dup graphs (tens of edges per doc) this
    * one NARROW pass shrinks the edge multiset by the graph's average
    * degree before the first shuffle — the contraction the global
    * large-star rounds would otherwise pay full edge-set shuffles for. */
  def spanningForest(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    var cap = 1 << 12
    var flat = new Array[Long](cap)
    var w = 0
    while (it.hasNext) {
      val e = it.next()
      if (w + 2 > cap) {
        cap <<= 1
        flat = java.util.Arrays.copyOf(flat, cap)
      }
      flat(w) = e._1; flat(w + 1) = e._2; w += 2
    }
    if (w == 0) Iterator.empty
    else {
      val (ids, n, parent) = unionFind(flat, w)
      Iterator.range(0, n).flatMap { k =>
        val r = parent(k)
        if (r != k) Iterator.single((ids(k), ids(r))) else Iterator.empty
      }
    }
  }
}
