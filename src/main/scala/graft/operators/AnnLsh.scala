package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions.dotProduct
import graft.functions.HashExpressions.lshBuckets

/** Approximate nearest-neighbor search via random-hyperplane LSH —
  * the scale path of the similarity operators.
  *
  * Brute force is a full cross join (candidates × queries); at corpus
  * scale that is O(N·Q·d). This variant hashes every vector into
  * `tables` independent signatures of `bits` hyperplane signs; a
  * candidate is scored only if it shares at least one (table, bucket)
  * with the query, then survivors are exactly re-ranked. Bucket
  * collisions shrink the scored set by orders of magnitude while
  * keeping high recall for genuinely close vectors.
  *
  * Hyperplanes are Rademacher (±1) vectors derived from md5 of the
  * plane's name — a valid sign-random-projection family that both
  * engines reproduce bit-for-bit (products are exactly ±v[i], folded
  * left-to-right), so the whole approximate query is deterministic and
  * has an exact DuckDB oracle. At 100 TB the bucket join shuffles on
  * the compact (table, bucket) key instead of broadcasting the corpus.
  */
object AnnLsh {

  val Dim = 64

  /** Deterministic Rademacher hyperplanes: component i of plane (t,b)
    * is +1 if bit i of md5("hp_t_b") is set, else −1 (hex digit i/4,
    * bit 3 − i%4 — the same convention as the SimHash operators). */
  def hyperplanes(tables: Int, bits: Int): Array[Array[Array[Double]]] = {
    val mdig = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(tables, bits) { (t, b) =>
      val hex = mdig.digest(s"hp_${t}_${b}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Array.tabulate(Dim) { i =>
        val digit = Character.digit(hex(i / 4), 16)
        if (((digit >> (3 - i % 4)) & 1) == 1) 1.0 else -1.0
      }
    }
  }

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Embedding scan spread for the signature kernel: the hyperplane
    * kernel is ~16 K flops/row (tables × bits × Dim), so the scan
    * stage it runs in must not be starved of tasks — and a
    * single-file parquet corpus splits only at row-group boundaries
    * (the 52 MB sf10 file is 2 row groups → 2 tasks for a 3.3 GFLOP
    * pass). When the scan's natural parallelism is below the
    * cluster's, repartition the RAW float rows first (a 52 MB shuffle
    * buys a 16× wider kernel stage); at real corpus scale the file
    * count exceeds the parallelism and the gate turns the extra
    * exchange off. */
  private def spreadForKernel(s: SparkSession, df: DataFrame): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** Signature table (vec_id, table, bucket) — one SLIM row per
    * (vector, table): the index the bucket join runs on carries no
    * vector payload, so the join + candidate-dedup shuffles move three
    * integer columns, never the 64-double embeddings (which an earlier
    * form duplicated `tables`× through cache and shuffle). All
    * `tables` bucket signatures (bit b of bucket t is sign(v · h_{t,b}))
    * come from ONE native kernel call per row
    * ([[graft.functions.HashImpl.lshBuckets]]) — same left-to-right
    * fold, so oracle parity is untouched. */
  def sigTable(s: SparkSession, dir: String, tables: Int, bits: Int)
      : DataFrame =
    spreadForKernel(s, Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"),
        posexplode(lshBuckets(col("v"), tables, bits)).as(Seq("table", "bucket")))
      .select(col("vec_id"),
        col("table").cast("int").as("table"), col("bucket"))

  /** Vector table (vec_id, v, norm) — joined back to surviving
    * candidate ids for the exact re-rank only. */
  def vecTable(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("norm", sqrt(dotProduct(col("v"), col("v"))))

  /** Exact cosine re-rank of a (qid, cid) candidate-pair frame —
    * shared by the top-k and multi-probe shapes (one copy of the
    * verify-join orientation, which already had to be fixed twice
    * when it lived inline in both).
    *
    * Verify join orientation: the candidate set is occupancy-bounded
    * (queries × tables × occupancy — INDEPENDENT of corpus size), so
    * broadcast it and stream the corpus-side vector table through the
    * hash join — the corpus never shuffles; the top-k finish is the
    * bounded [[graft.functions.TopK]] aggregate shared with the
    * cosine/SQ8/IVF/PQ forms, so no window partition ever holds more
    * than the matched candidates of one map task. Relying on AQE to
    * discover the broadcast at runtime works at bench scale but is
    * not guaranteed once the candidate stats pass the adaptive
    * threshold at 100 TB. */
  private[operators] def rerank(s: SparkSession, dir: String, ids: DataFrame,
      k: Int): DataFrame = {
    val vec = vecTable(s, dir)
    val qv = vec.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    val cv = vec.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("norm").as("cn"))
    val scored = cv.join(broadcast(ids.join(broadcast(qv), "qid")), "cid")
      .select(col("qid"), col("cid"),
        (dotProduct(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .as("cos"))
    graft.functions.TopK.perQueryTopK(scored, col("cos"), k,
      desc = true, scoreName = "cos")
  }

  /** Approximate top-k: candidates sharing ≥1 LSH bucket with the
    * query, exactly re-ranked by cosine.
    *
    * Defaults tuned for moderate-similarity neighbors (random-ish
    * corpora): many short signatures (16 tables × 6 bits) rather than
    * few long ones — collision probability per table stays usable even
    * when the true top-k sits near cosine ≈ 0.5. `bits` should grow
    * with log(corpus) at scale to keep buckets small. */
  def annTopK(s: SparkSession, dir: String, k: Int = 5,
      tables: Int = 16, bits: Int = 6): DataFrame =
    rerank(s, dir, candidatePairs(s, dir, tables, bits), k)

  /** The distinct (qid, cid) candidate set a (tables, bits) index
    * yields — the probe-cost side of the OR-amplification trade the
    * recall report measures (candidate count is what the exact re-rank
    * pays for; index rows per vector = tables is what storage pays). */
  private[operators] def candidatePairs(s: SparkSession, dir: String,
      tables: Int, bits: Int): DataFrame = {
    val sig = sigTable(s, dir, tables, bits)
    sig.filter(col("vec_id") >= 10)
      .withColumnRenamed("vec_id", "cid")
      .join(sig.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "qid"),
        Seq("table", "bucket"))
      .select(col("qid"), col("cid"))
      .distinct()
  }

  /** Occupancy-bounded signature width: bits must grow with
    * log₂(corpus) or bucket occupancy — and with it the candidate
    * count — grows linearly and the pair join quadratically (measured
    * 36× on 10× data at fixed 6 bits). `max(6, ⌈log₂(n/32)⌉)` keeps
    * mean occupancy ≈ 32 per (table, bucket); 6 remains the floor, so
    * every corpus up to 2048 vectors (all oracle-gated SFs) hashes
    * exactly as the static DuckDB oracle does. Override:
    * `spark.graft.lsh.bits`. */
  private[graft] def bitsFor(s: SparkSession, n: Long): Int =
    s.conf.getOption("spark.graft.lsh.bits").map(_.toInt).getOrElse(
      math.max(6, math.ceil(
        math.log(math.max(1L, n) / 32.0) / math.log(2)).toInt))

  /** Width rule for the ALL-PAIRS shape ([[nearDupLsh]]): candidate
    * volume there is occupancy·n·tables/2 — linear in n but with
    * occupancy as the constant — and every candidate is verified with
    * both embeddings co-located, so the occupancy≈32 that suits the
    * top-k shape (whose candidate volume is occupancy·queries·tables)
    * costs a 63M-candidate, tens-of-GB verify shuffle at the 200k-
    * vector scale set. Target occupancy ≈ 4 instead: 16 tables still
    * put a cos≈0.95 near-duplicate in a shared bucket with probability
    * >99.9% at any width the rule yields, and the verify join stays
    * proportional to the true near-dup density. Corpora ≤ 2048
    * vectors (every oracle-gated SF) stay on the static 6-bit width
    * the DuckDB oracle is pinned to — at those sizes the whole pair
    * set is benchmark-small anyway. Same `spark.graft.lsh.bits`
    * override. */
  private[graft] def pairsBitsFor(s: SparkSession, n: Long): Int =
    s.conf.getOption("spark.graft.lsh.bits").map(_.toInt).getOrElse(
      if (n <= 2048) 6
      else math.ceil(
        math.log(math.max(1L, n) / 4.0) / math.log(2)).toInt)

  /** Corpus count memo ([[Tables.memoizedAtConstruction]], keyed with
    * the table's mtime so an in-session regeneration re-counts): the
    * width gate needs the count at PLAN-CONSTRUCTION time, but query
    * registration sweeps and plan-hygiene inspection build these
    * DataFrames repeatedly — one count job per (session, table
    * version) is the construction-time ceiling, not one per build. */
  private[operators] def embeddingCount(s: SparkSession, dir: String): Long =
    Tables.memoizedAtConstruction(s, dir, "embeddings") {
      Tables.embeddings(s, dir).count()
    }

  /** Embedding near-dup pairs via LSH buckets — the scale path for the
    * pairs shape (the brute-force all-pairs form is the test oracle
    * only). Candidates share ≥1 (table, bucket); survivors are exactly
    * verified with cosine ≥ threshold. Plan: equi-join on the compact
    * (table, bucket) key — no BroadcastNestedLoopJoin, no O(n²);
    * signature width auto-scales with corpus size ([[bitsFor]]). */
  def nearDupLsh(s: SparkSession, dir: String, threshold: Double = 0.4,
      tables: Int = 16, bits: Int = -1): DataFrame = {
    val width =
      if (bits > 0) bits
      else pairsBitsFor(s, embeddingCount(s, dir))
    // The verified pair set is identical across its consumers
    // (sim_near_dup_lsh's query form and SemDedup's clustering input
    // share threshold 0.4 by design), and SemDedup's CC probe forces
    // it EAGERLY at plan-construction time — so, like the simhash
    // hammingPairs memo, compute it once per (session, embeddings
    // version, parameterization) into scratch parquet and serve every
    // later construction from the file. Distributed write/read, keyed
    // on embeddings.parquet mtime; the parameter tag keeps spec-forced
    // widths/thresholds on their own materializations.
    val path = Tables.memoizedAtConstruction(s, dir, "embeddings",
      s"neardup-$threshold-$tables-$width") {
      val out = Tables.scratchDir(s, dir, "embeddings",
        s"neardup-$threshold-$tables-$width")
      computeNearDupLsh(s, dir, threshold, tables, width)
        .write.mode("overwrite").parquet(out)
      out
    }
    s.read.parquet(path).orderBy(col("id1"), col("id2"))
  }

  private def computeNearDupLsh(s: SparkSession, dir: String,
      threshold: Double, tables: Int, width: Int): DataFrame = {
    // Emit-once bucket join (the simhash band trick): a colliding pair
    // is taken only in its FIRST colliding table — every earlier
    // table's buckets must differ, a pure column predicate on data
    // already in the row. Same candidate SET as the distinct() this
    // replaces (measured 62.9M of 63.2M emissions unique at the sf10
    // corpus — the distinct deduped 0.4% of rows at the cost of a
    // full 63M-row shuffle, 12 s of the query's 16). The row for
    // table t carries only the PREFIX buckets [0, t) the predicate
    // can ever inspect (slice, mean tables/2 longs instead of all
    // `tables`) — halves the self-join's shuffle payload. `get` (not
    // element_at) reads the prefix: 0-based and null past the end,
    // so the short prefix never trips ANSI bounds checking — the
    // (a.table <= j) disjunct is already true wherever the null can
    // appear.
    val sigb = spreadForKernel(s, Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding")))
      .select(col("vec_id"),
        lshBuckets(asDouble(col("embedding")), tables, width).as("bks"))
      .select(col("vec_id"), posexplode(col("bks")).as(Seq("table", "bucket")),
        col("bks"))
      .select(col("vec_id"), col("table").cast("int").as("table"),
        col("bucket"), slice(col("bks"), lit(1), col("table").cast("int")).as("pfx"))
    val ids = sigb.as("a")
      .join(sigb.as("b"),
        col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id") &&
          (0 until tables - 1).map { j =>
            (col("a.table") <= lit(j)) ||
              (get(col("a.pfx"), lit(j)) =!= get(col("b.pfx"), lit(j)))
          }.reduce(_ && _))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
    // Exact verify. The vector side carries the RAW float embedding
    // (256 B/row) plus its precomputed double norm; the double cast
    // happens after the join, so payload is half of shipping double[]
    // while cosines stay bit-identical (float→double is exact, the
    // dot fold is unchanged). When the whole vector table fits the
    // gate (default 512 MB of estimated row payload), broadcast both
    // sides — the 10M-candidate stream then flows through two
    // broadcast hash joins with ZERO shuffle; past the gate (real
    // corpus scale) it falls back to the shuffle join, still at float
    // payload.
    val vecF = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        sqrt(dotProduct(asDouble(col("embedding")),
          asDouble(col("embedding")))).as("norm"))
    val maxBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.getOption("spark.graft.neardup.broadcastMaxBytes")
        .getOrElse("512m"))
    val estBytes = embeddingCount(s, dir) * (8L + 4L * Dim + 8L + 32L)
    val e1 = vecF.select(col("vec_id").as("id1"), col("embedding").as("e1"),
      col("norm").as("n1"))
    val e2 = vecF.select(col("vec_id").as("id2"), col("embedding").as("e2"),
      col("norm").as("n2"))
    // e1/e2 are INDEPENDENT broadcasts of the same table (different
    // output aliases defeat exchange reuse), so the resident payload
    // is 2× the estimate plus driver-side copies — gate on the
    // doubled figure, not the single-copy size, or a default 512 MB
    // budget admits ~1 GB of broadcast state on a default-sized
    // local driver.
    val joined =
      if (2 * estBytes <= maxBytes) ids.join(broadcast(e1), "id1").join(broadcast(e2), "id2")
      else ids.join(e1, "id1").join(e2, "id2")
    joined
      .withColumn("cos",
        dotProduct(asDouble(col("e1")), asDouble(col("e2"))) /
          (col("n1") * col("n2")))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** Multi-probe ANN: probe the query's exact bucket PLUS every
    * 1-bit-flip neighbor (bits+1 probes per table). A flipped sign
    * bit is the most likely place a near neighbor landed, so probing
    * neighbors recovers the recall that fewer tables give up — here 4
    * tables match the 16-table single-probe recall band. That trade
    * is the 100 TB lever: index size (rows per vector = tables) is
    * the dominant cost at corpus scale, while the probe fan-out
    * multiplies only the QUERY side of the join, which is
    * benchmark-sized. Same exact re-rank, same md5-Rademacher
    * determinism, exact oracle. */
  def annMultiProbe(s: SparkSession, dir: String, k: Int = 5,
      tables: Int = 4, bits: Int = 6): DataFrame = {
    val sig = sigTable(s, dir, tables, bits)
    val probes = sig.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("table"),
        explode(array(col("bucket") +: (0 until bits).map(i =>
          col("bucket").bitwiseXOR(lit(1L << i))): _*)).as("bucket"))
    val ids = sig.filter(col("vec_id") >= 10)
      .withColumnRenamed("vec_id", "cid")
      .join(probes, Seq("table", "bucket"))
      .select(col("qid"), col("cid"))
      .distinct()
    rerank(s, dir, ids, k)
  }

  /** Driver entry. */
  def annLshQuery(s: SparkSession, dir: String): DataFrame =
    annTopK(s, dir)

  /** Production auto-width forms (scale benchmarks): signature width
    * grows with log₂(corpus) via [[bitsFor]] so bucket occupancy — and
    * the candidate join — stays linear; the oracle-gated entries above
    * keep the static 6-bit width their DuckDB SQL is pinned to. */
  def annTopKScaled(s: SparkSession, dir: String): DataFrame =
    annTopK(s, dir, bits = bitsFor(s, embeddingCount(s, dir)))

  def annMultiProbeScaled(s: SparkSession, dir: String): DataFrame =
    annMultiProbe(s, dir, bits = bitsFor(s, embeddingCount(s, dir)))

  /** Oracle-gated entry: the DuckDB oracle ([[nearDupLshSql]]) is
    * pinned at the 6-bit floor width, which [[bitsFor]] only yields up
    * to 2048 vectors. Auto-scaling past that would silently diverge
    * from the static SQL — fail LOUDLY instead, so a gated corpus
    * growth shows up as an error, not a hash mismatch. Non-gated
    * callers use [[nearDupLsh]] directly and scale freely. */
  def nearDupLshQuery(s: SparkSession, dir: String): DataFrame = {
    val n = embeddingCount(s, dir)
    val width = pairsBitsFor(s, n)
    require(width == 6,
      s"nearDupLsh oracle SQL is pinned at 6-bit buckets but " +
        s"pairsBitsFor(n=$n) = $width; regenerate the oracle for this " +
        "width or gate a corpus <= 2048 vectors")
    nearDupLsh(s, dir, bits = width)
  }

  /** Oracle CTE chain reproducing the md5-Rademacher buckets in DuckDB:
    * emb → normed (vec_id, v, norm) → planes (t, b, ±1 vector) →
    * dots → buckets (vec_id, tbl, bucket). Products are exactly ±v[i]
    * and fold in the same order as [[dotProduct]], so signatures and
    * cosines are bit-identical across engines. */
  private[graft] def bucketsCte(tables: Int, bits: Int): String =
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |normed AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_transform(range(1, 65), i -> v[i] * v[i]), (x, y) -> x + y)) AS norm
       |  FROM emb),
       |planes AS (
       |  SELECT t, b,
       |    list_transform(range(0, 64), i ->
       |      CASE WHEN CAST(FLOOR((strpos('0123456789abcdef',
       |            substr(md5('hp_' || t || '_' || b), CAST(i // 4 + 1 AS INT), 1)) - 1)
       |          / POWER(2, 3 - i % 4)) AS BIGINT) % 2 = 1
       |        THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS h
       |  FROM (SELECT unnest(range(0, $tables)) AS t), (SELECT unnest(range(0, $bits)) AS b)),
       |dots AS (
       |  SELECT n.vec_id, p.t AS tbl, p.b,
       |    list_reduce(list_transform(range(1, 65), i -> n.v[i] * p.h[i]), (x, y) -> x + y) AS d
       |  FROM normed n, planes p),
       |buckets AS (
       |  SELECT vec_id, tbl,
       |    CAST(SUM(CASE WHEN d >= 0 THEN CAST(POWER(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id, tbl)""".stripMargin

  val annLshSql: String =
    bucketsCte(16, 6) +
      """,
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
        |  FROM buckets q JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10),
        |scored AS (
        |  SELECT cand.qid, cand.cid,
        |    list_reduce(list_transform(range(1, 65), i -> q.v[i] * c.v[i]), (x, y) -> x + y)
        |      / (q.norm * c.norm) AS cos
        |  FROM cand
        |  JOIN normed q ON q.vec_id = cand.qid
        |  JOIN normed c ON c.vec_id = cand.cid)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, cos FROM (
        |  SELECT qid, cid, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  val annMultiProbeSql: String =
    bucketsCte(4, 6) +
      """,
        |probes AS (
        |  SELECT vec_id, tbl,
        |    CASE WHEN i = 0 THEN bucket
        |         ELSE xor(bucket, CAST(POWER(2, i - 1) AS BIGINT)) END AS bucket
        |  FROM buckets, range(0, 7) r(i)
        |  WHERE vec_id < 10),
        |cand AS (
        |  SELECT DISTINCT p.vec_id AS qid, c.vec_id AS cid
        |  FROM probes p JOIN buckets c ON p.tbl = c.tbl AND p.bucket = c.bucket
        |  WHERE c.vec_id >= 10),
        |scored AS (
        |  SELECT cand.qid, cand.cid,
        |    list_reduce(list_transform(range(1, 65), i -> q.v[i] * c.v[i]), (x, y) -> x + y)
        |      / (q.norm * c.norm) AS cos
        |  FROM cand
        |  JOIN normed q ON q.vec_id = cand.qid
        |  JOIN normed c ON c.vec_id = cand.cid)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, cos FROM (
        |  SELECT qid, cid, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  val nearDupLshSql: String =
    bucketsCte(16, 6) +
      """,
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
        |  FROM buckets a JOIN buckets b
        |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |scored AS (
        |  SELECT cand.id1, cand.id2,
        |    list_reduce(list_transform(range(1, 65), i -> x.v[i] * y.v[i]), (p, q) -> p + q)
        |      / (x.norm * y.norm) AS cos
        |  FROM cand
        |  JOIN normed x ON x.vec_id = cand.id1
        |  JOIN normed y ON y.vec_id = cand.id2)
        |SELECT id1, id2, cos FROM scored
        |WHERE cos >= 0.4 ORDER BY id1, id2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_ann_lsh" -> (annLshQuery _),
    "sim_ann_multiprobe" -> ((s: SparkSession, dir: String) =>
      annMultiProbe(s, dir)),
    "sim_near_dup_lsh" -> (nearDupLshQuery _))

  val oracles: Map[String, String] = Map(
    "sim_ann_lsh" -> annLshSql,
    "sim_ann_multiprobe" -> annMultiProbeSql,
    "sim_near_dup_lsh" -> nearDupLshSql)
}
