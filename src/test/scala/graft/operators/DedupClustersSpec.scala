package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, SparkTestUtil}

/** The connected-components paths (driver union-find under the edge
  * bound; above it, a spanning-forest pass whose forest goes to
  * union-find when it fits and to the large/small-star loop when it
  * does not) must reach the identical fixpoint — clusters are
  * algorithm-independent — and the star loop must survive losing its
  * cached blocks. */
class DedupClustersSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private val thresholdKey = "spark.graft.cc.localEdgeThreshold"

  private def clusters(): Seq[(Long, Long)] =
    DedupQueries.simhashClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def run(pairDf: DataFrame, path: String): Seq[(Long, Long)] =
    DedupQueries.ccForTest(spark, pairDf, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  /** Bound 0 sends every non-empty graph through the star loop to its
    * fixpoint: neither the forest nor any round fits the driver. */
  private def withPureStar[T](body: => T): T =
    SparkTestUtil.withConf(spark, thresholdKey, "0")(body)

  /** `local`, `star` at bound 0 and `star` at the default bound (the
    * forest, then union-find) all label `pairDf` alike. */
  private def assertPathsAgree(pairDf: DataFrame, what: String): Seq[(Long, Long)] = {
    val local = run(pairDf, "local")
    assert(withPureStar(run(pairDf, "star")) === local, s"$what: star loop diverged")
    assert(DedupQueries.lastStarRounds > 0, s"$what: the star loop never ran")
    assert(run(pairDf, "star") === local, s"$what: forest + union-find diverged")
    assert(DedupQueries.lastForestEdges > 0 && DedupQueries.lastStarRounds === 0,
      s"$what: the forest did not finish in union-find")
    local
  }

  private def hammingPairDf: DataFrame =
    DedupQueries.hammingPairs(spark, dir).select(col("id1"), col("id2"))

  test("union-find and star contraction agree exactly on fixture pairs") {
    val viaQuery = clusters()
    assert(viaQuery.nonEmpty)
    // sanity: at least one real (multi-doc) cluster exists at sf0.001
    assert(viaQuery.exists { case (doc, rep) => doc != rep },
      "fixture produced no non-trivial clusters")
    // the paths must run on the REAL pair set through ccForTest:
    // re-calling simhashClusters under forced confs hits the
    // per-session output memo and compares the first run's parquet
    // with itself
    val local = assertPathsAgree(hammingPairDf, "sf0.001 hamming pairs")
    // and the end-to-end memoized labels agree with CC over their own
    // pair set for every pair-covered doc (singletons label themselves
    // upstream of CC)
    val byDoc = viaQuery.toMap
    local.foreach { case (doc, rep) =>
      assert(byDoc(doc) === rep, s"doc $doc labeled ${byDoc(doc)} != $rep")
    }
  }

  /** The selling point of large/small-star over min-label propagation
    * is O(log n) rounds on HIGH-DIAMETER graphs — propagation needs
    * O(diameter) rounds, which on a 100k-node path is 100k shuffles.
    * Prove the claim: one path graph, convergence in ≲ 20 rounds, and
    * the same labeling union-find produces. */
  test("100k-node path graph: star contraction converges in O(log n) rounds") {
    import spark.implicits._
    val n = 100000
    // path 0-1-2-...-(n-1): a single component rooted at 0, diameter n
    val pairDf = spark.range(n - 1)
      .select(col("id").as("id1"), (col("id") + 1).as("id2"))
    val got = withPureStar {
      DedupQueries.ccForTest(spark, pairDf, "star")
        .as[(Long, Long)].collect()
    }
    assert(DedupQueries.lastStarRounds > 0)
    assert(DedupQueries.lastStarRounds <= 20,
      s"took ${DedupQueries.lastStarRounds} rounds on a 100k path " +
        "(propagation-like behavior — O(log n) contraction is broken)")
    assert(got.length === n)
    assert(got.forall(_._2 === 0L), "every node must label to the min id 0")
  }

  test("star contraction labels random graphs like union-find") {
    import spark.implicits._
    val rng = new scala.util.Random(20260812L)
    for (trial <- 1 to 3) {
      val n = 200 + trial * 100
      // mix of chains (diameter stress), cliques, and random edges
      val chain = (0 until n / 2).sliding(2).map(w =>
        (w(0).toLong * 7 + 3, w(1).toLong * 7 + 3)).toSeq
      val rand = Seq.fill(n) {
        val a = rng.nextInt(n).toLong; val b = rng.nextInt(n).toLong
        (a, b)
      }.filter { case (a, b) => a != b }
      val edges = (chain ++ rand).distinct
      assertPathsAgree(edges.toDF("id1", "id2"), s"trial $trial (n=$n)")
    }
  }

  /** A path over shuffled node ids, its edges in random order: every
    * partition's forest is a scatter of short fragments, so the star
    * loop needs several rounds. */
  private def scrambledPath(n: Int): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(20261017L)
    val ids = rng.shuffle((0 until n).map(_.toLong * 13 + 5))
    rng.shuffle(ids.sliding(2).map(w => (w(0), w(1))).toSeq).toDF("id1", "id2")
  }

  test("losing the star loop's cached blocks after round 2 changes nothing") {
    val pairDf = scrambledPath(20000)
    val want = run(pairDf, "local")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (got, dropped) = withPureStar {
      SparkTestUtil.dropBlocksAfterIteration(spark, 2, r => !before(r.id)) {
        run(pairDf, "star")
      }
    }
    assert(dropped.nonEmpty, "the loop's blocks were never dropped")
    assert(DedupQueries.lastStarRounds > 2, "the loop ended before round 3 read the lost blocks")
    assert(got === want)
  }

  test("the forest pass leaves the session confs as it found them") {
    // a fresh session: no earlier suite has set the split confs there
    val fresh = spark.newSession()
    val before = fresh.conf.getAll
    assert(!before.contains("spark.sql.files.maxPartitionBytes"))
    // read in the fresh session, so the scan is planned under its confs
    val pairDf = fresh.read.parquet(hammingPairDf.inputFiles: _*)
    DedupQueries.ccForTest(fresh, pairDf, "star").count()
    assert(DedupQueries.lastForestEdges > 0, "the forest pass did not run")
    assert(fresh.conf.getAll === before)
  }

  test("a non-integer localEdgeThreshold fails naming the key") {
    val e = SparkTestUtil.withConf(spark, thresholdKey, "abc") {
      intercept[IllegalArgumentException](
        DedupQueries.connectedComponents(spark, hammingPairDf))
    }
    assert(e.getMessage.contains(thresholdKey) && e.getMessage.contains("abc"), e.getMessage)
  }

  test("a negative localEdgeThreshold fails naming the key") {
    val e = SparkTestUtil.withConf(spark, thresholdKey, "-5") {
      intercept[IllegalArgumentException](
        DedupQueries.connectedComponents(spark, hammingPairDf))
    }
    assert(e.getMessage.contains(thresholdKey) && e.getMessage.contains("-5"), e.getMessage)
  }
}
