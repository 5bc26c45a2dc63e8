package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, SparkTestUtil}

/** The packed PageRank loop against the join fallback it replaced
  * (forced with spark.graft.pagerank.broadcastNodesMax=0), on seeded
  * graphs written as the four tables the graph is built from; the
  * gather-sum kernel's overflow behaviour; and recovery when the
  * cached blocks are lost mid-loop. */
class PageRankPackedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val BoundKey = "spark.graft.pagerank.broadcastNodesMax"

  /** Write a graph given as (custkey, suppkey) order lines, one order
    * per line; every third line is written twice, so the edge distinct
    * is exercised. The customer and supplier tables hold `nCust` and
    * `nSupp` rows, so the node bound is positive even for an edge-free
    * graph. */
  private def writeGraph(name: String, lines: Seq[(Long, Long)],
      nCust: Int, nSupp: Int): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"pagerank-$name").toString
    val keyed = lines.zipWithIndex.map { case ((c, s), i) => (i.toLong, c, s) }
    keyed.map { case (o, c, _) => (o, c) }.toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    (keyed ++ keyed.filter(_._1 % 3 == 0)).map { case (o, _, s) => (o, s) }
      .toDF("l_orderkey", "l_suppkey").write.parquet(s"$dir/lineitem.parquet")
    (1 to nCust).map(_.toLong).toDF("c_custkey").write.parquet(s"$dir/customer.parquet")
    (1 to nSupp).map(_.toLong).toDF("s_suppkey").write.parquet(s"$dir/supplier.parquet")
    dir
  }

  private val rnd = new scala.util.Random(20261017L)
  // supplier 1 trades with every customer; the other lines draw
  // suppliers from a skewed (squared-uniform) distribution
  private val hub = (1 to 80).map(c => (c.toLong, 1L)) ++
    (1 to 400).map { _ =>
      val u = rnd.nextDouble()
      (1L + rnd.nextInt(80), 2L + (u * u * 15).toLong)
    }

  private lazy val graphs: Seq[(String, String)] = Seq(
    "skewed hub" -> writeGraph("hub", hub, 80, 17),
    "single edge pair" -> writeGraph("pair", Seq((1L, 1L)), 1, 1),
    "empty graph" -> writeGraph("empty", Nil, 3, 2))

  private def ranks(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
    import spark.implicits._
    df.as[(Long, Long)].collect().toSeq
  }

  private def csrCached: Boolean =
    spark.sparkContext.getPersistentRDDs.values.exists(_.name.startsWith("pagerank-csr"))

  /** (pageRank(3) ranks, converged ranks, iters, converged flag), from
    * the packed loop or, with the node bound forced to 0, the join
    * fallback. */
  private def run(dir: String, packed: Boolean)
      : (Seq[(Long, Long)], Seq[(Long, Long)], Int, Boolean) = {
    GraphQueries.releaseAdjacency(spark, dir)
    if (!packed) spark.conf.set(BoundKey, "0")
    try {
      val fixed = ranks(GraphQueries.pageRank(spark, dir, iters = 3))
      assert(csrCached === packed, "the node bound chose the other loop")
      // 1% keeps the join fallback's run short on the hub graph
      val cr = GraphQueries.pageRankConverged(spark, dir, epsPpm = 10000L)
      try (fixed, ranks(cr.ranks), cr.iters, cr.converged)
      finally cr.release()
    } finally {
      spark.conf.unset(BoundKey)
      GraphQueries.releaseAdjacency(spark, dir)
    }
  }

  test("packed loop equals the join fallback on seeded graphs") {
    graphs.foreach { case (name, dir) =>
      val packed = run(dir, packed = true)
      assert(packed === run(dir, packed = false), name)
      name match {
        case "skewed hub" =>
          assert(packed._1.size === hub.map(_._1).distinct.size + hub.map(_._2).distinct.size)
          assert(packed._1.map(_._2).distinct.size > 1, "ranks stayed uniform")
          assert(packed._3 > 2 && packed._4, packed._3)
        case "single edge pair" =>
          // two nodes of degree 1: the uniform vector is the fixed point
          assert(packed._1 === Seq(1L -> 1000000L, (1L + GraphQueries.SuppOffset) -> 1000000L))
          assert(packed._3 === 2 && packed._4)
        case "empty graph" =>
          assert(packed._1.isEmpty && packed._2.isEmpty)
          assert(packed._3 === 2 && packed._4, "an empty graph converges at once")
      }
    }
  }

  test("gather-sum overflow throws instead of wrapping") {
    // the sum overflows; wrapped, it would come back to 0 and a
    // plausible rank of Base
    val three = new CsrBlock(Array(0), Array(0, 3), Array(0, 1, 2))
    intercept[ArithmeticException](three.gatherSum(Array(Long.MaxValue, Long.MaxValue, 2L)))
    // the sum fits, Damp × sum does not
    val one = new CsrBlock(Array(0), Array(0, 1), Array(0))
    intercept[ArithmeticException](one.gatherSum(Array(Long.MaxValue / 50)))
    // the largest sum whose product fits is exact
    val s = Long.MaxValue / GraphQueries.Damp
    val want = BigInt(GraphQueries.Base) + BigInt(GraphQueries.Damp) * s / 100
    assert(BigInt(one.gatherSum(Array(s))(0)) === want)
  }

  test("losing the cached blocks after iteration 5 changes nothing") {
    val dir = graphs.head._2 // the skewed hub
    val sc = spark.sparkContext
    def converged() = {
      val cr = GraphQueries.pageRankConverged(spark, dir, epsPpm = 0L, maxIters = 20)
      (ranks(cr.ranks), cr.iters)
    }
    GraphQueries.releaseAdjacency(spark, dir)
    val want = converged()
    GraphQueries.releaseAdjacency(spark, dir)
    // an iteration is one job, so the blocks are dropped once
    val (got, removed) = SparkTestUtil.dropBlocksAfterIteration(spark, 5,
      r => Option(r.name).exists(_.startsWith("pagerank-csr")))(converged())
    try {
      assert(removed.size === 1, "the loop's blocks were never removed")
      assert(got === want)
      // a later iteration rebuilt every block from lineage
      val info = sc.getRDDStorageInfo.find(_.id == removed.head)
      assert(info.exists(i => i.numCachedPartitions == i.numPartitions), info)
    } finally GraphQueries.releaseAdjacency(spark, dir)
  }
}
