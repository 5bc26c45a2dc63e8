package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Pins the session-conf hygiene of the converged-PageRank loop's AQE
  * toggle (the r17 ADVICE items): an invalid loopAqe override fails
  * naming the graft conf, and the finally-restore puts
  * spark.sql.adaptive.enabled back to EXACTLY its prior state —
  * including "never explicitly set", which must restore to unset
  * rather than freeze the default into an explicit value. */
class GraphAqeScopeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private val AqeKey = "spark.sql.adaptive.enabled"
  private val LoopKey = "spark.graft.pagerank.loopAqe"

  test("invalid loopAqe value fails fast naming the graft conf") {
    spark.conf.set(LoopKey, "of") // the typo ADVICE called out
    try {
      val e = intercept[IllegalArgumentException] {
        GraphQueries.pageRankConverged(spark, dir, maxIters = 2)
      }
      assert(e.getMessage.contains(LoopKey), e.getMessage)
    } finally spark.conf.unset(LoopKey)
  }

  test("loopAqe is case-insensitive, as Spark's boolean confs are") {
    spark.conf.set(LoopKey, "TRUE")
    try GraphQueries.pageRankConverged(spark, dir, maxIters = 2).release()
    finally spark.conf.unset(LoopKey)
    spark.conf.set(LoopKey, "of")
    try {
      val e = intercept[IllegalArgumentException] {
        GraphQueries.pageRankConverged(spark, dir, maxIters = 2)
      }
      assert(e.getMessage.contains(LoopKey), e.getMessage)
    } finally spark.conf.unset(LoopKey)
  }

  test("restore leaves an explicitly-set adaptive.enabled at its value") {
    spark.conf.set(AqeKey, "true")
    try {
      val r = GraphQueries.pageRankConverged(spark, dir, maxIters = 2)
      r.release()
      assert(spark.conf.getAll.get(AqeKey) === Some("true"))
    } finally spark.conf.unset(AqeKey)
  }

  test("restore unsets adaptive.enabled when it was never set") {
    spark.conf.unset(AqeKey)
    val r = GraphQueries.pageRankConverged(spark, dir, maxIters = 2)
    r.release()
    assert(spark.conf.getAll.get(AqeKey) === None,
      "the loop froze the session default into an explicit value")
  }
}
