package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Pins the session-conf hygiene of both PageRank entry points: they
  * read their conf and never write one, so `spark.conf.getAll` is
  * exactly as they found it — whether spark.sql.adaptive.enabled was
  * set explicitly or never set (a loop that set and then restored it
  * could freeze the library default into an explicit value). */
class GraphAqeScopeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private val AqeKey = "spark.sql.adaptive.enabled"

  private def assertConfUntouched(): Unit = {
    val before = spark.conf.getAll
    GraphQueries.pageRankConverged(spark, dir, maxIters = 2).release()
    assert(spark.conf.getAll === before, "pageRankConverged")
    GraphQueries.pageRank(spark, dir).collect()
    assert(spark.conf.getAll === before, "pageRank")
  }

  test("restore leaves an explicitly-set adaptive.enabled at its value") {
    spark.conf.set(AqeKey, "true")
    try {
      assertConfUntouched()
      assert(spark.conf.getAll.get(AqeKey) === Some("true"))
    } finally spark.conf.unset(AqeKey)
  }

  test("restore unsets adaptive.enabled when it was never set") {
    spark.conf.unset(AqeKey)
    assertConfUntouched()
    assert(spark.conf.getAll.get(AqeKey) === None,
      "a PageRank call froze the session default into an explicit value")
  }
}
