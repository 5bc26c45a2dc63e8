package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The `topK`-gated 100 TB scale paths of the corpus-model text
  * operators (top-K-pruned model tables + backoff, broadcast scoring).
  * Two contracts: (1) when K covers the whole corpus the pruned path
  * is bit-identical to the exact oracle form; (2) when K caps the
  * model, the scoring joins are broadcast — no shuffle join anywhere
  * in the score pass, which is what makes the pruned form map-only up
  * to the final per-doc aggregation. */
class PrunedModelPathsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def shuffleJoinCount(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // materialize the AQE final plan
    val p = df.queryExecution.executedPlan.toString
    p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
  }

  test("lm pruned path == exact form when topK covers the corpus") {
    val pruned = TextQueries.lmPerplexity(spark, dir, topK = 10000000).collect()
    val exact = TextQueries.lmPerplexity(spark, dir).collect()
    assert(pruned.toSeq === exact.toSeq)
  }

  test("nb pruned path == exact form when topK covers the corpus") {
    val pruned =
      TextQueries.qualityClassifier(spark, dir, topK = 10000000).collect()
    val exact = TextQueries.qualityClassifier(spark, dir).collect()
    assert(pruned.toSeq === exact.toSeq)
  }

  test("capped-K lm scoring uses only broadcast joins and stays total") {
    val df = TextQueries.lmPerplexity(spark, dir, topK = 64)
    assert(shuffleJoinCount(df) === 0,
      "pruned scoring must not shuffle-join")
    val rows = df.collect()
    // every document still scored (backoff covers tail bigrams)
    assert(rows.length ===
      TextQueries.lmPerplexity(spark, dir, topK = -1).collect().length)
    assert(rows.forall(r =>
      !r.getAs[Double]("avg_logp").isNaN &&
        !r.getAs[Double]("avg_logp").isInfinite))
  }

  test("capped-K nb scoring uses only broadcast joins and stays total") {
    val df = TextQueries.qualityClassifier(spark, dir, topK = 64)
    assert(shuffleJoinCount(df) === 0,
      "pruned scoring must not shuffle-join")
    val rows = df.collect()
    assert(rows.length ===
      TextQueries.qualityClassifier(spark, dir, topK = -1).collect().length)
  }
}
