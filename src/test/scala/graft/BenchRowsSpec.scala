package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AnnRecall

/** The bench row table ([[SparkEntry.benchRows]]) is the one place
  * that says how each row is timed. These checks keep it consistent,
  * and tie every row whose bench form differs from its oracle form to
  * that oracle form: exact rows must return the oracle's rows, the
  * trained ANN forms must retrieve (recall floor). */
class BenchRowsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.01"
  private val rows = SparkEntry.benchRows
  private val byName = rows.map(r => r.name -> r).toMap

  /** Overridden forms that must return exactly the oracle form's rows:
    * at <= 2048 vectors the auto-width rules pick the oracle's pinned
    * 6-bit width. */
  private val exactLinks =
    Seq("sim_ann_lsh", "sim_ann_multiprobe", "sim_near_dup_lsh", "sim_sem_dedup")

  /** Overridden forms that swap in a trained model, with the recall@5
    * floor each clears on this iid-random fixture. Measured: 0.44,
    * 0.34 and 0.48; random ≈ k/n ≈ 0.01. The floors catch a form that
    * answers the wrong question, not a drift in retrieval quality. */
  private val recallLinks =
    Map("sim_pq_adc_topk" -> 0.2, "sim_ivfpq_topk" -> 0.2,
      "sim_ivfpq_refine" -> 0.2)

  test("row names are unique and in sweep order") {
    val names = rows.map(_.name)
    assert(names.distinct === names)
    assert(names === names.sorted)
  }

  test("every oracle query is a bench row; every row, recall rows too, has a form") {
    val missing = SparkEntry.queries.keySet -- byName.keySet
    assert(missing.isEmpty, s"queries with no bench row: $missing")
    rows.foreach { r =>
      assert(r.form.isDefined || SparkEntry.queries.contains(r.name),
        s"${r.name} has neither an oracle nor a bench form")
    }
    assert(rows.flatMap(_.recall).toSet.subsetOf(Set("cos", "l2")))
  }

  test("every memo provider is an earlier row") {
    rows.foreach { r =>
      r.memoProvider.foreach { p =>
        assert(byName.contains(p), s"${r.name}: provider $p is no row")
        assert(p < r.name, s"${r.name}: provider $p sweeps after it")
      }
    }
  }

  test("every overridden oracle row has a link to its oracle form") {
    val overridden = rows
      .filter(r => r.form.isDefined && SparkEntry.queries.contains(r.name))
      .map(_.name).toSet
    val linked = exactLinks.toSet ++ recallLinks.keySet
    assert(overridden === linked,
      s"unlinked: ${overridden -- linked}; linked but not overridden: " +
        s"${linked -- overridden}")
  }

  test("a name filter that selects nothing, or a bad repeats, fails naming it") {
    // each check runs before a session starts
    val bench = intercept[IllegalArgumentException](
      Bench.main(Array("no_such_row")))
    assert(bench.getMessage.contains("'no_such_row'"))
    val verify = intercept[IllegalArgumentException](
      Verify.main(Array(dir, "unused", "q1_pricing_summary,q1_typo")))
    assert(verify.getMessage.contains("q1_typo"))
    val repeats = intercept[IllegalArgumentException](Bench.parseRepeats("abc"))
    assert(repeats.getMessage.contains("'abc'"))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  exactLinks.foreach { name =>
    test(s"$name bench form returns the oracle form's rows") {
      val bench = byName(name).timed(spark, dir)
      val oracle = SparkEntry.queries(name)(spark, dir)
      assert(bench.schema === oracle.schema)
      val rs = sortedRows(oracle)
      assert(rs.nonEmpty, s"$name: empty oracle result proves nothing")
      assert(sortedRows(bench) === rs)
    }
  }

  test("trained ANN bench forms keep the oracle shape and clear a recall floor") {
    recallLinks.keys.foreach { name =>
      val bench = byName(name).timed(spark, dir)
      val oracle = SparkEntry.queries(name)(spark, dir)
      assert(bench.schema.fieldNames.toSeq === oracle.schema.fieldNames.toSeq,
        name)
    }
    val r = AnnRecall.recallAtK(spark, dir, recallLinks.keySet).toMap
    assert(r.keySet === recallLinks.keySet, s"missing legs: $r")
    recallLinks.foreach { case (name, floor) =>
      assert(r(name) > floor, s"$name recall ${r(name)} <= $floor")
    }
  }
}
