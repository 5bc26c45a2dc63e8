package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupQueries, GraphQueries}

/** The per-row layer record Bench writes into `bench_full.json`: two
  * rows run through Bench's row wrapper (the converged PageRank loop,
  * then a TPC-H row) must each carry executor stage metrics and the
  * driver phases of their actions, the loop's stages must carry one
  * iteration index per iteration it ran, rows must not share stages,
  * and a throwing row must still close its record. */
class StageRecordSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  // the sf0.001 fixture: the one SparkEntry.entry's flagship query reads
  private lazy val dir = new java.io.File(
    new java.net.URI(SparkEntry.entry(spark).inputFiles.head)).getParent
  private val Phases = Set("analysis", "optimization", "planning")

  private def withRecorder[T](f: StageRecorder => T): T = {
    val recorder = new StageRecorder().register(spark)
    try f(recorder) finally recorder.unregister(spark)
  }

  // (iterations run, PageRank record, TPC-H record)
  private lazy val rows = withRecorder { recorder =>
    var iters = 0
    val (_, prOut, pr) =
      Bench.timedRepeat(recorder, spark, "graph_pagerank_converged") {
        GraphQueries.releaseAdjacency(spark, dir)
        val cr = GraphQueries.pageRankConverged(spark, dir, maxIters = 3)
        iters = cr.iters
        cr.ranks.count()
        cr.release()
        // later suites look for cached PageRank blocks by name
        GraphQueries.releaseAdjacency(spark, dir)
      }
    val (_, qOut, q) = Bench.timedRepeat(recorder, spark, "q1_pricing_summary") {
      SparkEntry.queries("q1_pricing_summary")(spark, dir).count()
    }
    assert(prOut.isRight && qOut.isRight)
    (iters, pr, q)
  }

  test("each row has executor stage time and all three driver phases") {
    val (_, pr, q) = rows
    Seq(pr, q).foreach { p =>
      assert(p.complete)
      assert(p.stages.exists(_.runMs > 0), p.stages)
      assert(p.actions.exists(a => Phases.subsetOf(a.phasesMs.keySet)),
        p.actions)
      assert(p.operators.nonEmpty)
    }
  }

  test("loop stages carry iteration indices 1..iters with no gap") {
    val (iters, pr, q) = rows
    assert(iters == 3)
    assert(pr.iterations.map(_.iteration) == (1 to iters))
    assert(pr.iterations.forall(_.stages > 0))
    assert(q.stages.forall(_.iteration.isEmpty))
    // the shape Bench writes into bench_full.json
    val j = Json.mapper.readTree(Json.mapper.writeValueAsString(pr))
    assert(j.get("iterations").size == iters)
    assert(j.get("stages").get(0).has("run_ms"))
    assert(j.get("actions").get(0).has("phases_ms"))
  }

  test("a CC run through the star loop tags rounds 1..lastStarRounds only") {
    import org.apache.spark.sql.functions.col
    // a 20k-node path: bound 0 sends it through the star loop
    val pairDf = spark.range(19999)
      .select(col("id").as("id1"), (col("id") + 1).as("id2"))
    withRecorder { recorder =>
      val (_, out, p) =
        SparkTestUtil.withConf(spark, "spark.graft.cc.localEdgeThreshold", "0") {
          Bench.timedRepeat(recorder, spark, "cc_star") {
            DedupQueries.ccForTest(spark, pairDf, "star").count()
          }
        }
      val rounds = DedupQueries.lastStarRounds
      assert(out.isRight && p.complete)
      assert(rounds > 1, rounds)
      assert(p.iterations.map(_.iteration) == (1 to rounds))
      assert(p.iterations.forall(_.stages > 0))
      // the forest pass before the loop and the count after it
      assert(p.stages.exists(_.iteration.isEmpty), p.stages)
      assert(spark.sparkContext.getLocalProperty(StageRecorder.IterationKey) == null)
    }
  }

  test("no stage is recorded under two rows") {
    val (_, pr, q) = rows
    val shared = pr.stages.map(_.stageId).toSet
      .intersect(q.stages.map(_.stageId).toSet)
    assert(shared.isEmpty, shared)
  }

  test("a row that throws still closes its record") {
    withRecorder { recorder =>
      val sc = spark.sparkContext
      val (_, out, p) = Bench.timedRepeat(recorder, spark, "failing_row") {
        StageRecorder.setIteration(sc, 7)
        spark.range(100).selectExpr("sum(id)").collect()
        throw new IllegalStateException("row failed")
      }
      assert(out.left.exists(_.getMessage == "row failed"))
      assert(p.complete && p.stages.nonEmpty)
      assert(p.stages.forall(_.iteration.contains(7)))
      assert(sc.getLocalProperty(StageRecorder.IterationKey) == null)
      assert(sc.getLocalProperty("spark.jobGroup.id") == null)
      // the recorder keeps working for the next row
      val (_, next, p2) = Bench.timedRepeat(recorder, spark, "next_row") {
        spark.range(100).selectExpr("sum(id)").collect()
      }
      assert(next.isRight && p2.complete && p2.stages.nonEmpty)
      assert(p2.stages.forall(_.iteration.isEmpty))
    }
  }
}
