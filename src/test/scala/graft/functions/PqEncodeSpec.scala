package graft.functions

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The PQ encode kernel against an independent driver-side reference
  * (naive quantize + direct ‖q−c‖² argmin loops, written from the
  * definition), over grid-snapping random vectors so exact TIES occur
  * and the lowest-code rule is exercised. Added in r18 while
  * evaluating the decomposed ‖c‖² − 2q·c argmin (rejected on
  * measurement — see OPTIMIZATION_r18.md §3); kept as the
  * implementation-independent equivalence pin for any future kernel
  * rewrite. */
class PqEncodeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val M = 4
  private val SubDim = 4
  private val K = 5
  private val Dim = M * SubDim

  private def refEncode(v: Array[Float], cb: Array[Long]): Seq[Long] = {
    val q = v.map(f => math.floor(f.toDouble * 10000).toLong)
    (0 until M).map { m =>
      val sub = (0 until SubDim).map(d => q(m * SubDim + d))
      val best = (0 until K).minBy { k =>
        val off = (m * K + k) * SubDim
        ((0 until SubDim).map { d =>
          val diff = sub(d) - cb(off + d); diff * diff
        }.sum, k)
      }
      m.toLong * K + best
    }
  }

  test("kernel output equals the independent direct-form reference " +
      "(ties included)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def vec(): Array[Float] =
      Array.fill(Dim)((rnd.nextInt(7) - 3) / 10.0f)
    val cb: Array[Long] = Array.fill(M * K * SubDim)(
      (rnd.nextInt(7) - 3) * 1000L)
    val vecs = (1 to 300).map(i => (i.toLong, vec()))
    val got = vecs.toDF("id", "v")
      .select(col("id"),
        VectorExpressions.pqEncode(col("v"), cb.toSeq, M, K, SubDim)
          .as("codes"))
      .as[(Long, Seq[Long])].collect().toMap
    vecs.foreach { case (id, v) =>
      assert(got(id) === refEncode(v, cb), s"vector $id")
    }
  }

  test("negative coordinates and negative scores argmin correctly") {
    import spark.implicits._
    // adversarial case for any decomposed-score rewrite (scores go
    // negative when q·c is large and positive) — the argmin must
    // track the true nearest entry regardless of kernel form
    val cb: Array[Long] = Array(
      10000L, 10000L, 10000L, 10000L,
      -10000L, -10000L, -10000L, -10000L,
      0L, 0L, 0L, 0L)
    val v = Array.fill(4)(0.9999f) // q = 9999 each dim -> nearest entry 0
    val got = Seq((1L, v)).toDF("id", "v")
      .select(VectorExpressions.pqEncode(col("v"), cb.toSeq, 1, 3, 4))
      .as[Seq[Long]].collect().head
    assert(got === Seq(0L))
    val v2 = Array.fill(4)(-0.9999f) // nearest entry 1 -> offset 1
    val r2 = Seq((1L, v2)).toDF("id", "v")
      .select(VectorExpressions.pqEncode(col("v"), cb.toSeq, 1, 3, 4))
      .as[Seq[Long]].collect().head
    assert(r2 === Seq(1L))
  }
}
