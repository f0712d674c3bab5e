package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Laws of the quantized-power-iteration PCA (ops.Vectors.pcaLoadings)
  * — the graded keys pin every number against DuckDB's replay; these
  * pin the ALGEBRA: the 1e6-grid normalization invariant, genuine
  * spectral progress on the true Gram matrix, and score fidelity
  * re-derived independently of the engine. */
class PcaSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  private lazy val kilos: Map[Long, Array[Long]] =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect().map { r =>
        r.getLong(0) -> r.getSeq[Float](1).toArray
          .map(x => math.round(x.toDouble * 1000L))
      }.toMap

  private lazy val x3 = ops.Vectors.pcaLoadings(Tables.embeddings(spark, dir))

  test("loadings live on the 1e6 grid with the max component saturated") {
    assert(x3.length == 64)
    assert(x3.forall(v => math.abs(v) <= 1000000L))
    assert(x3.map(math.abs).max == 1000000L,
      "requantization must pin the largest component to the grid ceiling")
  }

  test("three iterations make real spectral progress: Rayleigh quotient " +
    "on the TRUE Gram strictly grows vs the all-ones start") {
    val d = 64
    val c = Array.ofDim[Double](d, d)
    kilos.values.foreach { v =>
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { c(i)(j) += v(i).toDouble * v(j).toDouble; j += 1 }
        i += 1
      }
    }
    def rayleigh(x: IndexedSeq[Double]): Double = {
      val cx = (0 until d).map(i => (0 until d).map(j => c(i)(j) * x(j)).sum)
      (0 until d).map(i => x(i) * cx(i)).sum /
        x.map(v => v * v).sum
    }
    val r0 = rayleigh(IndexedSeq.fill(d)(1.0))
    val r3 = rayleigh(x3.map(_.toDouble))
    assert(r3 > r0, s"no spectral progress: R(x3)=$r3 <= R(x0)=$r0")
  }

  test("scores equal the independent driver dot product for every vector") {
    val scores = SparkEntry.queries("q_vec_pca_scores")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scores.size == kilos.size)
    kilos.foreach { case (vid, v) =>
      val expect = v.zip(x3).map { case (a, b) => a * b }.sum
      assert(scores(vid) == expect, s"vec $vid: ${scores(vid)} != $expect")
    }
  }
}
