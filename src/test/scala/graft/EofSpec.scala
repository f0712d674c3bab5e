package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.ClimateOps

/** Laws for the EOF decomposition (r17): exact mean removal, the
  * anti-correlated-cells sign structure, the zero-variance field, and
  * the PC series re-derived driver-side from the quantized field. */
class EofSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  // two anti-correlated cells with different amplitudes: cell 1 swings
  // twice as hard against cell 0 → leading EOF ∝ (1, -2)
  private def anti = Seq(
    (1L, 0L, 10L), (2L, 0L, 0L), (3L, 0L, 10L), (4L, 0L, 0L),
    (1L, 1L, 0L), (2L, 1L, 20L), (3L, 1L, 0L), (4L, 1L, 20L))
    .toDF("t", "i", "x")

  test("quantized anomalies sum to ~0 per cell (exact mean removal)") {
    val aq = ClimateOps.eofAnomalyQuant(anti)
      .groupBy("i").agg(sum("aq").as("s"), count(lit(1)).as("n"))
      .collect()
    aq.foreach { r =>
      // pre-quant anomalies sum to EXACTLY 0 (Σ(n·x − S) = nS − nS);
      // quantization adds ≤ 0.5 per sample
      assert(math.abs(r.getLong(1)) <= r.getLong(2),
        s"cell ${r.getLong(0)} anomaly sum ${r.getLong(1)}")
    }
  }

  test("anti-correlated cells load with opposite signs, amplitude order") {
    val (cells, x) = ClimateOps.eofLoadings(anti)
    assert(cells == Seq(0, 1))
    assert(x(0) * x(1) < 0, s"same-sign loadings: $x")
    assert(math.abs(x(1)) > math.abs(x(0)), s"amplitude order lost: $x")
    assert(math.abs(x(1)) == 1000000L) // requant saturates the max slot
  }

  test("zero-variance field yields all-zero loadings") {
    val flat = Seq((1L, 0L, 7L), (2L, 0L, 7L), (1L, 1L, 3L), (2L, 1L, 3L))
      .toDF("t", "i", "x")
    val (cells, x) = ClimateOps.eofLoadings(flat)
    assert(cells == Seq(0, 1))
    assert(cells.forall(i => x(i) == 0L))
  }

  test("empty input yields empty loadings") {
    val empty = Seq.empty[(Long, Long, Long)].toDF("t", "i", "x")
    val (cells, x) = ClimateOps.eofLoadings(empty)
    assert(cells.isEmpty && x.isEmpty)
  }

  test("PC series equals the driver-side dot of aq rows and loadings") {
    val (_, x) = ClimateOps.eofLoadings(anti)
    val aq = ClimateOps.eofAnomalyQuant(anti).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = aq.groupBy(_._1).map { case (t, rows) =>
      t -> rows.map { case (_, i, v) => v * x(i.toInt) }.sum
    }
    val got = ClimateOps.eofAnomalyQuant(anti)
      .groupBy(col("t"))
      .agg(sum(col("aq") * element_at(
        array(x.map(lit(_)): _*), (col("i") + 1).cast("int"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    // the PC series of an anomaly field sums to ~0 too
    assert(math.abs(got.values.sum) <= 4L * 1000000L)
  }
}
