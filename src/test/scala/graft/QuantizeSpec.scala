package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType}
import org.scalatest.funsuite.AnyFunSuite

/** Laws of the SQ8 embedding quantizer (ops.Vectors.quantizeInt8) and
  * its graded search key: the mathematical error bound, the int8 value
  * range, the byte-packed storage form, the zero-vector guard, and the
  * compression-vs-recall trade against the exact cosine ranking. */
class QuantizeSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  test("reconstruction error is bounded by scale/2 on every vector") {
    // |q - v/s| <= 1/2 from round-half-up, so |q*s - v| <= s/2 in real
    // arithmetic; the 1e-12 slack absorbs the two fp rounding steps
    val bad = ops.Vectors.quantizeInt8(Tables.embeddings(spark, dir))
      .filter(col("max_err") > col("scale") / 2.0 + 1e-12)
      .count()
    assert(bad == 0)
  }

  test("quantized components stay in the int8 range [-127, 127] and saturate the max") {
    val q = ops.Vectors.quantizeInt8(Tables.embeddings(spark, dir)).cache()
    val outOfRange = q.filter(
      size(filter(col("q"), x => abs(x) > 127L)) > 0).count()
    assert(outOfRange == 0)
    // scale = max|v|/127 means the largest component must hit +-127
    val unsaturated = q.filter(col("scale") > 0.0 && col("n_sat") === 0L).count()
    assert(unsaturated == 0)
    q.unpersist()
  }

  test("byte-packed form is lossless and 1 byte wide") {
    val q = ops.Vectors.quantizeInt8(Tables.embeddings(spark, dir))
    assert(q.schema("qb").dataType.asInstanceOf[ArrayType].elementType == ByteType)
    val lossy = q.filter(
      transform(col("qb"), b => b.cast("long")) =!= col("q")).count()
    assert(lossy == 0)
  }

  test("all-zero vectors quantize to all zeros with scale 0 (no 0/0 NaN)") {
    import spark.implicits._
    val z = Seq((0L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding")
    val row = ops.Vectors.quantizeInt8(z).collect().head
    assert(row.getAs[Double]("scale") == 0.0)
    assert(row.getAs[Seq[Long]]("q").forall(_ == 0L))
    assert(row.getAs[Double]("max_err") == 0.0)
  }

  test("SQ8 top-5 agrees with the exact cosine top-5 on >= 80% of slots") {
    val exact = SparkEntry.queries("q_vec_knn")(spark, dir)
      .select(col("q_id"), col("c_id"))
    val sq8 = SparkEntry.queries("q_vec_ann_sq8")(spark, dir)
      .select(col("q_id"), col("c_id"))
    val total = exact.count()
    val overlap = exact.join(sq8, Seq("q_id", "c_id")).count()
    // measured 49/50 at sf0.001 and sf0.01; 80% is the pinned floor
    assert(total == 50, s"exact top-5 should have 50 rows, got $total")
    assert(overlap >= 40, s"SQ8 overlap $overlap/$total below the 80% floor")
  }
}
