package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Profiling

/** Laws for the drift report (r17): zero drift on identical slices,
  * sign/direction on a planted shift, and count conservation. */
class DriftSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("identical slices report zero drift in every bin") {
    val a = Seq("x", "x", "y", "z").toDF("bin0")
    val out = Profiling.driftReport(a, a, col("bin0")).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(3) == 0L))
  }

  test("a planted shift drifts with the right sign and magnitude order") {
    val a = Seq.fill(8)("x").toDF("bin0")
      .union(Seq.fill(2)("y").toDF("bin0"))
    val b = Seq.fill(2)("x").toDF("bin0")
      .union(Seq.fill(8)("y").toDF("bin0"))
    val m = Profiling.driftReport(a, b, col("bin0")).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    // dq = c_a·N_b − c_b·N_a with N_a = N_b = 10
    assert(m("x") == 8L * 10 - 2L * 10)
    assert(m("y") == 2L * 10 - 8L * 10)
  }

  test("counts conserve and disjoint bins coalesce to zero") {
    val a = Seq("only_a", "both").toDF("bin0")
    val b = Seq("only_b", "both", "both").toDF("bin0")
    val rows = Profiling.driftReport(a, b, col("bin0")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set(("only_a", 1L, 0L), ("both", 1L, 2L),
      ("only_b", 0L, 1L)))
  }
}
