package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{ClimateOps, Joins}

/** Laws for the r17 rolling-mean and SCD2 ops: hand-replayed windows,
  * version maximality, interval chaining, and NULL-state tracking. */
class Scd2RollingSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("rollingMean replayed by hand, min_periods nulls the head") {
    val df = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L),
      ("a", 5L, 40L), ("b", 1L, 5L)).toDF("g", "d", "v")
    val out = ClimateOps.rollingMean(df, Seq("g"), "d", "v",
        k = 3, minPeriods = 2)
      .orderBy("g", "d")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) Double.NaN else r.getDouble(5)))
    // trailing 3-ROW windows over the observed axis (d=4 is absent —
    // positional semantics, so d=5's window is {2,3,5})
    assert(out(0)._5.isNaN && out(0)._4 == 10L)             // 1 < minPeriods
    assert(out(1) == (("a", 2L, 2L, 30L, 15.0)))
    assert(out(2) == (("a", 3L, 3L, 60L, 20.0)))
    assert(out(3) == (("a", 5L, 3L, 90L, 30.0)))
    assert(out(4)._5.isNaN && out(4)._1 == "b")
  }

  test("rollingMean with k=1/minPeriods=1 is the identity mean") {
    val df = Seq(("a", 1L, 10L), ("a", 2L, 20L)).toDF("g", "d", "v")
    ClimateOps.rollingMean(df, Seq("g"), "d", "v", k = 1).collect()
      .foreach(r => assert(r.getDouble(5) == r.getLong(2).toDouble))
  }

  test("scd2History: versions, intervals, and NULL as a real state") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, "x", ts("2024-01-01 00:00:00"), 1L),
      (1L, "x", ts("2024-01-01 01:00:00"), 2L),
      (1L, "y", ts("2024-01-01 02:00:00"), 3L),
      (1L, null.asInstanceOf[String], ts("2024-01-01 03:00:00"), 4L),
      (1L, null.asInstanceOf[String], ts("2024-01-01 04:00:00"), 5L),
      (1L, "x", ts("2024-01-01 05:00:00"), 6L),
      (2L, "z", ts("2024-01-01 00:00:00"), 7L))
      .toDF("user_id", "event_type", "ts", "event_id")
    val h = Joins.scd2History(df, "user_id", "event_type", "ts", "event_id")
      .orderBy("user_id", "ver").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), r.getLong(4),
        if (r.isNullAt(5)) null else r.getTimestamp(5)))
    // user 1: x(2 events) -> y(1) -> NULL(2) -> x(1); user 2: z(1)
    assert(h.length == 5)
    assert(h(0) == ((1L, 1L, "x", ts("2024-01-01 00:00:00"), 2L,
      ts("2024-01-01 02:00:00"))))
    assert(h(1) == ((1L, 2L, "y", ts("2024-01-01 02:00:00"), 1L,
      ts("2024-01-01 03:00:00"))))
    assert(h(2)._3 == null && h(2)._5 == 2L) // NULL tracked as a state
    assert(h(3) == ((1L, 4L, "x", ts("2024-01-01 05:00:00"), 1L, null)))
    assert(h(4) == ((2L, 1L, "z", ts("2024-01-01 00:00:00"), 1L, null)))
    // interval chaining: valid_to == next version's valid_from
    h.filter(_._1 == 1L).sliding(2).foreach {
      case Array(a, b) => assert(a._6 == b._4)
      case _ =>
    }
  }

  test("scd2 on the real tier: partition + maximality laws") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val h = Joins.scd2History(ev, "user_id", "event_type", "ts", "event_id")
    // Σ n_events over versions reconstructs each user's event count
    val got = h.groupBy("user_id").agg(sum("n_events").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ev.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // maximality: consecutive versions always change value
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ver"))
    val merges = h.withColumn("pv", lag(col("event_type"), 1).over(w))
      .filter(col("pv").isNotNull && col("pv") <=> col("event_type"))
      .count()
    assert(merges == 0L)
    // exactly one open (NULL valid_to) version per user
    assert(h.filter(col("valid_to").isNull).count() == want.size.toLong)
  }
}
