package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.AsOf

/** The custom AsOfJoinExec must agree with the oracle-matched window
  * emulation (q_join_asof) on the same task: most recent prior signup
  * per purchase, per user. */
class AsOfJoinSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  test("AsOfJoinExec plan is used and matches the window emulation") {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))

    val joined = AsOf.join(spark, purchases, signups,
      "user_id", "s_user", "ts", "s_ts")
    assert(joined.queryExecution.executedPlan.toString.contains("AsOfJoin"),
      "custom exec not planned:\n" + joined.queryExecution.executedPlan)

    val got = joined.select(col("event_id"),
      Det.tstr(col("ts")).as("purchase_ts"),
      Det.tstr(col("s_ts")).as("signup_ts"))
    val expected = SparkEntry.queries("q_join_asof")(spark, dir)
      .select(col("event_id"), col("purchase_ts"), col("signup_ts"))
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(got).count() == 0)
  }

  // PRECONDITION: the emulation's ROWS frame excludes a SAME-timestamp
  // signup with a larger event_id while the native inclusive <= admits
  // it — they agree only because events has no (user_id, ts) ties at
  // any sf (FIXTURES §1, measured). If a future data generation added
  // cross-type ts ties, this becomes a semantics choice, not a bug.
  test("native tolerance agrees with the oracle-matched window emulation") {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
    val dayUs = 24L * 3600 * 1000000
    val got = AsOf.join(spark, purchases, signups,
        "user_id", "s_user", "ts", "s_ts", tolerance = dayUs)
      .select(col("event_id"),
        Det.tstr(col("ts")).as("purchase_ts"),
        Det.tstr(col("s_ts")).as("signup_ts"))
    val expected = SparkEntry.queries("q_join_asof_tol")(spark, dir)
      .select(col("event_id"), col("purchase_ts"), col("signup_ts"))
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(got).count() == 0)
  }

  test("string by-keys work (interpreted ordering)") {
    import spark.implicits._
    val l = Seq(("a", 100L), ("b", 50L)).toDF("k", "t")
    val r = Seq(("a", 90L, 1L), ("b", 60L, 2L)).toDF("k2", "t2", "v")
    val res = AsOf.join(spark, l, r, "k", "k2", "t", "t2")
      .select("k", "v").collect()
      .map(x => (x.getString(0), if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
    assert(res == Set(("a", 1L), ("b", -1L))) // b@50 has no prior right
  }

  test("strict mode excludes equal-timestamp matches") {
    import spark.implicits._
    val l = Seq((1L, 100L)).toDF("k", "t")
    val r = Seq((1L, 100L, "eq"), (1L, 90L, "prior")).toDF("k2", "t2", "v")
    val inclusive = AsOf.join(spark, l, r, "k", "k2", "t", "t2")
      .select("v").head().getString(0)
    val strict = AsOf.join(spark, l, r, "k", "k2", "t", "t2", strict = true)
      .select("v").head().getString(0)
    assert(inclusive == "eq" && strict == "prior")
  }

  test("mini fixture: exact backward-join semantics incl. no-match NULL") {
    import spark.implicits._
    val l = Seq((1L, 100L), (1L, 200L), (2L, 50L))
      .toDF("k", "t").select(col("k"), col("t"), col("t").as("lt"))
    val r = Seq((1L, 90L, "a"), (1L, 150L, "b"), (3L, 10L, "c"))
      .toDF("k2", "t2", "v")
    val res = AsOf.join(spark, l, r, "k", "k2", "t", "t2")
      .select("k", "t", "v").collect()
      .map(x => (x.getLong(0), x.getLong(1), if (x.isNullAt(2)) null else x.getString(2)))
      .toSet
    assert(res == Set((1L, 100L, "a"), (1L, 200L, "b"), (2L, 50L, null)))
  }

  test("string `on` columns order lexicographically") {
    import spark.implicits._
    // dates as ISO strings: lexicographic == chronological
    val l = Seq((1L, "2024-03-15")).toDF("k", "t")
    val r = Seq((1L, "2024-03-01", "prior"), (1L, "2024-04-01", "future"))
      .toDF("k2", "t2", "v")
    val got = AsOf.join(spark, l, r, "k", "k2", "t", "t2")
      .select("v").head().getString(0)
    assert(got == "prior")
  }

  test("decimal `on` columns work") {
    import spark.implicits._
    val l = Seq((1L, BigDecimal("10.50"))).toDF("k", "t")
    val r = Seq((1L, BigDecimal("10.49"), "prior"),
      (1L, BigDecimal("10.51"), "future")).toDF("k2", "t2", "v")
    val got = AsOf.join(spark, l, r, "k", "k2", "t", "t2")
      .select("v").head().getString(0)
    assert(got == "prior")
  }

  test("null `on` values: left-null matches nothing, right-null never admissible") {
    import spark.implicits._
    val l = Seq((1L, Some(100L)), (1L, None), (2L, Some(10L)))
      .toDF("k", "t")
    val r = Seq((1L, Some(90L), "a"), (1L, (None: Option[Long]), "nullrow"),
      (2L, Some(5L), "b")).toDF("k2", "t2", "v")
    val res = AsOf.join(spark, l, r, "k", "k2", "t", "t2")
      .select("k", "t", "v").collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1),
        if (x.isNullAt(2)) null else x.getString(2))).toSet
    // (1, null) gets no match; the null-on right row is skipped, so it
    // neither matches nor blocks (1,100)←"a" and (2,10)←"b"
    assert(res == Set((1L, 100L, "a"), (1L, -1L, null), (2L, 10L, "b")))
  }

  test("mismatched `on` types fail fast with a typed error") {
    import spark.implicits._
    val l = Seq((1L, 100L)).toDF("k", "t")
    val r = Seq((1L, "2024-01-01", "x")).toDF("k2", "t2", "v")
    val e = intercept[IllegalArgumentException] {
      AsOf.join(spark, l, r, "k", "k2", "t", "t2")
    }
    assert(e.getMessage.contains("share one data type"))
  }

  test("AsOf.register is idempotent: two calls install one strategy") {
    AsOf.register(spark)
    AsOf.register(spark)
    assert(spark.experimental.extraStrategies.count(_ eq AsOf.AsOfStrategy) == 1)
  }
}
