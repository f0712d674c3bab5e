package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Skew

/** Salting rewrites must be result-identical to the unsalted forms. */
class SkewSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  test("saltedSum(cents) == plain groupBy sum") {
    val l = Tables.lineitem(spark, dir)
      .withColumn("qc", Det.cents(col("l_quantity")))
    val plain = l.groupBy(col("l_returnflag"))
      .agg(sum(col("qc").cast("decimal(38,0)")).as("sum"))
    val salted = Skew.saltedSum(l, Seq(col("l_returnflag")), col("qc"), 16)
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
  }

  test("saltedJoin == plain join (same row multiset)") {
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey", "o_orderstatus")
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val plain = o.join(c, "o_custkey")
    val salted = Skew.saltedJoin(o, c, "o_custkey", 8)
      .select(plain.columns.map(col): _*)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
  }

  test("bandedIntervalJoinSalted == bandedIntervalJoin under hot-key skew, AQE off") {
    // the doc contract at Joins.bandedIntervalJoin: "for AQE-off
    // deployments use the Skew.saltedJoin composition on the banded
    // keys". Distribution: ONE user owns ~half of all events (the AQE
    // skew-split scenario), AQE explicitly off so salting is the only
    // skew defense in play.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 2000
    val events = (0 until n).map { i =>
      val user = if (i % 2 == 0) 0L else 1L + rnd.nextInt(50) // half on user 0
      val tUs = 1000000L * rnd.nextInt(200000)                // ~55 h spread
      (i.toLong, user, tUs)
    }
    val purchases = events.filter(_._1 % 5 == 0)
      .toDF("p_id", "p_user", "p_us")
    val clicks = events.filterNot(_._1 % 5 == 0)
      .toDF("c_id", "c_user", "c_us")
    val beforeUs = 3600L * 1000000 // 1 h lookback
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val cols = Seq("p_id", "p_user", "p_us", "c_id", "c_user", "c_us")
      val plain = ops.Joins.bandedIntervalJoin(
        purchases, clicks, "p_user", "c_user", "p_us", "c_us", beforeUs)
        .select(cols.map(col): _*)
      val salted = ops.Joins.bandedIntervalJoinSalted(
        purchases, clicks, "p_user", "c_user", "p_us", "c_us", beforeUs,
        saltBuckets = 8)
        .select(cols.map(col): _*)
      assert(plain.count() > 0, "fixture produced no interval matches")
      assert(salted.exceptAll(plain).count() == 0
        && plain.exceptAll(salted).count() == 0)
      // and the salted plan really joins on the salt (hot partition
      // spread), not a theta/BNLJ shape
      val phys = salted.queryExecution.executedPlan.toString
      assert(phys.contains("__salt"), "salt key absent from the physical join")
      assert(!phys.contains("BroadcastNestedLoopJoin"),
        "salted interval join degenerated to a nested loop")
    } finally spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
  }
}
