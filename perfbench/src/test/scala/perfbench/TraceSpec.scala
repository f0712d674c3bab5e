package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  test("the analysis of a key's own DataFrame is recorded as a Catalyst phase, once") {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val t = new Trace
      t.attach(spark)
      val df = spark.range(10).selectExpr("id * 2 AS x")
      t.built(df)
      t.built(df)
      assert(t.phases.map(_._1) == Seq("analysis"))
      val (_, start, end) = t.phases.head
      assert(start <= end)
      assert(df.count() == 10)
      t.drain(spark)
      // the count runs a plan of its own, which the listener reports
      assert(t.phases.count(_._1 == "analysis") == 2)
      assert(t.phases.exists(_._1 == "planning"))
    } finally spark.stop()
  }
}
