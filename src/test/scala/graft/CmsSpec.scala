package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Count-Min sketch contract: estimates never underestimate, the wide
  * sketch is exact on this vocabulary, partial-merge across partitions
  * equals a single-pass build, and a deliberately narrow sketch
  * overestimates (proving it actually collides rather than growing). */
class CmsSpec extends AnyFunSuite with SparkSuite {
  import graft.expressions.CountMinAgg.{cms_sketch, cms_estimate}

  private val dir = "/root/testdata/sf0.001"

  private def terms = Tables.documents(spark, dir)
    .select(explode(split(col("text"), " ")).as("term"))
    .select(col("term"), xxhash64(col("term")).as("h"))

  private def estVsExact(depth: Int, width: Int) = {
    val sketch = terms.agg(cms_sketch(col("h"), depth, width).as("sk"))
    terms.groupBy(col("term"), col("h"))
      .agg(count(lit(1)).cast("long").as("exact"))
      .crossJoin(broadcast(sketch))
      .select(col("term"), col("exact"),
        cms_estimate(col("sk"), col("h"), depth, width).as("est"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
  }

  test("estimate >= exact for every term (CMS one-sided error)") {
    val rows = estVsExact(depth = 5, width = 2048)
    assert(rows.nonEmpty)
    rows.foreach { case (t, exact, est) =>
      assert(est >= exact, s"term '$t': est $est < exact $exact")
    }
  }

  test("wide sketch is exact on this vocabulary") {
    estVsExact(depth = 5, width = 2048).foreach { case (t, exact, est) =>
      assert(est == exact, s"term '$t': est $est != exact $exact at width 2048")
    }
  }

  test("narrow sketch overestimates somewhere but each row still sums to N") {
    val n = terms.count()
    val sk = terms.agg(cms_sketch(col("h"), 3, 4).as("sk"))
      .collect()(0).getSeq[Long](0)
    assert(sk.length == 12)
    (0 until 3).foreach { d =>
      assert(sk.slice(d * 4, d * 4 + 4).sum == n, s"row $d mass != N")
    }
    val rows = estVsExact(depth = 3, width = 4)
    assert(rows.exists { case (_, exact, est) => est > exact },
      "width-4 sketch over a 30+-term vocabulary must collide")
  }

  test("NULL sketch estimates NULL; wrong-size sketch raises") {
    import spark.implicits._
    val nullSketch = Seq((1L, Option.empty[Seq[Long]])).toDF("h", "sk")
    val got = nullSketch.select(
      cms_estimate(col("sk"), col("h"), 3, 4).as("est")).collect()(0)
    assert(got.isNullAt(0), "NULL sketch must stay NULL, not raise")
    val wrong = Seq((1L, Seq(0L, 0L, 0L))).toDF("h", "sk")
    val err = intercept[Exception] {
      wrong.select(cms_estimate(col("sk"), col("h"), 3, 4)).collect()
    }
    assert(err.getMessage.contains("cms_estimate") ||
      Option(err.getCause).exists(_.getMessage.contains("cms_estimate")))
  }

  test("weighted build over pre-aggregated counts == unweighted over rows") {
    import graft.expressions.CountMinAgg.cms_sketch_weighted
    val plain = terms.agg(cms_sketch(col("h"), 4, 128).as("sk"))
      .collect()(0).getSeq[Long](0)
    val weighted = terms.groupBy(col("h"))
      .agg(count(lit(1)).cast("long").as("w"))
      .agg(cms_sketch_weighted(col("h"), col("w"), 4, 128).as("sk"))
      .collect()(0).getSeq[Long](0)
    assert(plain == weighted)
  }

  test("heavyHitters two-phase == plain groupBy filter, at several thresholds") {
    val exact = terms.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    for (minCount <- Seq(1L, 50L, 500L, 100000L)) {
      val got = ops.Text.heavyHitters(terms, minCount, depth = 4, width = 256)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val want = exact.where(col("cnt") >= minCount)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == want, s"minCount=$minCount")
    }
  }

  test("partial-merge across 16 partitions == single-partition build") {
    val one = terms.repartition(1).agg(cms_sketch(col("h"), 5, 256).as("sk"))
      .collect()(0).getSeq[Long](0)
    val many = terms.repartition(16).agg(cms_sketch(col("h"), 5, 256).as("sk"))
      .collect()(0).getSeq[Long](0)
    assert(one == many)
  }

}
