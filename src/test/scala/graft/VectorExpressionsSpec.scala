package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.VectorExpressions.{cosine_sim, dot_product}

/** The custom codegen expressions must be BIT-IDENTICAL to the
  * higher-order-function formulation (same index-order accumulation),
  * otherwise they cannot replace it in oracle-matched queries. */
class VectorExpressionsSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  private def dbl(c: org.apache.spark.sql.Column) = transform(c, x => x.cast("double"))
  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
  private def hofNorm(a: org.apache.spark.sql.Column) =
    aggregate(a, lit(0.0), (acc, x) => acc + x * x)

  test("DotProduct === HOF fold, bit-exact, on all sf0.001 vector pairs") {
    val e = Tables.embeddings(spark, dir)
    val a = e.filter(col("vec_id") < 50).select(col("vec_id").as("ia"), dbl(col("embedding")).as("va"))
    val b = e.filter(col("vec_id").between(50, 99)).select(col("vec_id").as("ib"), dbl(col("embedding")).as("vb"))
    val pairs = a.crossJoin(b)
    val bad = pairs.withColumn("d1", dot_product(col("va"), col("vb")))
      .withColumn("d2", hofDot(col("va"), col("vb")))
      .filter(col("d1") =!= col("d2")) // exact double comparison
      .count()
    assert(bad == 0)
  }

  test("CosineSimilarity === HOF formula, bit-exact") {
    val e = Tables.embeddings(spark, dir)
    val a = e.filter(col("vec_id") < 50).select(col("vec_id").as("ia"), dbl(col("embedding")).as("va"))
    val b = e.filter(col("vec_id").between(50, 99)).select(col("vec_id").as("ib"), dbl(col("embedding")).as("vb"))
    val hofCos = hofDot(col("va"), col("vb")) /
      (sqrt(hofNorm(col("va"))) * sqrt(hofNorm(col("vb"))))
    val bad = a.crossJoin(b)
      .withColumn("c1", cosine_sim(col("va"), col("vb")))
      .withColumn("c2", hofCos)
      .filter(col("c1") =!= col("c2"))
      .count()
    assert(bad == 0)
  }

  test("CosineSimilarity of a zero vector is NULL in both eval modes") {
    // declared semantics (r10): undefined, NOT the NaN raw division
    // gives — Spark sorts NaN FIRST under DESC while both engines sort
    // NULL last, so NaN would rank a zero candidate top of knn while
    // DuckDB (0/0 → NULL) ranks it bottom. Checked in interpreted AND
    // codegen paths via a literal-free and a literal-bearing plan.
    import spark.implicits._
    val df = Seq((Array(0.0, 0.0), Array(1.0, 2.0)),
                 (Array(1.0, 2.0), Array(0.0, 0.0)),
                 (Array(1.0, 0.0), Array(1.0, 0.0))).toDF("a", "b")
    val out = df.select(cosine_sim(col("a"), col("b")).as("c")).collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0))
    assert(out(2).getDouble(0) == 1.0)
  }

  test("SQL registration works") {
    graft.expressions.VectorExpressions.register(spark)
    Tables.embeddings(spark, dir).createOrReplaceTempView("emb_t")
    val r = spark.sql(
      """SELECT cosine_sim(transform(embedding, x -> CAST(x AS DOUBLE)),
        |                  transform(embedding, x -> CAST(x AS DOUBLE))) AS c
        |FROM emb_t LIMIT 5""".stripMargin).collect()
    assert(r.forall(row => math.abs(row.getDouble(0) - 1.0) < 1e-9))
  }

  test("the k-means, PQ and IVF keys build no trivially true equals predicate") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warned = new java.util.concurrent.atomic.AtomicInteger()
    val capture = new AbstractAppender("trivial-eq-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("trivially true equals predicate"))
          warned.incrementAndGet()
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, Level.WARN, null)
    ctx.updateLoggers()
    try {
      // the capture sees the warning Spark logs for a self-equality
      col("x") === col("x")
      assert(warned.get() == 1)
      warned.set(0)
      // a fresh session: the memo would otherwise skip the fits' builds
      val s = spark.newSession()
      for (k <- Seq("q_vec_kmeans", "q_vec_pq", "q_vec_ann_pq", "q_vec_ann_ivf_det"))
        SparkEntry.queries(k)(s, dir).collect()
      assert(warned.get() == 0)
    } finally {
      root.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
  }
}
