package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The test session: `Session.local(4)`, shared by every suite in the
  * test JVM. Each suite releases what it cached when it ends (memo
  * entries first, then any other cached frame), so no later suite's
  * cache-sensitive assertion sees frames it did not create. */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = Session.local(4)

  /** `df`'s executed plan as a large input plans it: with the codegen
    * factory at Spark's default FALLBACK, where the tiny-input regime
    * of `Tables.tuneForScale` sets NO_CODEGEN. `df` is built before the
    * conf is set (building it runs the tuning), and the tier's regime
    * is back when this returns. */
  def compiledPlan(df: DataFrame): String = {
    val k = "spark.sql.codegen.factoryMode"
    val prior = spark.conf.get(k)
    spark.conf.set(k, "FALLBACK")
    try df.queryExecution.executedPlan.toString finally spark.conf.set(k, prior)
  }

  /** Whether every operator line of `plan` that holds `marker`
    * (case-insensitively; at least one must) carries whole-stage
    * codegen's `*(n)` stage prefix, i.e. runs inside a codegen span. */
  def inCodegen(plan: String, marker: String): Boolean = {
    val lines = plan.linesIterator.filter(_.toLowerCase.contains(marker.toLowerCase)).toSeq
    lines.nonEmpty && lines.forall(l => """^[\s:+\-|]*\*\(\d+\) """.r.findFirstIn(l).isDefined)
  }

  override def afterAll(): Unit =
    try {
      Memo.clear()
      spark.catalog.clearCache()
    } finally super.afterAll()
}
