package graft

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The size-gated regime of `Tables.tuneForScale`: a tier under 4 MB of
  * input runs with AQE off, at most 4 shuffle partitions and no code
  * generation; one between 4 and 256 MB compiles again but keeps AQE
  * off and the partitions capped; a large input (a missing dir is
  * sized Long.MaxValue) puts every one of those confs back at the
  * session's own value. */
class RegimeSpec extends AnyFunSuite with SparkSuite {
  private val tiny = "/root/testdata/sf0.001"
  private val adaptive = "spark.sql.adaptive.enabled"
  private val partitions = "spark.sql.shuffle.partitions"
  private val factory = "spark.sql.codegen.factoryMode"

  test("a tiny tier runs interpreted without AQE; each conf returns to the session's value at its gate") {
    assume(!sys.env.get("SPARK_GRAFT_NOTUNE").contains("1"), "the regime is switched off")
    // what the session was built with, or Spark's default where the
    // builder set nothing (the live confs are already tuned by any
    // earlier suite of this JVM)
    val defaults = Tables.regimeConfs.map { k =>
      k -> spark.sparkContext.getConf.getOption(k).getOrElse(new SQLConf().getConfString(k))
    }.toMap
    assert(Tables.regimeConfs.toSet == Set(adaptive, partitions, factory))

    val q = SparkEntry.queries("q_project_expr")(spark, tiny)
    assert(spark.conf.get(adaptive) == "false")
    assert(spark.conf.get(partitions).toInt <= 4)
    assert(spark.conf.get(factory) == "NO_CODEGEN")
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("*("), s"codegen span on a tiny tier:\n$p")

    // sf0.1 is 17 MB of input: between the codegen and the AQE gates
    Tables.table(spark, "/root/testdata/sf0.1", "region")
    assert(spark.conf.get(adaptive) == "false")
    assert(spark.conf.get(partitions).toInt <= 4)
    assert(spark.conf.get(factory) == defaults(factory))

    // built on the tiny tier, planned after the large-input branch ran
    val large = SparkEntry.queries("q_project_expr")(spark, tiny)
    intercept[org.apache.spark.sql.AnalysisException] {
      Tables.table(spark, "/nonexistent/graft-regime-spec", "region")
    }
    Tables.regimeConfs.foreach(k => assert(spark.conf.get(k) == defaults(k), k))
    // AQE is back on: its stages collapse into codegen spans as they run
    large.collect()
    val pl = large.queryExecution.executedPlan.toString
    assert(pl.contains("*("), s"no codegen span on a large input:\n$pl")
  }
}
