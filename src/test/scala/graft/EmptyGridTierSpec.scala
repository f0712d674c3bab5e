package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** A tier with no events runs the grid keys through their own path: the
  * sink writes archives with no member, the scan and the catalog read
  * them as empty, and the global aggregate is answered by the scan. The
  * empty tier is sf0.001 with `events` cut to zero rows. */
class EmptyGridTierSpec extends AnyFunSuite with SparkSuite {
  private val base = "/root/testdata/sf0.001"

  private lazy val empty: String = {
    val d = Files.createTempDirectory("graft-empty-tier")
    val names = new java.io.File(base).list().toSeq.sorted
    assert(names.contains("events.parquet"))
    for (n <- names if n != "events.parquet")
      Files.copy(Paths.get(base, n), d.resolve(n))
    spark.read.parquet(s"$base/events.parquet").limit(0)
      .write.parquet(d.resolve("events.parquet").toString)
    d.toString
  }

  private val gridKeys = Seq("q_source_netcdf_roundtrip", "q_source_hdf5_roundtrip",
    "q_source_zarr_roundtrip", "q_source_zarr_subset", "q_source_grid_subset",
    "q_source_dsv2_pushdown", "q_source_dsv2_write", "q_source_dsv2_stream",
    "q_source_dsv2_agg", "q_source_dsv2_agg_grouped", "q_source_catalog",
    "q_source_catalog_ensemble", "q_climate_pipeline_nc")

  private def run(key: String, dir: String): DataFrame = SparkEntry.queries(key)(spark, dir)

  test("on a zero-events tier 12 grid keys return no rows and q_source_dsv2_agg (0, NULL, NULL, NULL, NULL)") {
    assert(Tables.events(spark, empty).count() == 0)
    for (k <- gridKeys) {
      val rows = run(k, empty).collect().toSeq.map(_.toSeq)
      if (k == "q_source_dsv2_agg") assert(rows == Seq(Seq(0L, null, null, null, null)), k)
      else assert(rows.isEmpty, s"$k: $rows")
    }
  }

  test("each grid key's output fields on the empty tier equal its sf0.001 output fields") {
    def fields(df: DataFrame) = df.schema.fields.toSeq.map(f => (f.name, f.dataType))
    for (k <- gridKeys) {
      val full = run(k, base)
      assert(full.count() > 0, k)
      assert(fields(run(k, empty)) == fields(full), k)
    }
  }

  test("q_source_dsv2_agg is answered inside the scan on both tiers: PushedAggregates, no Aggregate") {
    for (d <- Seq(base, empty)) {
      val df = run("q_source_dsv2_agg", d)
      assert(df.queryExecution.executedPlan.toString.contains("PushedAggregates: ["),
        s"$d:\n${df.queryExecution.executedPlan}")
      assert(df.queryExecution.optimizedPlan.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isEmpty, s"$d:\n${df.queryExecution.optimizedPlan}")
    }
  }
}
