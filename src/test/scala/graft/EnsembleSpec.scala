package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bcdp-style chained pipeline over the fluent Ensemble facade. */
class EnsembleSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def member(name: String, lats: Seq[Double]) = {
    val rows = for {
      t <- Seq("2000-01-10 00:00:00", "2000-07-10 00:00:00")
      lat <- lats
      lon <- Seq(10.0, 190.0)
    } yield (name, java.sql.Timestamp.valueOf(t), lat, lon, lat + lon / 1000.0)
    rows.toDF("dataset", "time", "lat", "lon", "value")
  }

  test("chained pipeline: homogenize → subset → season → regrid → members") {
    val ens = Ensemble.of(member("m1", Seq(0.0, 20.0))
        .unionByName(member("m2", Seq(0.0, 20.0, 40.0))))
      .homogenize() // lon 190 → -170
      .subset(-90, 90, -180, 180, "1999-01-01 00:00:00", "2000-12-31 00:00:00")
      .selectSeason(Seq(12, 1, 2)) // keeps only the January timestep
    assert(ens.members == Seq("m1", "m2"))
    assert(ens.df.select(month($"time")).distinct().as[Int].collect().toSeq == Seq(1))
    val regridded = ens.regridBin(30.0, 60.0)
    assert(regridded.df.columns.toSet == Set("dataset", "time", "lat", "lon", "value"))
  }

  test("regridConservative on the Ensemble keeps the long-form schema (r17)") {
    val ens = Ensemble.of(member("m1", Seq(0.5, 1.5)))
      .regridConservative(1.0, 180.0, 0.0, 2.0, 0.0, 360.0, 2.0, 360.0,
        spherical = false)
    assert(ens.df.columns.toSet == Set("dataset", "time", "lat", "lon", "value"))
    // one 2°×360° target cell per timestep; the blend is convex — it
    // sits strictly inside the source value range (0.51 .. 1.69)
    val vals = ens.df.select("value").as[Double].collect().toSeq
    assert(vals.length == 2)
    assert(vals.forall(v => v > 0.51 && v < 1.69), s"non-convex blend: $vals")
  }

  test("alignMembers keeps only cells present in every member") {
    val ens = Ensemble.of(member("m1", Seq(0.0, 20.0))
      .unionByName(member("m2", Seq(0.0, 20.0, 40.0))))
    val aligned = ens.alignMembers()
    // lat=40 exists only in m2 → dropped everywhere
    assert(aligned.df.filter($"lat" === 40.0).count() == 0)
    // common cells survive for both members
    assert(aligned.df.count() == 2 * 2 * 2 * 2) // members × times × lats × lons
  }

  test("alignMembers with a declared count sees an all-empty member; inference cannot") {
    // r11 single-row-tier find: membership is data-carried, so the
    // inferred member count cannot see a member that contributed ZERO
    // rows — inference degrades to "present in all NON-EMPTY members"
    // (documented). With the declared count, an empty member correctly
    // aligns every cell away, surfacing the upstream data loss.
    val m1 = member("m1", Seq(0.0, 20.0))
    val ens = Ensemble.of(m1.unionByName(member("m2", Seq(0.0)).limit(0)))
    assert(ens.alignMembers(declaredMembers = 2).df.count() == 0,
      "an all-empty declared member must align every cell away")
    // default inference: the empty member is invisible, m1 survives
    assert(ens.alignMembers().df.count() == m1.count())
  }

  test("alignMembers fails loudly on an UNDERSTATED declared count") {
    // r11 advice: declared < actual distinct tags used to silently drop
    // fully-aligned cells (nds > declared fails the === filter). The
    // in-plan guard now raises the moment any cell counts more members
    // than declared — no extra job, the guard lives in the same filter.
    val ens = Ensemble.of(member("m1", Seq(0.0, 20.0))
      .unionByName(member("m2", Seq(0.0, 20.0))))
    val ex = intercept[Exception] {
      ens.alignMembers(declaredMembers = 1).df.count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("understates")),
      s"expected the understated-declaration guard, got: ${msgs(ex)}")
    // and a CORRECT declaration on the same data still aligns cleanly
    assert(ens.alignMembers(declaredMembers = 2).df.count() ==
      ens.df.count())
  }

  test("alignMembers composes lazily — no Spark job at plan time") {
    val ens = Ensemble.of(member("m1", Seq(0.0, 20.0))
      .unionByName(member("m2", Seq(0.0, 20.0, 40.0))))
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    val aligned = ens.alignMembers() // compose only — must run nothing
    Thread.sleep(300) // let any (erroneous) async job-start event land
    val after = tracker.getJobIdsForGroup(null).length
    assert(after == before,
      s"alignMembers ran ${after - before} eager Spark job(s) at plan time")
    // and the lazily-built plan still produces the aligned result
    assert(aligned.df.filter($"lat" === 40.0).count() == 0)
  }

  test("addMember / dropMember algebra") {
    val ens = Ensemble.of(member("m1", Seq(0.0)))
      .addMember("obs", member("ignored", Seq(0.0)).drop("dataset"))
    assert(ens.members == Seq("m1", "obs"))
    assert(ens.dropMember("m1").members == Seq("obs"))
  }

  test("loadGrid over a glob matching an .h5 member and a .zarr store returns both members' rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ens_mixed").toString
    Ensemble.of(member("a", Seq(0.0, 20.0))).toNetcdf(dir, "tas", hdf5 = true)
    member("b", Seq(0.0, 20.0, 40.0)).withColumn("variable", lit("tas"))
      .write.format("netcdf").option("container", "zarr").mode("append").save(dir)
    val ens = Ensemble.loadGrid(spark, s"$dir/*", "tas")
    assert(ens.members == Seq("a.h5", "b.zarr"))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("time", "lat", "lon", "value").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getDouble(1), r.getDouble(2),
          r.getDouble(3))).sorted.toSeq
    assert(cells(ens.df.filter($"dataset" === "a.h5")) == cells(member("a", Seq(0.0, 20.0))))
    assert(cells(ens.df.filter($"dataset" === "b.zarr")) ==
      cells(member("b", Seq(0.0, 20.0, 40.0))))
  }
}
