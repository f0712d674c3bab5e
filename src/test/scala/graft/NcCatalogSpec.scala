package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Hdf5Classic, NcCatalog, NetcdfClassic, NetcdfSource}
import NetcdfClassic.{NcAttr, NcDim}

/** Laws for the ESGF-style catalog/manifest layer (r14, reference R2's
  * local half): envelope recording, facet-equivalence with the
  * unpruned read, and OBSERVABLE planning-time member pruning. */
class NcCatalogSpec extends AnyFunSuite with SparkSuite {
  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"nccat-$tag").toString

  /** Classic member: time(nt) × lat(2) × lon(3), days since epoch+day0. */
  private def writeClassic(path: String, nt: Int, bias: Double,
                           day0: Int = 0): Unit = {
    val bytes = NetcdfClassic.write(
      dims = Seq(NcDim("time", nt), NcDim("lat", 2), NcDim("lon", 3)),
      vars = Seq(
        ("time", Seq(0), Seq(NcAttr("units", "days since 1970-01-01")),
          Array.tabulate(nt)(i => (day0 + i).toDouble)),
        ("lat", Seq(1), Nil, Array(0.0, 10.0)),
        ("lon", Seq(2), Nil, Array(100.0, 110.0, 120.0)),
        ("tas", Seq(0, 1, 2), Nil,
          Array.tabulate(nt * 6)(i => bias + i.toDouble))))
    Files.write(Paths.get(path), bytes)
  }

  /** HDF5 member carrying a DIFFERENT variable (pr) and lat band. */
  private def writeH5(path: String): Unit = {
    val bytes = Hdf5Classic.write(
      dims = Seq(NcDim("time", 2), NcDim("lat", 2), NcDim("lon", 3)),
      vars = Seq(
        ("time", Seq(0), Seq(NcAttr("units", "days since 1970-01-01")),
          Array(10.0, 11.0)),
        ("lat", Seq(1), Nil, Array(50.0, 60.0)),
        ("lon", Seq(2), Nil, Array(100.0, 110.0, 120.0)),
        ("pr", Seq(0, 1, 2), Nil, Array.tabulate(12)(_.toDouble))))
    Files.write(Paths.get(path), bytes)
  }

  /** Static (lat, lon) member — no time axis. */
  private def writeStatic(path: String): Unit = {
    val bytes = Hdf5Classic.write(
      dims = Seq(NcDim("lat", 2), NcDim("lon", 3)),
      vars = Seq(
        ("lat", Seq(0), Nil, Array(0.0, 10.0)),
        ("lon", Seq(1), Nil, Array(100.0, 110.0, 120.0)),
        ("orog", Seq(0, 1), Nil, Array.tabulate(6)(i => 7.0 * i))))
    Files.write(Paths.get(path), bytes)
  }

  private def archive(): (String, String) = {
    val tmp = tmpDir("arch")
    writeClassic(s"$tmp/m1.nc", nt = 2, bias = 0.0)
    writeH5(s"$tmp/m2.h5")
    writeStatic(s"$tmp/m3.h5")
    // the manifest lives OUTSIDE the archive glob — inside it, the
    // manifest's own JSON part files would match the member glob
    val man = tmpDir("man")
    NcCatalog.buildManifest(spark, s"$tmp/*", man)
    (tmp, man)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.mkString("|")).sorted

  test("manifest records per-member envelopes from the headers") {
    val (_, man) = archive()
    val cat = NcCatalog.catalog(spark, man)
      .orderBy(col("dataset")).collect()
    assert(cat.map(_.getAs[String]("dataset")).toSeq ==
      Seq("m1.nc", "m2.h5", "m3.h5"))
    val m1 = cat(0); val m2 = cat(1); val m3 = cat(2)
    assert(m1.getAs[scala.collection.Seq[String]]("variables").toSeq == Seq("tas"))
    assert(m2.getAs[scala.collection.Seq[String]]("variables").toSeq == Seq("pr"))
    assert(m3.getAs[scala.collection.Seq[String]]("variables").toSeq == Seq("orog"))
    assert(m1.getAs[Double]("lat_min") == 0.0 &&
      m1.getAs[Double]("lat_max") == 10.0)
    assert(m2.getAs[Double]("lat_min") == 50.0)
    // CF-decoded time envelopes; the static member records none
    assert(m1.getAs[Long]("time_min_us") == 0L &&
      m1.getAs[Long]("time_max_us") == 86400L * 1000000L)
    assert(m3.isNullAt(m3.fieldIndex("time_min_us")))
  }

  test("facet select == unpruned DSv2 read + identical filters") {
    val (tmp, man) = archive()
    val full = spark.read.format("netcdf").load(s"$tmp/m1.nc", s"$tmp/m2.h5",
      s"$tmp/m3.h5")
    // variable facet
    assert(rows(NcCatalog.select(spark, man, variable = Some("pr"))) ==
      rows(full.where(col("variable") === "pr")))
    // bounds facet (lat band hits only m2)
    val b = NetcdfSource.GridBounds(latMin = 45.0)
    assert(rows(NcCatalog.select(spark, man, bounds = Some(b))) ==
      rows(full.where(col("lat") >= 45.0)))
    // dataset-pattern facet
    assert(rows(NcCatalog.select(spark, man,
      datasetPattern = Some("^m[13]"))) ==
      rows(full.where(col("dataset").rlike("^m[13]"))))
  }

  test("Ensemble.fromCatalog == loadGrid + filters, and the chain runs on it (r15)") {
    val (tmp, man) = archive()
    val b = NetcdfSource.GridBounds(latMax = 20.0)
    val viaCat = Ensemble.fromCatalog(spark, man, "tas", bounds = Some(b))
    // the facet prunes to the one tas-carrying in-band member (m1) —
    // the unpruned loadGrid comparison must target the same file (the
    // explicit-variable read rejects a glob member lacking it)
    val direct = Ensemble.loadGrid(spark, s"$tmp/m1.nc", "tas", bounds = Some(b))
    assert(rows(viaCat.df) == rows(direct.df))
    // the chained API composes on the catalog-loaded ensemble: the
    // zonal collapse over the one in-band lat pair
    val z = graft.ops.ClimateOps.zonalMean(viaCat.df)
    assert(z.columns.toSeq == Seq("dataset", "time", "lat", "value"))
    assert(z.count() == viaCat.df.select("dataset", "time", "lat")
      .distinct().count())
  }

  test("envelope pruning is PLANNING-time: an excluded member is never opened") {
    val (tmp, man) = archive()
    // corrupt m2 AFTER the manifest build; a lat facet whose envelope
    // excludes m2 must succeed — the file is pruned before any open
    Files.write(Paths.get(s"$tmp/m2.h5"), Array.fill[Byte](64)(0x7f))
    val got = NcCatalog.select(spark, man,
      bounds = Some(NetcdfSource.GridBounds(latMax = 20.0)))
    assert(got.count() == 2 * 2 * 3 + 2 * 3) // m1 (2t×2×3) + static m3
    // whereas a facet that keeps m2 must now fail loudly on the bytes
    intercept[Exception] {
      NcCatalog.select(spark, man,
        bounds = Some(NetcdfSource.GridBounds(latMin = 45.0))).count()
    }
  }

  test("time facets exclude static members; empty selection is an empty frame") {
    val (_, man) = archive()
    val t = NcCatalog.select(spark, man,
      bounds = Some(NetcdfSource.GridBounds(
        timeMin = Some(java.sql.Timestamp.valueOf("1970-01-10 00:00:00")))))
    // only m2 (days 10-11) — m1 (days 0-1) pruned by envelope, the
    // static m3 excluded by the null-time rule
    assert(t.select("dataset").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("m2.h5"))
    val none = NcCatalog.select(spark, man, variable = Some("nope"))
    assert(none.isEmpty &&
      none.schema == graft.sources.NetcdfV2.schema)
  }

  test("incremental update indexes only NEW members — known bytes stay unread") {
    val (tmp, man) = archive()
    // corrupt an already-indexed member: the update must not re-open it
    Files.write(Paths.get(s"$tmp/m2.h5"), Array.fill[Byte](64)(0x11))
    writeClassic(s"$tmp/m4.nc", nt = 1, bias = 500.0, day0 = 20)
    val added = NcCatalog.updateManifest(spark, s"$tmp/*", man)
    assert(added.map(p => p.substring(p.lastIndexOf('/') + 1)) == Seq("m4.nc"))
    val cat = NcCatalog.catalog(spark, man)
    assert(cat.count() == 4)
    // the new member is immediately facet-addressable
    val got = NcCatalog.select(spark, man,
      bounds = Some(NetcdfSource.GridBounds(
        timeMin = Some(java.sql.Timestamp.valueOf("1970-01-20 00:00:00")))))
    assert(got.select("dataset").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("m4.nc"))
    // a second update is a no-op
    assert(NcCatalog.updateManifest(spark, s"$tmp/*", man).isEmpty)
  }

  test("manifest rejects a non-grid member by name") {
    val tmp = tmpDir("reject")
    // a valid container with no (time,lat,lon)/(lat,lon) data variable
    Files.write(Paths.get(s"$tmp/odd.nc"), NetcdfClassic.write(
      dims = Seq(NcDim("x", 2)),
      vars = Seq(("x", Seq(0), Nil, Array(1.0, 2.0)))))
    val e = intercept[Exception] {
      NcCatalog.buildManifest(spark, s"$tmp/*", s"$tmp/_man")
    }
    assert(e.getMessage != null)
  }
}
