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

  test("manifest indexes a .zarr store beside .h5/.nc members") {
    val tmp = tmpDir("zarr")
    writeClassic(s"$tmp/m1.nc", nt = 2, bias = 0.0)
    writeH5(s"$tmp/m2.h5")
    // m1's grid, shifted in value, as the Zarr store z1.zarr
    val m1 = spark.read.format("netcdf").load(s"$tmp/m1.nc")
    m1.withColumn("dataset", lit("z1")).withColumn("value", col("value") + 1000.0)
      .write.format("netcdf").option("container", "zarr").mode("append").save(tmp)
    val man = tmpDir("zman")
    NcCatalog.buildManifest(spark, s"$tmp/*", man)
    val cat = NcCatalog.catalog(spark, man).orderBy(col("dataset")).collect()
    assert(cat.map(_.getAs[String]("dataset")).toSeq == Seq("m1.nc", "m2.h5", "z1.zarr"))
    val z = cat(2)
    assert(z.getAs[scala.collection.Seq[String]]("variables").toSeq == Seq("tas"))
    assert(z.getAs[Double]("lat_min") == 0.0 && z.getAs[Double]("lat_max") == 10.0)
    assert(z.getAs[Long]("time_min_us") == 0L &&
      z.getAs[Long]("time_max_us") == 86400L * 1000000L)
    // one member whose size is the sum of the store's files
    val storeBytes = {
      import scala.jdk.CollectionConverters._
      val st = Files.walk(Paths.get(s"$tmp/z1.zarr"))
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
    assert(z.getAs[Long]("bytes") == storeBytes)
    // and the facet query reads the store through the scan
    assert(rows(NcCatalog.select(spark, man, datasetPattern = Some("^z1"))) ==
      rows(spark.read.format("netcdf").load(s"$tmp/z1.zarr")))
    assert(NcCatalog.select(spark, man, variable = Some("tas"),
      bounds = Some(NetcdfSource.GridBounds(latMin = 5.0)))
      .select("dataset").distinct().collect().map(_.getString(0)).sorted.toSeq ==
      Seq("m1.nc", "z1.zarr"))
  }

  test("envelope times decode as the reader's rows do: sub-µs products round, never truncate") {
    // 1.001 s × 1e6 is 1000999.9999999999 in doubles: a truncating
    // decode records 1 000 999 µs, the reader emits 1 001 000 µs, and a
    // 1.001 s time bound would prune a member holding a matching row
    val tmp = tmpDir("cftime")
    def member(times: Array[Double]) = (
      Seq(NcDim("time", times.length), NcDim("lat", 1), NcDim("lon", 2)),
      Seq(
        ("time", Seq(0), Seq(NcAttr("units", "seconds since 1970-01-01")), times),
        ("lat", Seq(1), Nil, Array(0.0)),
        ("lon", Seq(2), Nil, Array(100.0, 110.0)),
        ("tas", Seq(0, 1, 2), Nil, Array.tabulate(times.length * 2)(_.toDouble))))
    val (cd, cv) = member(Array(0.5, 1.001))
    Files.write(Paths.get(s"$tmp/c.nc"), NetcdfClassic.write(cd, cv))
    val (hd, hv) = member(Array(1.001, 1.003))
    Files.write(Paths.get(s"$tmp/h.h5"), Hdf5Classic.write(hd, hv))
    val man = tmpDir("cftime-man")
    NcCatalog.buildManifest(spark, s"$tmp/*", man)
    val full = spark.read.format("netcdf").load(s"$tmp/c.nc", s"$tmp/h.h5")
    val read = full.groupBy("dataset")
      .agg(min("time").as("tmin"), max("time").as("tmax")).collect()
      .map(r => r.getString(0) -> (
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(r.getTimestamp(1)),
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(r.getTimestamp(2))))
      .toMap
    assert(read == Map("c.nc" -> (500000L, 1001000L), "h.h5" -> (1001000L, 1003000L)))
    val cat = NcCatalog.catalog(spark, man).collect()
      .map(r => r.getAs[String]("dataset") ->
        (r.getAs[Long]("time_min_us"), r.getAs[Long]("time_max_us"))).toMap
    assert(cat == read)
    val b = NetcdfSource.GridBounds(timeMin = Some(new java.sql.Timestamp(1001L)))
    val got = NcCatalog.select(spark, man, bounds = Some(b))
    assert(rows(got) == rows(full.where(b.predicate)))
    assert(got.select("dataset").distinct().collect().map(_.getString(0)).sorted.toSeq ==
      Seq("c.nc", "h.h5"))
  }

  test("manifest part files are bounded by cores, not by members") {
    val tmp = tmpDir("parts")
    (1 to 6).foreach(i => writeClassic(s"$tmp/m$i.nc", nt = 1, bias = i * 10.0, day0 = i))
    val man = tmpDir("parts-man")
    NcCatalog.buildManifest(spark, s"$tmp/*", man)
    val parts = new java.io.File(man).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".json"))
    // the suite's session is Session.local(4)
    assert(parts.nonEmpty && parts.length <= 4, parts.toSeq)
    val cat = NcCatalog.catalog(spark, man).orderBy("dataset").collect()
    assert(cat.map(_.getAs[String]("dataset")).toSeq == (1 to 6).map(i => s"m$i.nc"))
    assert(cat.map(_.getAs[Long]("time_min_us")).toSeq ==
      (1 to 6).map(_ * 86400L * 1000000L))
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
