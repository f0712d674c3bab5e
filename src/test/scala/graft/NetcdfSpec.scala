package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{NetcdfClassic, NetcdfSource}
import graft.sources.NetcdfClassic.{NcAttr, NcDim}

/** The dependency-free NetCDF-3 classic path: byte-level golden fixture
  * (assembled by hand, independent of the writer, straight from the
  * Unidata spec), writer↔parser round-trip, and the distributed
  * long-form loader end-to-end into the climate ops. */
class NetcdfSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("parser reads a hand-assembled spec-literal file") {
    // CDF-1: one dim "x"(3), no gattrs, one double var "v"(x) with one
    // char attr units="m" — every byte placed per the classic spec
    val bos = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bos)
    o.writeBytes("CDF"); o.writeByte(1)       // magic + version
    o.writeInt(0)                              // numrecs
    o.writeInt(0x0A); o.writeInt(1)            // NC_DIMENSION, 1 dim
    o.writeInt(1); o.writeBytes("x"); o.write(Array[Byte](0, 0, 0)) // name "x" padded
    o.writeInt(3)                              // dim length
    o.writeInt(0); o.writeInt(0)               // gatt_list ABSENT
    o.writeInt(0x0B); o.writeInt(1)            // NC_VARIABLE, 1 var
    o.writeInt(1); o.writeBytes("v"); o.write(Array[Byte](0, 0, 0)) // name "v"
    o.writeInt(1); o.writeInt(0)               // 1 dim, dimid 0
    o.writeInt(0x0C); o.writeInt(1)            // vatt_list: 1 attr
    o.writeInt(5); o.writeBytes("units"); o.write(Array[Byte](0, 0, 0)) // "units" padded
    o.writeInt(2); o.writeInt(1)               // NC_CHAR, 1 char
    o.writeBytes("m"); o.write(Array[Byte](0, 0, 0)) // value padded
    o.writeInt(6)                              // NC_DOUBLE
    o.writeInt(24)                             // vsize = 3*8
    val begin = bos.size() + 4                 // begin comes right after itself
    o.writeInt(begin)
    o.writeDouble(1.5); o.writeDouble(2.5); o.writeDouble(-3.0)
    val nc = NetcdfClassic.parse(bos.toByteArray)
    assert(nc.dims == Seq(NcDim("x", 3)))
    assert(nc.vars.head.name == "v")
    assert(nc.vars.head.attrs == Seq(NcAttr("units", "m")))
    assert(nc.read("v").toSeq == Seq(1.5, 2.5, -3.0))
  }

  /** The unfiltered long-form read with no pushdown left to apply: the
    * independent reference a bounded read is compared against after
    * Spark itself filters it. Projected like `Ensemble.loadGrid`. */
  private def unfiltered(glob: String, v: String) =
    spark.read.format("netcdf").option("vars", v).load(glob)
      .select(col("dataset"), col("time"), col("lat"), col("lon"), col("value"))
      .localCheckpoint()

  private def writeGridFile(path: String, name: String, nt: Int,
                            bias: Double): Unit = {
    val lats = Array(0.0, 10.0)
    val lons = Array(100.0, 110.0, 120.0)
    val times = Array.tabulate(nt)(_.toDouble) // days since base
    val data = Array.tabulate(nt * 2 * 3) { i => bias + i.toDouble }
    val bytes = NetcdfClassic.write(
      dims = Seq(NcDim("time", nt), NcDim("lat", 2), NcDim("lon", 3)),
      vars = Seq(
        ("time", Seq(0), Seq(NcAttr("units", "days since 2000-01-01")), times),
        ("lat", Seq(1), Seq(NcAttr("units", "degrees_north")), lats),
        ("lon", Seq(2), Seq(NcAttr("units", "degrees_east")), lons),
        ("tas", Seq(0, 1, 2), Seq(NcAttr("units", "K")), data)))
    Files.write(Paths.get(path), bytes)
  }

  test("writer ↔ parser round-trip preserves dims, attrs, values") {
    val tmp = Files.createTempDirectory("nc").toString
    writeGridFile(s"$tmp/m1.nc", "m1", nt = 2, bias = 100.0)
    val nc = NetcdfClassic.parse(Files.readAllBytes(Paths.get(s"$tmp/m1.nc")))
    assert(nc.dims.map(_.name) == Seq("time", "lat", "lon"))
    assert(nc.variable("tas").attrs == Seq(NcAttr("units", "K")))
    assert(nc.read("lat").toSeq == Seq(0.0, 10.0))
    assert(nc.read("tas").length == 12)
    assert(nc.read("tas")(0) == 100.0 && nc.read("tas")(11) == 111.0)
  }

  test("readClassic loads a 2-file ensemble into the long form, CF times decoded") {
    val tmp = Files.createTempDirectory("ncens").toString
    writeGridFile(s"$tmp/modelA.nc", "modelA", nt = 2, bias = 0.0)
    writeGridFile(s"$tmp/modelB.nc", "modelB", nt = 2, bias = 1000.0)
    val df = spark.read.format("netcdf").option("vars", "tas").load(s"$tmp/*.nc")
    assert(df.count() == 2 * 2 * 2 * 3) // files × times × lats × lons
    assert(df.select("dataset").distinct().count() == 2)
    // CF "days since 2000-01-01": second timestep = 2000-01-02
    val t1 = df.filter(col("dataset") === "modelA.nc"
        && col("lat") === 0.0 && col("lon") === 100.0)
      .orderBy(col("time")).select(date_format(col("time"), "yyyy-MM-dd"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(t1 == Seq(("2000-01-01", 0.0), ("2000-01-02", 6.0)))
    // and the frame feeds the climate ops directly (rename value→tas form)
    val binned = ops.ClimateOps.regridBin(
      df.select(col("dataset"), col("time"), col("lat"), col("lon"), col("value")),
      latRes = 20.0, lonRes = 30.0)
    assert(binned.count() > 0)
  }

  test("bounded readGrid == read-then-filter, both formats (r13 hyperslab pushdown)") {
    import graft.sources.NetcdfSource.GridBounds
    val tmp = Files.createTempDirectory("ncbounds").toString
    val dims = Seq(NcDim("time", 4), NcDim("lat", 2), NcDim("lon", 3))
    val vars = Seq(
      ("time", Seq(0), Seq(NcAttr("units", "days since 2000-01-01")),
        Array.tabulate(4)(_.toDouble)),
      ("lat", Seq(1), Seq(NcAttr("units", "degrees_north")), Array(0.0, 10.0)),
      ("lon", Seq(2), Seq(NcAttr("units", "degrees_east")),
        Array(100.0, 110.0, 120.0)),
      ("tas", Seq(0, 1, 2), Seq(NcAttr("units", "K")),
        Array.tabulate(24)(i => 7.0 + i)))
    Files.write(Paths.get(s"$tmp/c.nc"), NetcdfClassic.write(dims, vars))
    Files.write(Paths.get(s"$tmp/h.h5"), graft.sources.Hdf5Classic.write(dims, vars))
    val b = GridBounds(latMin = 5.0, lonMax = 115.0,
      timeMin = Some(java.sql.Timestamp.valueOf("2000-01-02 00:00:00")))
    for (glob <- Seq(s"$tmp/c.nc", s"$tmp/h.h5", s"$tmp/*")) {
      val full = unfiltered(glob, "tas")
      val filtered = full.filter(col("lat") >= 5.0 && col("lon") <= 115.0 &&
          col("time") >= lit("2000-01-02 00:00:00").cast("timestamp"))
        .collect().map(_.toSeq).toSet
      val bounded = Ensemble.loadGrid(spark, glob, "tas", bounds = Some(b)).df
        .collect().map(_.toSeq).toSet
      assert(bounded == filtered, s"bounded read diverged for $glob")
      assert(bounded.nonEmpty && bounded.size < full.count(),
        "bounds must keep a proper non-empty subset for this fixture")
    }
    // degenerate bounds: empty coordinate intersection → zero rows
    assert(Ensemble.loadGrid(spark, s"$tmp/c.nc", "tas",
      bounds = Some(GridBounds(latMin = 99.0))).df.count() == 0)
  }

  test("NaN coordinate: default read emits it, bounded read matches filter (r13 review pin)") {
    // bounds=None applies no predicate: a NaN lat row still emits. With
    // bounds set (even fully infinite), GridBounds.predicate carries all
    // four lat/lon comparisons and Spark's NaN-greatest order fails
    // NaN <= +Infinity, so the row drops.
    val tmp = Files.createTempDirectory("ncnan").toString
    Files.write(Paths.get(s"$tmp/n.nc"), NetcdfClassic.write(
      dims = Seq(NcDim("lat", 2), NcDim("lon", 2)),
      vars = Seq(
        ("lat", Seq(0), Nil, Array(0.0, Double.NaN)),
        ("lon", Seq(1), Nil, Array(1.0, 2.0)),
        ("v", Seq(0, 1), Nil, Array(1.0, 2, 3, 4)))))
    val full = unfiltered(s"$tmp/n.nc", "v")
    assert(Ensemble.loadGrid(spark, s"$tmp/n.nc", "v").df.count() == 4,
      "default read must emit NaN-coordinate rows")
    val inf = graft.sources.NetcdfSource.GridBounds()
    val bounded = Ensemble.loadGrid(spark, s"$tmp/n.nc", "v",
      bounds = Some(inf)).df
    val filtered = full.filter(
      col("lat") >= inf.latMin && col("lat") <= inf.latMax &&
        col("lon") >= inf.lonMin && col("lon") <= inf.lonMax)
    assert(bounded.collect().map(_.toSeq).toSet ==
      filtered.collect().map(_.toSeq).toSet)
    assert(bounded.count() == 2)
  }

  test("multi-valued string attribute rejects by NAME in both writers (r13 review pin)") {
    val attr = NcAttr("flag_meanings", Array("a", "b"))
    val dims = Seq(NcDim("x", 1))
    val vars = Seq(("x", Seq(0), Seq(attr), Array(1.0)))
    val e1 = intercept[IllegalArgumentException](NetcdfClassic.write(dims, vars))
    assert(e1.getMessage.contains("flag_meanings"))
    val e2 = intercept[IllegalArgumentException](
      graft.sources.Hdf5Classic.write(dims, vars))
    assert(e2.getMessage.contains("flag_meanings"))
  }

  test("record variables read across records (hand-assembled, unlimited dim)") {
    // dims: time(UNLIMITED), x(2); one record var v(time, x) — the
    // single-record-variable no-padding case; numrecs = 2
    val bos = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bos)
    o.writeBytes("CDF"); o.writeByte(1)
    o.writeInt(2)                               // numrecs = 2
    o.writeInt(0x0A); o.writeInt(2)             // 2 dims
    o.writeInt(4); o.writeBytes("time"); o.writeInt(0)   // record dim
    o.writeInt(1); o.writeBytes("x"); o.write(Array[Byte](0, 0, 0)); o.writeInt(2)
    o.writeInt(0); o.writeInt(0)                // no gattrs
    o.writeInt(0x0B); o.writeInt(1)             // 1 var
    o.writeInt(1); o.writeBytes("v"); o.write(Array[Byte](0, 0, 0))
    o.writeInt(2); o.writeInt(0); o.writeInt(1) // dims (time, x)
    o.writeInt(0); o.writeInt(0)                // no vattrs
    o.writeInt(6)                               // double
    o.writeInt(16)                              // vsize: 2 doubles per record
    val begin = bos.size() + 4
    o.writeInt(begin)
    Seq(1.0, 2.0, 3.0, 4.0).foreach(o.writeDouble) // rec0: 1,2; rec1: 3,4
    val nc = NetcdfClassic.parse(bos.toByteArray)
    assert(nc.numRecs == 2 && nc.dims.head == NcDim("time", 0))
    assert(nc.read("v").toSeq == Seq(1.0, 2.0, 3.0, 4.0))
    // r13 hyperslab on the RECORD layout: every rectangle == slice
    for (t0 <- 0 to 1; ct <- 0 to (2 - t0); x0 <- 0 to 1; cx <- 0 to (2 - x0)) {
      val slab = nc.readHyperslab("v",
        Seq(t0.toLong, x0.toLong), Seq(ct.toLong, cx.toLong))
      val expect = for (t <- t0 until t0 + ct; x <- x0 until x0 + cx)
        yield nc.read("v")(t * 2 + x)
      assert(slab.toSeq == expect, s"record slab ($t0,$x0)+($ct,$cx)")
    }
  }

  test("classic readHyperslab decodes only the slab: every rectangle == slice (r13)") {
    val tmp = Files.createTempDirectory("ncslab").toString
    writeGridFile(s"$tmp/m1.nc", "m1", nt = 2, bias = 5.0)
    val nc = NetcdfClassic.parse(Files.readAllBytes(Paths.get(s"$tmp/m1.nc")))
    val full = nc.read("tas") // shape (2, 2, 3)
    for {
      t0 <- 0 to 1; ct <- 0 to (2 - t0)
      a0 <- 0 to 1; ca <- 0 to (2 - a0)
      o0 <- 0 to 2; co <- 0 to (3 - o0)
    } {
      val slab = nc.readHyperslab("tas",
        Seq(t0.toLong, a0.toLong, o0.toLong),
        Seq(ct.toLong, ca.toLong, co.toLong))
      val expect = for {
        t <- t0 until t0 + ct; a <- a0 until a0 + ca; o <- o0 until o0 + co
      } yield full((t * 2 + a) * 3 + o)
      assert(slab.toSeq == expect, s"slab ($t0,$a0,$o0)+($ct,$ca,$co)")
    }
    // out-of-bounds rejects by name
    val e = intercept[IllegalArgumentException](
      nc.readHyperslab("tas", Seq(1L, 0L, 0L), Seq(2L, 1L, 1L)))
    assert(e.getMessage.contains("out of bounds"))
    // 1-D coordinate variable slab
    assert(nc.readHyperslab("lon", Seq(1L), Seq(2L)).toSeq ==
      nc.read("lon").toSeq.slice(1, 3))
  }

  test("Ensemble.loadNetcdf: the bcdp load_local entry point end-to-end") {
    val tmp = Files.createTempDirectory("ncload").toString
    writeGridFile(s"$tmp/m1.nc", "m1", nt = 1, bias = 0.0)
    writeGridFile(s"$tmp/m2.nc", "m2", nt = 1, bias = 50.0)
    val ens = Ensemble.loadGrid(spark, s"$tmp/*.nc", "tas")
    assert(ens.members == Seq("m1.nc", "m2.nc"))
    // the fluent pipeline runs directly on the loaded ensemble
    val clim = ens.homogenize().climatology()
    assert(clim.count() == 2 * 6) // members × (2 lats × 3 lons), 1 month
  }

  test("pre-1582 CF time: format(\"netcdf\") and loadGrid emit the cfTimeBase instant; toNetcdf → loadGrid is the identity") {
    // no Julian→Gregorian rebase anywhere on the path: the emitted
    // timestamp's epoch µs is exactly the CF arithmetic, in both
    // containers (a java.sql.Timestamp round-trip would shift year 1000
    // by 5 days: -30610656000000000)
    val tmp = Files.createTempDirectory("ncjulian").toString
    val dims = Seq(NcDim("time", 2), NcDim("lat", 1), NcDim("lon", 2))
    val vars = Seq(
      ("time", Seq(0), Seq(NcAttr("units", "days since 1000-01-01")),
        Array(0.0, 1.0)),
      ("lat", Seq(1), Nil, Array(0.0)),
      ("lon", Seq(2), Nil, Array(100.0, 110.0)),
      ("tas", Seq(0, 1, 2), Nil, Array(1.0, 2.0, 3.0, 4.0)))
    Files.write(Paths.get(s"$tmp/c.nc"), NetcdfClassic.write(dims, vars))
    Files.write(Paths.get(s"$tmp/h.h5"), graft.sources.Hdf5Classic.write(dims, vars))
    val (base, step) = NetcdfSource.cfTimeBase("days since 1000-01-01")
    assert(base == -30610224000000000L)
    def micros(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select(unix_micros(col("time"))).collect().map(_.getLong(0)).toSeq.sorted
    val expect = Seq(base, base, base + step, base + step)
    for (f <- Seq("c.nc", "h.h5")) {
      assert(micros(spark.read.format("netcdf").option("vars", "tas")
        .load(s"$tmp/$f")) == expect, f)
      assert(micros(Ensemble.loadGrid(spark, s"$tmp/$f", "tas").df) == expect, f)
    }
    val ens = Ensemble.loadGrid(spark, s"$tmp/c.nc", "tas")
    def cells(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.select(unix_micros(col("time")), col("lat"), col("lon"), col("value"))
        .collect().map(_.toSeq).toSet
    for (h5 <- Seq(false, true)) {
      val out = s"$tmp/out_${if (h5) "h5" else "nc"}"
      ens.toNetcdf(out, "tas", hdf5 = h5)
      val back = Ensemble.loadGrid(spark, s"$out/*", "tas").df
      assert(back.count() == 4 && cells(back) == cells(ens.df), s"hdf5=$h5")
    }
  }

  test("CF time units: non-padded dates, fractional seconds, UTC offsets") {
    // plain padded form
    assert(NetcdfSource.cfTimeBase("days since 2000-01-01") ==
      (946684800000000L, 86400000000L))
    // CMIP-style non-zero-padded date
    val (b1850, _) = NetcdfSource.cfTimeBase("days since 1850-1-1")
    assert(b1850 == java.time.LocalDateTime.of(1850, 1, 1, 0, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L)
    // the CF conventions' canonical example: fractional secs + offset
    val (bCf, step) = NetcdfSource.cfTimeBase("seconds since 1992-10-8 15:15:42.5 -6:00")
    val localUs = java.time.LocalDateTime.of(1992, 10, 8, 15, 15, 42)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + 500000L
    assert(bCf == localUs + 6L * 3600 * 1000000) // −6:00 clock → UTC is later
    assert(step == 1000000L)
  }

  test("NetCDF-4/HDF5 magic is rejected with a clear error") {
    val hdf5 = Array[Byte](0x89.toByte, 'H', 'D', 'F') ++ new Array[Byte](16)
    val e = intercept[IllegalArgumentException] {
      NetcdfClassic.parse(hdf5)
    }
    assert(e.getMessage.contains("bad magic"))
  }
}
