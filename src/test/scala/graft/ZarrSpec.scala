package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{NetcdfSource, ZarrStore}
import java.nio.file.{Files, Paths}

/** Laws for the Zarr v2 store (r17): write→read identity on sparse
  * grids, chunk pruning by name arithmetic, fill/missing-chunk
  * masking, the xarray interop conventions, every named rejection,
  * and the raw/zlib/gzip/endianness decode paths. */
class ZarrSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_zarr_$tag").toFile
    d.deleteOnExit(); d.getAbsolutePath
  }

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** One store per `dataset`, through the sink's zarr container. */
  private def writeZarr(df: DataFrame, dir: String, v: String): Unit =
    df.withColumn("variable", lit(v)).write.format("netcdf")
      .option("container", "zarr").mode("append").save(dir)

  /** A store read as one member of the `netcdf` scan. */
  private def readZarr(store: String, v: String) =
    spark.read.format("netcdf").option("vars", v).load(store)

  // sparse 3-D member: 3 times × 2 lats × 2 lons, 2 cells absent
  private def sparse3d = Seq(
    ("m0", ts("2024-01-01 00:00:00"), 10.0, 100.0, 1.0),
    ("m0", ts("2024-01-01 00:00:00"), 20.0, 110.0, 2.0),
    ("m0", ts("2024-01-02 00:00:00"), 10.0, 110.0, 3.5),
    ("m0", ts("2024-01-02 00:00:00"), 20.0, 100.0, 4.25),
    ("m0", ts("2024-01-03 00:00:00"), 10.0, 100.0, -5.0),
    ("m0", ts("2024-01-03 00:00:00"), 20.0, 110.0, 6.0))
    .toDF("dataset", "time", "lat", "lon", "value")

  test("write -> read is the identity on a sparse 3-D grid") {
    val dir = tmpDir("rt3d")
    writeZarr(sparse3d, dir, "tas")
    val back = readZarr(s"$dir/m0.zarr", "tas")
      .select("time", "lat", "lon", "value")
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3))).sortBy(r => (r._1.getTime, r._2, r._3))
    val want = sparse3d.select("time", "lat", "lon", "value")
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3))).sortBy(r => (r._1.getTime, r._2, r._3))
    assert(back.toSeq == want.toSeq)
  }

  test("write -> read is the identity on a 2-D static grid") {
    val dir = tmpDir("rt2d")
    val df = Seq(
      ("s0", null.asInstanceOf[java.sql.Timestamp], 10.0, 100.0, 7.0),
      ("s0", null.asInstanceOf[java.sql.Timestamp], 20.0, 110.0, 8.0))
      .toDF("dataset", "time", "lat", "lon", "value")
    writeZarr(df, dir, "orog")
    val back = readZarr(s"$dir/s0.zarr", "orog")
      .select("time", "lat", "lon", "value").collect()
      .map(r => (r.isNullAt(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).sortBy(_._2)
    assert(back.toSeq == Seq((true, 10.0, 100.0, 7.0), (true, 20.0, 110.0, 8.0)))
  }

  test("the store is xarray-shaped: _ARRAY_DIMENSIONS, CF time, zlib") {
    val dir = tmpDir("xr")
    writeZarr(sparse3d, dir, "tas")
    val root = s"$dir/m0.zarr"
    assert(new String(Files.readAllBytes(Paths.get(s"$root/.zgroup")))
      .contains("\"zarr_format\": 2"))
    val za = new String(Files.readAllBytes(Paths.get(s"$root/tas/.zarray")))
    assert(za.contains("\"id\": \"zlib\"") && za.contains("\"order\": \"C\"")
      && za.contains("\"fill_value\": \"NaN\""))
    val attrs = new String(Files.readAllBytes(Paths.get(s"$root/tas/.zattrs")))
    assert(attrs.contains("_ARRAY_DIMENSIONS") && attrs.contains("\"time\""))
    val tAttrs = new String(Files.readAllBytes(Paths.get(s"$root/time/.zattrs")))
    assert(tAttrs.contains("microseconds since 1970-01-01"))
    // one-chunk-per-time-step layout: 3 chunk files 0.0.0 / 1.0.0 / 2.0.0
    assert((0 to 2).forall(t => Files.exists(Paths.get(s"$root/tas/$t.0.0"))))
  }

  test("bounds prune whole chunk files by name arithmetic") {
    val dir = tmpDir("prune")
    writeZarr(sparse3d, dir, "tas")
    val store = s"$dir/m0.zarr"
    val meta = ZarrStore.parseArrayMeta(
      new String(Files.readAllBytes(Paths.get(s"$store/tas/.zarray"))))
    // keep only the middle time step
    val keep = Seq(Array(false, true, false),
      Array(true, true), Array(true, true))
    val planned = ZarrStore.planChunks(store, "tas", meta, keep)
    assert(planned.map(_.split('/').last).toSet == Set("1.0.0"))
    // and the bounded read equals read-then-filter
    val b = NetcdfSource.GridBounds(
      timeMin = Some(ts("2024-01-02 00:00:00")),
      timeMax = Some(ts("2024-01-02 23:59:59")))
    val bounded = readZarr(store, "tas").where(b.predicate)
      .select("lat", "lon", "value").collect().map(r =>
        (r.getDouble(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(bounded.toSeq == Seq((10.0, 110.0, 3.5), (20.0, 100.0, 4.25)))
  }

  test("a deleted chunk masks to fill (and null fill rejects by name)") {
    val dir = tmpDir("miss")
    writeZarr(sparse3d, dir, "tas")
    val store = s"$dir/m0.zarr"
    Files.delete(Paths.get(s"$store/tas/1.0.0"))
    val back = readZarr(store, "tas")
      .select("value").collect().map(_.getDouble(0)).sorted
    assert(back.toSeq == Seq(-5.0, 1.0, 2.0, 6.0)) // day-2 cells gone
    // coordinate arrays declare no fill: a missing coord chunk rejects
    Files.delete(Paths.get(s"$store/lat/0"))
    // the scan reads the axes in its task, so the reader's named error
    // arrives wrapped in the job failure
    val e = intercept[org.apache.spark.SparkException] {
      readZarr(store, "tas").collect()
    }
    assert(e.getMessage.contains("fill_value is null"))
  }

  test("raw and gzip compressors and big-endian dtypes decode") {
    val dir = tmpDir("codec")
    val store = s"$dir/h.zarr"
    // hand-written store: 1-D lat/lon deliberately RAW + big-endian,
    // 2-D data gzip'd little-endian f4 — a store we did NOT write
    def put(p: String, b: Array[Byte]): Unit = {
      Files.createDirectories(Paths.get(s"$store/$p").getParent)
      Files.write(Paths.get(s"$store/$p"), b)
    }
    def beDoubles(v: Array[Double]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(v.length * 8)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      v.foreach(bb.putDouble); bb.array()
    }
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    def leFloats(v: Array[Float]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(v.length * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      v.foreach(bb.putFloat); bb.array()
    }
    put(".zgroup", """{"zarr_format": 2}""".getBytes)
    put("lat/.zarray",
      """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": ">f8",
        | "compressor": null, "fill_value": null, "order": "C",
        | "filters": null}""".stripMargin.getBytes)
    put("lat/0", beDoubles(Array(10.0, 20.0)))
    put("lon/.zarray",
      """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": ">f8",
        | "compressor": null, "fill_value": null, "order": "C",
        | "filters": null}""".stripMargin.getBytes)
    put("lon/0", beDoubles(Array(100.0, 110.0)))
    put("v/.zarray",
      """{"zarr_format": 2, "shape": [2, 2], "chunks": [2, 2],
        | "dtype": "<f4", "compressor": {"id": "gzip", "level": 5},
        | "fill_value": "NaN", "order": "C", "filters": null}"""
        .stripMargin.getBytes)
    put("v/.zattrs", """{"_ARRAY_DIMENSIONS": ["lat", "lon"]}""".getBytes)
    put("v/0.0", gz(leFloats(Array(1.5f, Float.NaN, 2.5f, 3.5f))))
    val got = readZarr(store, "v")
      .select("lat", "lon", "value").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq((10.0, 100.0, 1.5), (20.0, 100.0, 2.5),
      (20.0, 110.0, 3.5)))
  }

  test("named rejections: blosc, F order, separators, filters, dtypes") {
    def meta(s: String) = intercept[IllegalArgumentException] {
      ZarrStore.parseArrayMeta(s)
    }.getMessage
    val base = """"shape": [2], "chunks": [2], "fill_value": null,
      | "filters": null""".stripMargin
    assert(meta(s"""{"zarr_format": 2, $base, "dtype": "<f8", "order": "C",
      | "compressor": {"id": "blosc", "cname": "lz4"}}""".stripMargin)
      .contains("blosc"))
    assert(meta(s"""{"zarr_format": 2, $base, "dtype": "<f8", "order": "F",
      | "compressor": null}""".stripMargin).contains("order 'F'"))
    assert(meta(s"""{"zarr_format": 2, $base, "dtype": "<f8", "order": "C",
      | "compressor": null, "dimension_separator": "/"}""".stripMargin)
      .contains("dimension_separator"))
    assert(meta(s"""{"zarr_format": 2, $base, "dtype": "<U5", "order": "C",
      | "compressor": null}""".stripMargin).contains("dtype"))
    assert(meta(s"""{"zarr_format": 2, "shape": [2], "chunks": [2],
      | "fill_value": null, "dtype": "<f8", "order": "C",
      | "compressor": null,
      | "filters": [{"id": "delta"}]}""".stripMargin).contains("filter"))
  }

  test("JSON parser handles escapes, nesting, numbers") {
    val v = ZarrStore.ZJson.parse(
      """{"a": [1, -2.5, 1e3], "b": {"c": "x\n\"yA"}, "d": null,
        | "e": true}""".stripMargin).asInstanceOf[Map[String, Any]]
    assert(v("a") == Vector(1.0, -2.5, 1000.0))
    assert(v("b").asInstanceOf[Map[String, Any]]("c") == "x\n\"yA")
    assert(v("d") == null && v("e") == true)
  }

  test("duplicate cells and mixed-null times reject by name") {
    val dir = tmpDir("rej")
    val dup = Seq(
      ("m0", ts("2024-01-01 00:00:00"), 10.0, 100.0, 1.0),
      ("m0", ts("2024-01-01 00:00:00"), 10.0, 100.0, 2.0))
      .toDF("dataset", "time", "lat", "lon", "value")
    val e1 = intercept[org.apache.spark.SparkException] {
      writeZarr(dup, dir, "x")
    }
    assert(e1.getMessage.contains("duplicate") ||
      e1.getCause.getMessage.contains("duplicate"))
  }

  test("a NaN cell in an array whose fill_value is null reads as a NaN row") {
    // the NetCDF rule: with no declared fill every cell is present, NaN
    // included (the old Zarr reader dropped every NaN)
    val store = s"${tmpDir("nullfill")}/n.zarr"
    def put(p: String, b: Array[Byte]): Unit = {
      Files.createDirectories(Paths.get(s"$store/$p").getParent)
      Files.write(Paths.get(s"$store/$p"), b)
    }
    def leDoubles(v: Double*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(v.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      v.foreach(bb.putDouble); bb.array()
    }
    def zarray(shape: String) =
      s"""{"zarr_format": 2, "shape": $shape, "chunks": $shape,
         | "dtype": "<f8", "compressor": null, "fill_value": null,
         | "order": "C", "filters": null}""".stripMargin.getBytes
    put(".zgroup", """{"zarr_format": 2}""".getBytes)
    put("lat/.zarray", zarray("[2]")); put("lat/0", leDoubles(10.0, 20.0))
    put("lon/.zarray", zarray("[1]")); put("lon/0", leDoubles(100.0))
    put("v/.zarray", zarray("[2, 1]"))
    put("v/.zattrs", """{"_ARRAY_DIMENSIONS": ["lat", "lon"]}""".getBytes)
    put("v/0.0", leDoubles(1.0, Double.NaN))
    val got = readZarr(store, "v").select("lat", "value").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)
    assert(got.length == 2 && got(0) == ((10.0, 1.0)) &&
      got(1)._1 == 20.0 && got(1)._2.isNaN, got.toSeq)
  }

  test("a time-bounded read of a static (lat, lon) array returns no rows") {
    // a static grid's time is NULL, and NULL fails every time
    // comparison (the old Zarr reader ignored time bounds on 2-D arrays)
    val dir = tmpDir("static_t")
    val df = Seq(
      ("s0", null.asInstanceOf[java.sql.Timestamp], 10.0, 100.0, 7.0),
      ("s0", null.asInstanceOf[java.sql.Timestamp], 20.0, 110.0, 8.0))
      .toDF("dataset", "time", "lat", "lon", "value")
    writeZarr(df, dir, "orog")
    val read = readZarr(s"$dir/s0.zarr", "orog")
    assert(read.count() == 2)
    val b = NetcdfSource.GridBounds(timeMin = Some(ts("2024-01-01 00:00:00")))
    assert(read.where(b.predicate).count() == 0)
  }

  test("a bounded scan never opens chunk files outside the bounds") {
    val dir = tmpDir("unopened")
    writeZarr(sparse3d, dir, "tas")
    val store = s"$dir/m0.zarr"
    // corrupt the first and last time step's chunks: only a read that
    // prunes them by name can succeed
    for (t <- Seq(0, 2))
      Files.write(Paths.get(s"$store/tas/$t.0.0"), Array[Byte](1, 2, 3))
    val b = NetcdfSource.GridBounds(
      timeMin = Some(ts("2024-01-02 00:00:00")),
      timeMax = Some(ts("2024-01-02 23:59:59")))
    val bounded = readZarr(store, "tas").where(b.predicate)
      .select("value").collect().map(_.getDouble(0)).sorted
    assert(bounded.toSeq == Seq(3.5, 4.25))
    intercept[org.apache.spark.SparkException] {
      readZarr(store, "tas").collect()
    }
  }
}
