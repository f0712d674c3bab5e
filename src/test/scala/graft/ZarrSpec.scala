package graft

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
    ZarrStore.writeGrid(sparse3d, dir, varName = "tas")
    val back = ZarrStore.readGrid(spark, s"$dir/m0.zarr", "tas")
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
    ZarrStore.writeGrid(df, dir, varName = "orog")
    val back = ZarrStore.readGrid(spark, s"$dir/s0.zarr", "orog")
      .select("time", "lat", "lon", "value").collect()
      .map(r => (r.isNullAt(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).sortBy(_._2)
    assert(back.toSeq == Seq((true, 10.0, 100.0, 7.0), (true, 20.0, 110.0, 8.0)))
  }

  test("the store is xarray-shaped: _ARRAY_DIMENSIONS, CF time, zlib") {
    val dir = tmpDir("xr")
    ZarrStore.writeGrid(sparse3d, dir, varName = "tas")
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
    ZarrStore.writeGrid(sparse3d, dir, varName = "tas")
    val store = s"$dir/m0.zarr"
    val meta = ZarrStore.arrayMeta(store, "tas")
    // keep only the middle time step
    val keep = Seq(Array(false, true, false),
      Array(true, true), Array(true, true))
    val planned = ZarrStore.planChunks(store, "tas", meta, keep)
    assert(planned.map(_.split('/').last).toSet == Set("1.0.0"))
    // and the bounded read equals read-then-filter
    val b = NetcdfSource.GridBounds(
      timeMin = Some(ts("2024-01-02 00:00:00")),
      timeMax = Some(ts("2024-01-02 23:59:59")))
    val bounded = ZarrStore.readGrid(spark, store, "tas", Some(b))
      .select("lat", "lon", "value").collect().map(r =>
        (r.getDouble(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(bounded.toSeq == Seq((10.0, 110.0, 3.5), (20.0, 100.0, 4.25)))
  }

  test("a deleted chunk masks to fill (and null fill rejects by name)") {
    val dir = tmpDir("miss")
    ZarrStore.writeGrid(sparse3d, dir, varName = "tas")
    val store = s"$dir/m0.zarr"
    Files.delete(Paths.get(s"$store/tas/1.0.0"))
    val back = ZarrStore.readGrid(spark, store, "tas")
      .select("value").collect().map(_.getDouble(0)).sorted
    assert(back.toSeq == Seq(-5.0, 1.0, 2.0, 6.0)) // day-2 cells gone
    // coordinate arrays declare no fill: a missing coord chunk rejects
    Files.delete(Paths.get(s"$store/lat/0"))
    val e = intercept[IllegalArgumentException] {
      ZarrStore.readGrid(spark, store, "tas")
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
    val got = ZarrStore.readGrid(spark, store, "v")
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
      ZarrStore.writeGrid(dup, dir, varName = "x")
    }
    assert(e1.getMessage.contains("duplicate") ||
      e1.getCause.getMessage.contains("duplicate"))
  }
}
