package graft.sources

import java.nio.charset.StandardCharsets
import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** NetCDF/HDF5 grid-format helpers (bcdp R1 analog).
  *
  * The reference loads ensembles of gridded NetCDF files
  * (`open_mfdataset` + filename-template metadata extraction). The
  * formats are parsed without a NetCDF library dependency: NetCDF-3
  * classic by [[NetcdfClassic]] and NetCDF-4/HDF5 (magic `\x89HDF`) by
  * [[Hdf5Classic]] — superblocks v0–v3, v1 and v2/OHDR object headers,
  * symbol-table and compact-link groups, contiguous/compact/chunked
  * layouts, and the standard filter pipeline (deflate via the JDK's
  * `java.util.zip.Inflater`, shuffle, fletcher32, NBIT, SCALEOFFSET).
  * Only szip (a genuinely native codec) rejects with a NAMED error.
  * Zarr v2 stores are parsed by [[ZarrStore]].
  *
  * Every grid read goes through the DataSourceV2 `netcdf` format
  * ([[NetcdfV2]]): `spark.read.format("netcdf")` emits the long form of
  * classic and HDF5 files and Zarr stores alike, with Catalyst-pushed
  * hyperslab pruning; `df.write.format("netcdf")` is the staged,
  * driver-committed sink for all three containers. This object holds
  * what that source shares with the catalog and the Zarr store: CF
  * time decoding, [[GridBounds]], the format-agnostic [[GridView]]
  * over one member and its opener [[openGrid]], the fill mask, the
  * union-axes rule [[memberGrid]] and the file encoder
  * [[buildMemberBytesMulti]]. A member is walked in one place: the
  * view's variable discovery (`dataVars`) and time decode (`timesUs`)
  * serve the catalog and the source's `NcSelection`, the one pruned
  * cell loop behind both the row reader and the aggregate reader.
  */
object NetcdfSource {

  final case class GridRow(dataset: String, variable: String,
                           time: java.sql.Timestamp,
                           lat: Double, lon: Double, value: Double)

  /** CF time decoding: "<unit> since <date>[ <time>][ <tz>]" →
    * (epoch-µs base, µs per step). Handles the CF spec's full shape —
    * non-zero-padded dates ("days since 1850-1-1", common in CMIP),
    * fractional seconds, and UTC offsets ("... 15:15:42.5 -6:00", the
    * conventions' own canonical example). */
  private[graft] def cfTimeBase(units: String): (Long, Long) = {
    val re = ("(microseconds|milliseconds|seconds|minutes|hours|days) since " +
      "(\\d{1,4})-(\\d{1,2})-(\\d{1,2})" +
      "(?:[ T](\\d{1,2}):(\\d{2}):(\\d{2})(\\.\\d+)?)?" +
      "(?: ?(Z|UTC|[+-]\\d{1,2}(?::?\\d{2})?))?\\s*").r
    units match {
      case re(u, y, mo, d, h, mi, se, frac, tz) =>
        val ldt = java.time.LocalDateTime.of(y.toInt, mo.toInt, d.toInt,
          if (h == null) 0 else h.toInt,
          if (mi == null) 0 else mi.toInt,
          if (se == null) 0 else se.toInt)
        val fracUs = if (frac == null) 0L
          else math.round(frac.toDouble * 1000000L)
        // the stated clock is in the given offset; UTC instant = local − offset
        val offsetUs: Long = tz match {
          case null | "Z" | "UTC" => 0L
          case o =>
            val sign = if (o.startsWith("-")) -1L else 1L
            val parts = o.drop(1).split(":")
            val (hh, mm) =
              if (parts.length == 2) (parts(0).toInt, parts(1).toInt)
              else if (parts(0).length > 2)
                (parts(0).dropRight(2).toInt, parts(0).takeRight(2).toInt)
              else (parts(0).toInt, 0)
            sign * (hh * 3600L + mm * 60L) * 1000000L
        }
        val base = ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          fracUs - offsetUs
        val step = u match {
          case "microseconds" => 1L
          case "milliseconds" => 1000L
          case "seconds" => 1000000L
          case "minutes" => 60L * 1000000
          case "hours" => 3600L * 1000000
          case "days" => 86400L * 1000000
        }
        (base, step)
      case _ => throw new IllegalArgumentException(
        s"unsupported CF time units '$units'")
    }
  }

  /** Coordinate-space hyperslab bounds: closed intervals on lat/lon
    * and optional closed time endpoints. [[predicate]] is their ONE
    * translation into a row filter; over `format("netcdf")` every atom
    * is pushed into the scan, so on chunked/compressed HDF5 the
    * non-intersecting chunks are pruned BEFORE decompression
    * ([[Hdf5Classic.H5File.readSlab]]) — the scan-level pushdown a
    * 100-TB `subset(bounds)` needs. */
  final case class GridBounds(
      latMin: Double = Double.NegativeInfinity,
      latMax: Double = Double.PositiveInfinity,
      lonMin: Double = Double.NegativeInfinity,
      lonMax: Double = Double.PositiveInfinity,
      timeMin: Option[java.sql.Timestamp] = None,
      timeMax: Option[java.sql.Timestamp] = None) {
    /** All four lat/lon comparisons, infinite bounds included — a NaN
      * coordinate fails `<= +Infinity` in Spark's NaN-greatest order, so
      * ANY bounded read drops it — plus a comparison per SET time bound
      * (which drops null-time static-grid rows, SQL comparison-with-NULL
      * semantics). */
    def predicate: Column = {
      val latLon = col("lat") >= latMin && col("lat") <= latMax &&
        col("lon") >= lonMin && col("lon") <= lonMax
      (timeMin.map(col("time") >= lit(_)) ++ timeMax.map(col("time") <= lit(_)))
        .foldLeft(latLon)(_ && _)
    }
  }

  /** The three self-describing grid container formats behind ONE view:
    * axis names of a variable, raw values, and an attribute lookup.
    * NetCDF-3 names axes via dim ids, NetCDF-4/HDF5 via DIMENSION_LIST
    * dimension scales (see [[Hdf5Classic]]), Zarr via the xarray
    * `_ARRAY_DIMENSIONS` attribute. */
  private[sources] trait GridView {
    /** Every dataset/variable name in the file (coordinates included) —
      * the DSv2 source's variable discovery walks this. */
    def varNames: Seq[String]
    def dimsOf(v: String): Seq[String]
    def read(v: String): Array[Double]
    /** Dense row-major hyperslab; `shape` is the variable's full shape
      * (axis lengths the caller already holds). Chunk-pruned for HDF5;
      * decode-then-gather for classic (NetCDF-3 stores uncompressed, so
      * there is no filter work to skip). */
    def readSlab(v: String, starts: Seq[Long], counts: Seq[Long],
                 shape: Seq[Long]): Array[Double]
    def attrs(v: String): Seq[NetcdfClassic.NcAttr]
    final def unitsOf(v: String): Option[String] =
      attrs(v).collectFirst {
        case NetcdfClassic.NcAttr("units", s: String) => s
      }
    /** First value of a numeric attribute (scalar by convention). */
    final def numAttr(v: String, a: String): Option[Double] =
      attrs(v).collectFirst {
        case NetcdfClassic.NcAttr(`a`, ds: Array[Double]) if ds.nonEmpty => ds.head
        case NetcdfClassic.NcAttr(`a`, ls: Array[Long]) if ls.nonEmpty => ls.head.toDouble
      }
    /** The member's data variables, sorted: every variable laid out
      * (time, lat, lon) or (lat, lon) over the named axes, the axes
      * themselves and other dimension scales excluded. The one variable
      * discovery of the scan, the aggregate reader and the catalog. */
    final def dataVars(lat: String, lon: String, time: String): Seq[String] = {
      val axes = Set(lat, lon, time)
      varNames.filterNot(axes).filter { v =>
        scala.util.Try(dimsOf(v)).toOption.exists(d =>
          d == Seq(time, lat, lon) || d == Seq(lat, lon))
      }.sorted
    }
    /** The time axis in epoch µs: its CF `units` through [[cfTimeBase]],
      * each value rounded to the nearest µs. Reader rows and catalog
      * envelopes both decode through here, so a pruned envelope never
      * disagrees with the rows it stands for. */
    final def timesUs(time: String): Array[Long] = {
      val units = unitsOf(time).getOrElse(throw new IllegalArgumentException(
        s"time variable '$time' has no units attribute"))
      val (base, step) = cfTimeBase(units)
      read(time).map(t => base + math.round(t * step))
    }
  }
  private final class ClassicView(nc: NetcdfClassic.NcFile) extends GridView {
    def varNames: Seq[String] = nc.vars.map(_.name)
    def dimsOf(v: String): Seq[String] =
      nc.variable(v).dimIds.map(nc.dim(_).name)
    def read(v: String): Array[Double] = nc.read(v)
    def readSlab(v: String, starts: Seq[Long], counts: Seq[Long],
                 shape: Seq[Long]): Array[Double] = {
      // r13: true byte-range slab — only the requested elements are
      // decoded (per-run, see NcFile.readHyperslab), the classic-format
      // analog of the HDF5 chunk pruning
      val declared = nc.variable(v).dimIds.map(d =>
        if (nc.dim(d).length == 0) nc.numRecs.toLong else nc.dim(d).length.toLong)
      require(declared == shape,
        s"'$v': caller shape ${shape.mkString("x")} != file shape " +
          declared.mkString("x"))
      nc.readHyperslab(v, starts, counts)
    }
    def attrs(v: String): Seq[NetcdfClassic.NcAttr] = nc.variable(v).attrs
  }
  private final class Hdf5View(h5: Hdf5Classic.H5File) extends GridView {
    def varNames: Seq[String] = h5.vars.map(_.name)
    def dimsOf(v: String): Seq[String] = h5.dimNames(v)
    def read(v: String): Array[Double] = h5.read(v)
    def readSlab(v: String, starts: Seq[Long], counts: Seq[Long],
                 shape: Seq[Long]): Array[Double] = {
      require(h5.variable(v).shape == shape,
        s"'$v': caller shape ${shape.mkString("x")} != file shape " +
          h5.variable(v).shape.mkString("x"))
      h5.readSlab(v, starts, counts)
    }
    def attrs(v: String): Seq[NetcdfClassic.NcAttr] = h5.variable(v).attrs
  }

  /** A Zarr v2 store: its arrays are the variables, `_ARRAY_DIMENSIONS`
    * names their axes, `.zattrs` holds the attributes, and `.zarray`'s
    * `fill_value` is reported as `_FillValue`, so [[FillMask]] is the
    * one masking rule for all three formats. Slabs decode only the
    * chunks they touch ([[ZarrStore.readSlab]]). */
  private final class ZarrView(root: String, conf: Configuration) extends GridView {
    private val fs = new Path(root).getFileSystem(conf)
    private def fetch(p: String): Option[Array[Byte]] =
      if (fs.exists(new Path(p))) Some(NetcdfV2.readFileBytes(p, conf)) else None
    private def json(p: String): Option[Any] =
      fetch(p).map(b => ZarrStore.ZJson.parse(new String(b, StandardCharsets.UTF_8)))
    private val metas = mutable.Map.empty[String, ZarrStore.ZArrayMeta]
    private def meta(v: String): ZarrStore.ZArrayMeta = metas.getOrElseUpdate(v,
      ZarrStore.parseArrayMeta(new String(
        NetcdfV2.readFileBytes(s"$root/$v/.zarray", conf), StandardCharsets.UTF_8)))
    private val zattrs = mutable.Map.empty[String, Map[String, Any]]
    private def zattrsOf(v: String): Map[String, Any] = zattrs.getOrElseUpdate(v,
      json(s"$root/$v/.zattrs").map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty))

    def varNames: Seq[String] =
      fs.listStatus(new Path(root)).toSeq
        .filter(st => st.isDirectory && fs.exists(new Path(st.getPath, ".zarray")))
        .map(_.getPath.getName).sorted
    def dimsOf(v: String): Seq[String] = zattrsOf(v).get("_ARRAY_DIMENSIONS") match {
      case Some(d: Vector[Any] @unchecked) => d.map(_.asInstanceOf[String])
      case _ => meta(v).rank match {
        case 3 => Seq("time", "lat", "lon")
        case 2 => Seq("lat", "lon")
        case r => throw new IllegalArgumentException(
          s"'$v' is $r-D and names no _ARRAY_DIMENSIONS")
      }
    }
    def read(v: String): Array[Double] = {
      val shape = meta(v).shape.map(_.toLong)
      readSlab(v, shape.map(_ => 0L), shape, shape)
    }
    def readSlab(v: String, starts: Seq[Long], counts: Seq[Long],
                 shape: Seq[Long]): Array[Double] = {
      val m = meta(v)
      require(m.shape.map(_.toLong) == shape,
        s"'$v': caller shape ${shape.mkString("x")} != store shape " +
          m.shape.mkString("x"))
      ZarrStore.readSlab(root, v, m, starts, counts, fetch)
    }
    def attrs(v: String): Seq[NetcdfClassic.NcAttr] =
      meta(v).fill.map(f => NetcdfClassic.NcAttr("_FillValue", Array(f))).toSeq ++
        zattrsOf(v).toSeq.sortBy(_._1).collect {
          case (k, s: String) => NetcdfClassic.NcAttr(k, s)
          case (k, d: Double) => NetcdfClassic.NcAttr(k, Array(d))
        }
  }

  private[sources] def openGrid(bytes: Array[Byte]): GridView =
    if (bytes.length >= 4 && bytes(0) == 'C' && bytes(1) == 'D' && bytes(2) == 'F')
      new ClassicView(NetcdfClassic.parse(bytes))
    else new Hdf5View(Hdf5Classic.parse(bytes)) // parse names bad magic

  /** Opens one archive member: a directory is a Zarr store, a file is
    * classic or HDF5 by its magic bytes. */
  private[sources] def openGrid(path: String, conf: Configuration): GridView = {
    val p = new Path(path)
    if (p.getFileSystem(conf).getFileStatus(p).isDirectory) new ZarrView(path, conf)
    else openGrid(NetcdfV2.readFileBytes(path, conf))
  }

  /** The CF missing-data mask of one variable (xarray
    * `mask_and_scale=True`): `fill` is its `_FillValue`, else the
    * legacy `missing_value`; a cell equal to it is MISSING and emits no
    * row (a NaN fill matches NaN cells). `fill = None` means every cell
    * is present — the aggregate reader's metadata-only regime. */
  private[sources] final case class FillMask(fill: Option[Double]) {
    private[this] val f = fill.getOrElse(Double.NaN)
    def present(raw: Double): Boolean =
      fill.isEmpty || !(raw == f || (f.isNaN && raw.isNaN))
  }
  private[sources] def fillMask(g: GridView, v: String): FillMask =
    FillMask(g.numAttr(v, "_FillValue").orElse(g.numAttr(v, "missing_value")))

  val longFormSchema: StructType = StructType(Seq(
    StructField("dataset", StringType),
    StructField("variable", StringType),
    StructField("time", TimestampType),
    StructField("lat", DoubleType),
    StructField("lon", DoubleType),
    StructField("lev", DoubleType),
    StructField("value", DoubleType),
    StructField("attrs", MapType(StringType, StringType))))

  /** Sentinel for a null timestamp (2-D static-grid member). */
  private[sources] val NoTime = Long.MinValue

  /** ONE single-variable member's on-disk bytes from its long-form
    * cells, via [[buildMemberBytesMulti]] (the encoder behind the DSv2
    * `netcdf` sink). Cells are (epoch-µs | NoTime, lat, lon, value);
    * axes are the distinct sorted coordinates, absent cells NaN-filled
    * and declared `_FillValue` so mask-and-scale readers (ours, and
    * xarray's) drop them (write→read is the identity on sparse grids). */
  private[graft] def buildMemberBytes(
      ds: String, buf: Seq[(Long, Double, Double, Double)],
      varName: String, hdf5: Boolean): Array[Byte] =
    buildMemberBytesMulti(ds,
      buf.map { case (t, la, lo, v) => (varName, t, la, lo, v) }, hdf5)

  /** One member's cells on the UNION of its observed axes — the rule
    * both member encoders share (xarray `Dataset` fidelity: the sink's
    * input is the full long form incl. `variable`). Axes are the
    * distinct sorted coordinates; each variable is a dense row-major
    * (time, lat, lon) grid, NaN where it has no cell (= the declared
    * fill, masked on read), so write→read is the identity on the long
    * form. A static member's only time is [[NoTime]] (one plane). */
  private[sources] final case class MemberGrid(
      times: Seq[Long], lats: Seq[Double], lons: Seq[Double],
      grids: Seq[(String, Array[Double])]) {
    def is2d: Boolean = times == Seq(NoTime)
  }

  private[sources] def memberGrid(
      ds: String, cells: Seq[(String, Long, Double, Double, Double)]): MemberGrid = {
    require(!ds.contains('/') && !ds.contains(java.io.File.separatorChar),
      s"member tag '$ds' is not a path-safe file basename")
    val varNames = cells.map(_._1).distinct.sorted
    varNames.foreach { v =>
      require(v != null && v.nonEmpty && !v.contains('/') &&
        !Seq("time", "lat", "lon").contains(v),
        s"member '$ds': variable name '$v' collides with an axis, is " +
          "empty, or contains '/' (the reader's group separator)")
    }
    val times = cells.map(_._2).distinct.sorted
    require(times == Seq(NoTime) || !times.contains(NoTime),
      s"member '$ds' mixes null and non-null times — a grid file is " +
        "either a (time, lat, lon) series or a static (lat, lon) field")
    val lats = cells.map(_._3).distinct.sorted
    val lons = cells.map(_._4).distinct.sorted
    val tIx = times.zipWithIndex.toMap
    val laIx = lats.zipWithIndex.toMap
    val loIx = lons.zipWithIndex.toMap
    val nCell = times.length * lats.length * lons.length
    val grids = varNames.map(_ -> Array.fill(nCell)(Double.NaN)).toMap
    val seen = new java.util.HashSet[(String, Integer)](cells.length * 2)
    cells.foreach { case (vn, t, la, lo, v) =>
      val i = (tIx(t) * lats.length + laIx(la)) * lons.length + loIx(lo)
      require(seen.add((vn, i)),
        s"member '$ds' has duplicate rows for one (variable, time, lat, " +
          "lon) cell — last-write-wins would lose data")
      grids(vn)(i) = v
    }
    MemberGrid(times, lats, lons, varNames.map(v => v -> grids(v)))
  }

  /** A classic or HDF5 member file's bytes from its [[memberGrid]]. */
  private[sources] def buildMemberBytesMulti(
      ds: String, cells: Seq[(String, Long, Double, Double, Double)],
      hdf5: Boolean): Array[Byte] = {
    val g = memberGrid(ds, cells)
    val MemberGrid(times, lats, lons, grids) = g
    val (dims, coordVars) =
      if (g.is2d)
        (Seq(NetcdfClassic.NcDim("lat", lats.length),
          NetcdfClassic.NcDim("lon", lons.length)),
          Seq(
            ("lat", Seq(0),
              Seq(NetcdfClassic.NcAttr("units", "degrees_north")), lats.toArray),
            ("lon", Seq(1),
              Seq(NetcdfClassic.NcAttr("units", "degrees_east")), lons.toArray)))
      else
        (Seq(NetcdfClassic.NcDim("time", times.length),
          NetcdfClassic.NcDim("lat", lats.length),
          NetcdfClassic.NcDim("lon", lons.length)),
          Seq(
            ("time", Seq(0),
              Seq(NetcdfClassic.NcAttr("units", "microseconds since 1970-01-01")),
              times.map(_.toDouble).toArray),
            ("lat", Seq(1),
              Seq(NetcdfClassic.NcAttr("units", "degrees_north")), lats.toArray),
            ("lon", Seq(2),
              Seq(NetcdfClassic.NcAttr("units", "degrees_east")), lons.toArray)))
    // declare the NaN fill so readers (ours via mask-and-scale,
    // xarray via mask_and_scale=True) drop absent cells — the
    // write→read pair is then the identity on SPARSE grids too
    val vars = coordVars ++ grids.map { case (vn, grid) => (vn, dims.indices.toSeq,
      Seq(NetcdfClassic.NcAttr("_FillValue", Array(Double.NaN))), grid) }
    // r17: HDF5 members ship deflate+shuffle chunked data variables —
    // the real-archive norm (an uncompressed sink pays 3-10×
    // storage/IO at 100 TB). NetCDF-3 classic has no compression in
    // the format; it stays raw by definition.
    if (hdf5) Hdf5Classic.write(dims, vars, compress = true)
    else NetcdfClassic.write(dims, vars)
  }

  /** Filename-template metadata extraction, e.g.
    * "{model}_{variable}_{start}.nc" — the R1 path-parsing feature as a
    * pure-Column transform over `input_file_name()`, for file sources
    * that populate it (parquet, CSV, JSON, whole binary files). It is EMPTY
    * over a DSv2 `format("netcdf")` scan, so a NetCDF frame carries its
    * member's basename in `dataset` instead — extract template fields
    * from that column. */
  def withPathFields(df: DataFrame, pattern: String, fields: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    fields.zipWithIndex.foldLeft(df) { case (d, (f, i)) =>
      d.withColumn(f, regexp_extract(input_file_name(), pattern, i + 1))
    }
  }

  /** Long-form parquet fallback (pre-exported NetCDF-4 data, or the
    * output of a one-time `format("netcdf")` → parquet normalization). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(longFormSchema).parquet(path)
}
