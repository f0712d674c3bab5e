package graft.sources

import java.util
import java.util.OptionalLong

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, ReadAllAvailable, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** NetCDF-3 / NetCDF-4(HDF5) grid archives and Zarr v2 stores as a
  * REAL DataSourceV2 format — the ONE read and write path for grid
  * archives (the sink's three containers are described at the WRITE
  * side below), where Catalyst, not the caller, drives the scan
  * pruning:
  *
  * {{{
  * spark.read.format("netcdf")          // registered short name
  *   .option("vars", "tas,pr")          // optional: inferred when absent
  *   .load("/archive/&#42;.nc")           // mixed-format glob, magic per file
  *   .filter($"lat" >= 5 && $"lon" <= 125 && $"variable" === "tas")
  * }}}
  *
  * The filters land in the scan through `SupportsPushDownFilters`:
  *  - `lat`/`lon`/`time` range predicates become the hyperslab bounds
  *    of the r13 chunk-pruned read ([[Hdf5Classic.H5File.readSlab]]) —
  *    on chunked/compressed HDF5 the non-intersecting chunks are never
  *    inflated, on NetCDF-3 only the covering byte runs are decoded;
  *  - `variable` equality/IN prunes whole datasets — an un-asked-for
  *    variable's data bytes are never touched;
  *  - `dataset` equality/IN prunes whole FILES at planning time — an
  *    out-of-range member of a 100 TB ensemble is never even opened;
  *  - `SupportsPushDownRequiredColumns` drops unprojected columns at
  *    the source (`ReadSchema` in explain shows the pruned width).
  *
  * Pushed predicates are evaluated with SPARK's exact comparison
  * semantics, not Java's (`SQLOrderingUtil.compareDoubles`: NaN
  * greatest, NaN == NaN, -0.0 == 0.0 — a NaN coordinate behaves
  * bit-for-bit as if the filter ran post-scan), so every accepted
  * filter is FULLY handled: Spark re-evaluates nothing, and the
  * DSv2 read with filters is row-identical to the unfiltered read
  * filtered by Spark (law-pinned in NetcdfV2Spec against a
  * pushdown-free `localCheckpoint()` of the unfiltered read, including
  * NaN-coordinate and -0.0 fixtures). Comparisons the
  * scan cannot prove exact (`value` predicates, OR trees, null-safe
  * forms) are declined and stay residual — declining only ever costs
  * pruning, never correctness.
  *
  * A member is a file, or a Zarr store: a directory holding `.zgroup`
  * that the glob matches, read through [[NetcdfSource.openGrid]]'s
  * Zarr view. Any other directory reads as the members the sink writes
  * into it ([[NetcdfV2.listMembers]]), so `load(dir)` of an archive
  * with no members yet is an empty frame. Parallelism is one partition
  * per member (per-file granularity is what the container formats
  * force; a multi-TB archive is thousands of members, like dask's
  * per-file chunks in the reference), each partition parsing its member
  * with the format auto-detected from the magic bytes.
  * `estimateStatistics` reports
  * the pruned byte total (a store counts the sum of its files) so AQE
  * and join planning see the post-pushdown size.
  *
  * The SESSION's Hadoop configuration (`sessionState.newHadoopConf()`,
  * spark.hadoop.* merged) is captured at plan/write-build time and
  * shipped to every listing, reader, and committer through
  * [[NetcdfV2.HadoopConfSer]] (r14, was `new Configuration()` — which
  * dropped per-session fs settings such as s3a credentials on both the
  * read and write paths).
  *
  * `load(p1, p2, ...)` multi-path form: the paths arrive as a JSON
  * 'paths' option; every element is globbed and the file lists union
  * (r14 — previously a misleading "needs a load(path)" error).
  */
class NetcdfV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "netcdf"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NetcdfV2.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new NcTable(new CaseInsensitiveStringMap(properties))
}

object NetcdfV2 {
  /** Long-form grid schema — field-for-field [[NetcdfSource.GridRow]],
    * the one row shape for all three container formats. */
  val schema: StructType = StructType(Seq(
    StructField("dataset", StringType),
    StructField("variable", StringType),
    StructField("time", TimestampType),
    StructField("lat", DoubleType, nullable = false),
    StructField("lon", DoubleType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** Default mtime slack for the streaming offset's compaction
    * watermark (see [[NcOffset]]): files modified at least this much
    * earlier than the newest admitted file compact away behind the
    * watermark instead of being pinned by name. 5 minutes — the same
    * order as FileStreamSource's default maxFileAge reasoning: wide
    * enough that clock skew / slow copies never mis-classify a
    * just-landed file, narrow enough that checkpoint state is bounded
    * by the landing rate, not the archive size. */
  private[graft] val DefaultMtimeSlackMs: Long = 5L * 60L * 1000L

  // ---- Spark-exact pushed-predicate model ---------------------------
  // op codes for serializable comparison atoms
  private[graft] val GE = 0
  private[graft] val GT = 1
  private[graft] val LE = 2
  private[graft] val LT = 3
  private[graft] val EQ = 4

  private[graft] final case class DCmp(op: Int, v: Double)
  private[graft] final case class TCmp(op: Int, us: Long)

  /** Spark's double comparison (SQLOrderingUtil.compareDoubles): ±0.0
    * equal, NaN greatest, NaN == NaN. Matching it exactly is what lets
    * the scan claim pushed filters as FULLY handled. */
  private[graft] def cmpD(x: Double, v: Double): Int =
    if (x == v) 0 else java.lang.Double.compare(x, v)

  private[graft] def holdsD(x: Double, c: DCmp): Boolean = {
    val k = cmpD(x, c.v)
    c.op match {
      case GE => k >= 0
      case GT => k > 0
      case LE => k <= 0
      case LT => k < 0
      case EQ => k == 0
    }
  }
  private[graft] def holdsT(us: Long, c: TCmp): Boolean = c.op match {
    case GE => us >= c.us
    case GT => us > c.us
    case LE => us <= c.us
    case LT => us < c.us
    case EQ => us == c.us
  }

  /** Everything the scan accepted, in executor-serializable form.
    * `varIn`/`dsIn` None = unconstrained; Some(set) = must be in set. */
  private[graft] final case class NcPushed(
      lat: Seq[DCmp] = Nil, lon: Seq[DCmp] = Nil, time: Seq[TCmp] = Nil,
      timeNotNull: Boolean = false, timeIsNull: Boolean = false,
      varIn: Option[Set[String]] = None, dsIn: Option[Set[String]] = None) {
    def latOk(x: Double): Boolean = lat.forall(holdsD(x, _))
    def lonOk(x: Double): Boolean = lon.forall(holdsD(x, _))
    /** SQL three-valued logic collapsed: a NULL time fails every
      * comparison and IsNotNull; a non-null time fails IsNull. */
    def timeOkNull: Boolean = !timeNotNull && time.isEmpty
    def timeOk(us: Long): Boolean = !timeIsNull && time.forall(holdsT(us, _))
    def varOk(v: String): Boolean = varIn.forall(_.contains(v))
    def dsOk(d: String): Boolean = dsIn.forall(_.contains(d))
  }

  // ---- aggregate pushdown model (r15) -------------------------------
  // Global (no GROUP BY) COUNT/MIN/MAX answered inside the scan. Two
  // execution regimes, both exact:
  //  - variable declares NO fill: every selected cell emits a row, so
  //    COUNT is pure axis arithmetic and MIN/MAX(lat|lon|time) come
  //    from the (tiny) coordinate axes — data chunks are NEVER
  //    inflated (the "answer from chunk metadata" path);
  //  - fill declared: presence is per-cell, so the pruned slab cover is
  //    read like the row path, but aggregation happens in the reader —
  //    no per-cell InternalRow, no row traffic to an Aggregate.
  // MIN/MAX(value) is declined (needs scale/offset data semantics the
  // final-merge planner can't verify cheaply); declining only costs
  // pushdown, never correctness.
  private[graft] sealed trait NcAgg extends Serializable
  private[graft] case object NcCountStar extends NcAgg
  private[graft] case object NcCountTime extends NcAgg // non-null time only
  private[graft] final case class NcMinMax(col: String, isMin: Boolean)
      extends NcAgg

  private[graft] def micros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant => Some(DateTimeUtils.instantToMicros(i))
    case _ => None
  }

  /** Java-serializable Hadoop `Configuration` carrier (the same shape
    * as Spark's private[spark] SerializableConfiguration): captured
    * driver-side from the session, shipped inside partitions and
    * writer factories so executor-side fs access sees the session's
    * settings. Hadoop's own `write`/`readFields` do the payload. */
  private[graft] final class HadoopConfSer(@transient private var c: Configuration)
      extends Serializable {
    def value: Configuration = c
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      c.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      c = new Configuration(false)
      c.readFields(in)
    }
  }

  /** The active session's Hadoop conf, wrapped for shipping — the ONE
    * capture point for both the scan and the write builder. */
  private[graft] def captureConf(): HadoopConfSer =
    new HadoopConfSer(org.apache.spark.sql.GraftBridge.sessionHadoopConf(
      org.apache.spark.sql.SparkSession.active))

  /** `load(p)` stores a 'path' option; `load(p1, p2, ...)` stores the
    * list as a JSON 'paths' option — resolve BOTH (r14; the multi-path
    * form previously failed with a misleading "needs a load(path)"). */
  private[graft] def resolvePaths(options: CaseInsensitiveStringMap,
                                  what: String): Seq[String] = {
    val single = Option(options.get("path")).toSeq
    val multi = Option(options.get("paths")).toSeq.flatMap { js =>
      // pattern-match the AST rather than casting the erased values
      // list — asInstanceOf[List[String]] let a non-string array
      // (e.g. [1,2]) through the Try and surfaced later as an opaque
      // ClassCastException in globbing instead of this named error (r15)
      (Try(org.json4s.jackson.JsonMethods.parse(js)).toOption match {
        case Some(org.json4s.JArray(elems))
            if elems.forall(_.isInstanceOf[org.json4s.JString]) =>
          Some(elems.collect { case org.json4s.JString(s) => s })
        case _ => None
      }).getOrElse(
        throw new IllegalArgumentException(
          s"netcdf $what: could not parse the 'paths' option as a JSON " +
            s"string array (got: $js)"))
    }
    val all = (single ++ multi).distinct
    if (all.isEmpty) throw new IllegalArgumentException(
      s"netcdf $what needs a ${if (what == "sink") "save" else "load"}(path)")
    all
  }

  /** A member name's container extension, as the sink writes it. */
  private[sources] val MemberExt: scala.util.matching.Regex = """\.(nc|h5|zarr)$""".r

  /** The members `globs` match, as (path, on-disk bytes) — the one
    * listing of the scan and the catalog. What a glob matches reads as:
    *  - a file: one member;
    *  - a Zarr v2 store (a directory holding `.zgroup`): one member
    *    sized by the sum of its files;
    *  - any other directory: its children named like a member
    *    ([[MemberExt]], the names the sink writes and truncates), so a
    *    sink's destination reads as its members and never as its
    *    `.graft-staging-*` directories or a `_manifest` beside them. A
    *    directory holding no members lists none: an empty archive.
    * Globs that match nothing at all fail here, by name — the one such
    * rejection of the scan and the catalog. */
  private[graft] def listMembers(globs: Seq[String],
                                 conf: Configuration): Seq[(String, Long)] = {
    val matched = globs.flatMap { glob =>
      val p = new Path(glob)
      val fs = p.getFileSystem(conf)
      Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil).map(fs -> _)
    }
    require(matched.nonEmpty,
      s"netcdf source: no files match '${globs.mkString(", ")}'")
    def member(fs: FileSystem, st: FileStatus): Option[(String, Long)] =
      if (st.isFile) Some((st.getPath.toString, st.getLen))
      else if (fs.exists(new Path(st.getPath, ".zgroup")))
        Some((st.getPath.toString, fs.getContentSummary(st.getPath).getLength))
      else None
    matched.flatMap { case (fs, st) =>
      member(fs, st).map(Seq(_)).getOrElse(
        fs.listStatus(st.getPath).toSeq
          .filter(c => MemberExt.findFirstIn(c.getPath.getName).isDefined)
          .flatMap(member(fs, _)))
    }.distinct
  }

  /** Whole-file fetch (per-member granularity is what the container
    * formats force — parallelism comes from the file count). */
  private[graft] def readFileBytes(path: String, conf: Configuration): Array[Byte] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    require(len <= Int.MaxValue, s"$path: $len B exceeds the 2 GiB " +
      "single-member limit (grid archives shard into many files)")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }
}

private class NcTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String =
    s"netcdf ${options.getOrDefault("path", "")}"
  override def schema(): StructType = NetcdfV2.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new util.HashMap[String, String](options)
    merged.putAll(o)
    new NcScanBuilder(new CaseInsensitiveStringMap(merged))
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val opts = new util.HashMap[String, String](options)
    opts.putAll(info.options())
    new NcWriteBuilder(new CaseInsensitiveStringMap(opts), info.schema())
  }
}

private class NcScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {
  import NetcdfV2._

  private var acc = NcPushed()
  private var accepted: Array[sources.Filter] = Array.empty
  private var required: StructType = NetcdfV2.schema
  private var aggPushed: Option[(Boolean, Seq[NcAgg])] = None

  /** Accept a conjunct fully or not at all: None = residual (Spark
    * re-evaluates; the scan must then emit a superset, so no pruning
    * may key off a declined filter — which is exactly how `acc` works:
    * only accepted atoms enter it). */
  private def accept(f: sources.Filter): Boolean = f match {
    case sources.GreaterThanOrEqual(a, v) => num(a, v, GE)
    case sources.GreaterThan(a, v) => num(a, v, GT)
    case sources.LessThanOrEqual(a, v) => num(a, v, LE)
    case sources.LessThan(a, v) => num(a, v, LT)
    case sources.EqualTo(a, v) => eq(a, v)
    case sources.EqualNullSafe(a, v) if v != null => eq(a, v) // col values never null
    case sources.In(a, vs) if a.equalsIgnoreCase("variable") =>
      inSet(vs) { s => acc = acc.copy(varIn = inter(acc.varIn, s)) }
    case sources.In(a, vs) if a.equalsIgnoreCase("dataset") =>
      inSet(vs) { s => acc = acc.copy(dsIn = inter(acc.dsIn, s)) }
    case sources.IsNotNull(a) if a.equalsIgnoreCase("time") =>
      acc = acc.copy(timeNotNull = true); true
    case sources.IsNotNull(a) => // the other five columns are never null
      Seq("dataset", "variable", "lat", "lon", "value")
        .exists(a.equalsIgnoreCase)
    case sources.IsNull(a) if a.equalsIgnoreCase("time") =>
      acc = acc.copy(timeIsNull = true); true
    case _ => false // OR trees, value preds, string patterns → residual
  }

  private def inter(cur: Option[Set[String]], s: Set[String]) =
    Some(cur.fold(s)(_ intersect s))

  private def inSet(vs: Array[Any])(apply: Set[String] => Unit): Boolean = {
    // a NULL element of an IN list matches nothing in SQL — dropping it
    // from the accepted set is exact
    val strs = vs.iterator.filter(_ != null).collect {
      case s: String => s
    }.toSet
    if (vs.count(_ != null) == strs.size) { apply(strs); true } else false
  }

  private def eq(a: String, v: Any): Boolean = (a.toLowerCase, v) match {
    case ("lat", n: Number) =>
      acc = acc.copy(lat = acc.lat :+ DCmp(EQ, n.doubleValue())); true
    case ("lon", n: Number) =>
      acc = acc.copy(lon = acc.lon :+ DCmp(EQ, n.doubleValue())); true
    case ("time", t) => micros(t) match {
      case Some(us) => acc = acc.copy(time = acc.time :+ TCmp(EQ, us)); true
      case None => false
    }
    case ("variable", s: String) =>
      acc = acc.copy(varIn = inter(acc.varIn, Set(s))); true
    case ("dataset", s: String) =>
      acc = acc.copy(dsIn = inter(acc.dsIn, Set(s))); true
    case _ => false
  }

  private def num(a: String, v: Any, op: Int): Boolean = (a.toLowerCase, v) match {
    case ("lat", n: Number) =>
      acc = acc.copy(lat = acc.lat :+ DCmp(op, n.doubleValue())); true
    case ("lon", n: Number) =>
      acc = acc.copy(lon = acc.lon :+ DCmp(op, n.doubleValue())); true
    case ("time", t) => micros(t) match {
      case Some(us) => acc = acc.copy(time = acc.time :+ TCmp(op, us)); true
      case None => false
    }
    case _ => false
  }

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    val residual = ArrayBuffer.empty[sources.Filter]
    val ok = ArrayBuffer.empty[sources.Filter]
    filters.foreach(f => if (accept(f)) ok += f else residual += f)
    accepted = ok.toArray
    residual.toArray
  }
  override def pushedFilters(): Array[sources.Filter] = accepted
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- aggregate pushdown (r15) ------------------------------------
  import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}

  private def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case nr: org.apache.spark.sql.connector.expressions.NamedReference
        if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0).toLowerCase)
    case _ => None
  }

  /** Whole-aggregation translation, all-or-nothing (a partially
    * translated aggregation would be wrong, not slow). Every emitted
    * column except `time` is non-null, so COUNT(col) on them is
    * COUNT(*); COUNT(time) counts 3-D rows only.
    *
    * GROUP BY (r16): `GROUP BY dataset` translates too — dataset IS
    * file identity, so each per-file reader emits its own group's
    * final row from chunk metadata (and suppresses the row when the
    * file's surviving cell count is zero: SQL emits no row for an
    * empty group). Any other grouping declines. Returns
    * (groupedByDataset, aggs). */
  private def translate(agg: Aggregation): Option[(Boolean, Seq[NcAgg])] = {
    val grouped = agg.groupByExpressions.toSeq match {
      case Seq() => false
      case Seq(e) if colOf(e).contains("dataset") => true
      case _ => return None
    }
    val out = Vector.newBuilder[NcAgg]
    agg.aggregateExpressions.foreach { f: AggregateFunc =>
      f match {
        case _: CountStar => out += NcCountStar
        case c: Count if !c.isDistinct => colOf(c.column) match {
          case Some("time") => out += NcCountTime
          case Some(n) if Set("dataset", "variable", "lat", "lon", "value")(n) =>
            out += NcCountStar
          case _ => return None
        }
        case m: Min => colOf(m.column) match {
          case Some(n) if Set("lat", "lon", "time")(n) =>
            out += NcMinMax(n, isMin = true)
          case _ => return None
        }
        case m: Max => colOf(m.column) match {
          case Some(n) if Set("lat", "lon", "time")(n) =>
            out += NcMinMax(n, isMin = false)
          case _ => return None
        }
        case _ => return None
      }
    }
    Some((grouped, out.result()))
  }

  /** COMPLETE pushdown (no Aggregate left in the plan) requires the
    * scan itself to emit final rows:
    *  - global aggregate — ONE merged row: r15 required a single
    *    surviving file; r16 merges up to `completeAggMaxFiles`
    *    members' chunk-metadata answers inside one reader task
    *    (metadata-only per member — KBs of header bytes — so a
    *    bounded sequential merge beats a shuffle; above the cap the
    *    parallel partial-merge form wins and we fall back to it).
    *    Zero members are answered complete too: the merged partition
    *    emits (count 0, NULL extrema), where a partial form would
    *    leave Spark's merge of zero partial COUNTs NULL;
    *  - GROUP BY dataset — one row per group: dataset is file
    *    identity, so per-file readers ARE per-group finals, at any
    *    archive size — unless two surviving members collide on
    *    basename across directories (then partial, Spark merges). */
  private lazy val survivingPaths: Option[Seq[String]] = Try {
    NetcdfV2.listMembers(NetcdfV2.resolvePaths(options, "source"),
      NetcdfV2.captureConf().value).map(_._1)
      .filter(path => acc.dsOk(new Path(path).getName))
  }.toOption // listing failure → never claim complete

  private lazy val completeAggMaxFiles: Int =
    Option(options.get("completeAggMaxFiles")).map(_.toInt).getOrElse(1024)

  private def completeFor(grouped: Boolean): Boolean = survivingPaths match {
    case None => false
    case Some(paths) =>
      if (grouped) {
        val names = paths.map(p => new Path(p).getName)
        names.distinct.length == names.length
      } else paths.length <= completeAggMaxFiles
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translate(agg) match {
      case Some((grouped, _)) => completeFor(grouped)
      case None => false
    }

  override def pushAggregation(agg: Aggregation): Boolean =
    translate(agg) match {
      case Some(as) => aggPushed = Some(as); true
      case None => false
    }

  override def build(): Scan = {
    val paths = NetcdfV2.resolvePaths(options, "source")
    val varsOpt = Option(options.get("vars")).map(
      _.split(",").map(_.trim).toSeq.filter(_.nonEmpty))
    val (latV, lonV, timeV) = (options.getOrDefault("latVar", "lat"),
      options.getOrDefault("lonVar", "lon"),
      options.getOrDefault("timeVar", "time"))
    val conf = NetcdfV2.captureConf()
    // streaming admission knobs (batch scans ignore them): cap the
    // files admitted per micro-batch, and the mtime window within
    // which processed files are pinned by NAME in the offset (older
    // ones compact away behind the watermark — see [[NcOffset]])
    val maxFiles = Option(options.get("maxFilesPerTrigger")).map { v =>
      val n = v.toInt
      require(n > 0, s"netcdf stream: maxFilesPerTrigger must be > 0, got $n")
      n
    }
    val slackMs = Option(options.get("mtimeSlackMs")).map { v =>
      val n = v.toLong
      require(n >= 0, s"netcdf stream: mtimeSlackMs must be >= 0, got $n")
      n
    }.getOrElse(NetcdfV2.DefaultMtimeSlackMs)
    aggPushed match {
      case Some((grouped, aggs)) => new NcAggScan(paths, varsOpt, latV, lonV, timeV,
        acc, aggs, accepted.map(_.toString).toSeq, conf,
        grouped = grouped,
        // recompute the same deterministic predicate Spark saw in
        // supportCompletePushDown: when the GLOBAL aggregate was
        // granted complete, the scan must emit ONE merged row, so all
        // members (possibly none) ride a single partition
        mergeAll = !grouped && completeFor(grouped = false))
      case None => new NcScan(paths, varsOpt, latV, lonV, timeV,
        acc, required, accepted.map(_.toString).toSeq, conf, maxFiles, slackMs)
    }
  }
}

private class NcScan(pathGlobs: Seq[String], varsOpt: Option[Seq[String]],
                     latVar: String, lonVar: String, timeVar: String,
                     pushed: NetcdfV2.NcPushed, required: StructType,
                     pushedDesc: Seq[String],
                     conf: NetcdfV2.HadoopConfSer,
                     streamMaxFiles: Option[Int] = None,
                     streamSlackMs: Long = NetcdfV2.DefaultMtimeSlackMs)
    extends Scan with Batch with SupportsReportStatistics {

  /** Driver-side member listing, `dataset` pushdown applied: an
    * out-of-set member is pruned HERE and never opened. Sorted for
    * deterministic partition numbering. */
  private lazy val files: Seq[(String, Long)] =
    NetcdfV2.listMembers(pathGlobs, conf.value)
      .filter { case (path, _) => pushed.dsOk(new Path(path).getName) }
      .sortBy(_._1)

  /** The explicit `vars` option with `variable` pushdown applied; None
    * = PER-FILE discovery in each reader (a mixed archive where
    * members carry different variable sets reads every one of them —
    * driver-side first-file discovery would silently drop variables
    * the first member happens to lack). */
  protected lazy val vars: Option[Seq[String]] =
    varsOpt.map(_.filter(pushed.varOk))

  // a micro-batch reads what its stream admits, not this scan's listing
  @volatile private var streamed = false

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    streamed = true
    new NcMicroBatchStream(pathGlobs, vars, latVar, lonVar, timeVar, pushed,
      required, conf, streamMaxFiles, streamSlackMs)
  }
  /** The load paths, the members a batch scan reads (a directory path
    * alone does not show them), the pushed filters and the read schema. */
  override def description(): String =
    s"netcdf ${pathGlobs.mkString(",")}, " +
      (if (streamed) "" else "Members: " + org.apache.spark.sql.catalyst.util
        .truncatedString(files.map(f => new Path(f._1).getName), "[", ", ", "]", 25) + ", ") +
      s"PushedFilters: [${pushedDesc.mkString(", ")}], " +
      s"ReadSchema: ${required.simpleString}"

  override def estimateStatistics(): Statistics = new Statistics {
    // post-pruning on-disk bytes: the honest upper bound a planner can
    // have before decoding (decoded long-form rows can be larger, but
    // masked cells and unprojected variables make it smaller — parity
    // with what FileScan reports for parquet)
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(files.map(_._2).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  override def planInputPartitions(): Array[InputPartition] =
    files.map { case (path, _) =>
      NcPartition(path, vars, latVar, lonVar, timeVar): InputPartition
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val req = required.fieldNames.toSeq
    val push = pushed
    // the conf rides the FACTORY, not each partition: a
    // thousands-of-members archive would otherwise hold one
    // Configuration copy per partition in the driver's plan array
    val c = conf
    (partition: InputPartition) =>
      new NcReader(partition.asInstanceOf[NcPartition], push, req, c)
  }
}

private case class NcPartition(path: String, vars: Option[Seq[String]],
                               latVar: String, lonVar: String,
                               timeVar: String)
    extends InputPartition

/** The aggregate-pushdown scan: each reader emits rows of aggregate
  * values straight from chunk metadata. Partitioning by mode:
  *  - global partial — one partition per file, one partial row each,
  *    Spark sums counts / re-mins / re-maxes on top;
  *  - global complete (`mergeAll`) — ONE partition over every
  *    surviving member; the reader folds the per-file accumulators
  *    (metadata-only per member) and emits the single final row;
  *  - `GROUP BY dataset` (`grouped`) — one partition per file; each
  *    reader emits its own group's row (dataset = file identity),
  *    suppressed when the file's surviving cell count is zero (SQL
  *    emits no row for an empty group). Complete and partial grouped
  *    forms emit the same rows — partial just lets Spark re-merge
  *    when basenames collide across directories.
  * Output columns are positional — group columns first, then the
  * pushed aggregate list, as V2ScanRelationPushDown requires. */
private class NcAggScan(pathGlobs: Seq[String], varsOpt: Option[Seq[String]],
                        latVar: String, lonVar: String, timeVar: String,
                        pushed: NetcdfV2.NcPushed,
                        aggs: Seq[NetcdfV2.NcAgg], pushedDesc: Seq[String],
                        conf: NetcdfV2.HadoopConfSer,
                        grouped: Boolean, mergeAll: Boolean)
    extends NcScan(pathGlobs, varsOpt, latVar, lonVar, timeVar, pushed,
      NcAggScan.schemaFor(grouped, aggs), pushedDesc, conf) {
  import NetcdfV2._

  override def description(): String =
    super.description() + s", PushedAggregates: [${aggs.mkString(", ")}]" +
      (if (grouped) ", PushedGroupBy: [dataset]" else "")

  override def planInputPartitions(): Array[InputPartition] = {
    val base = super.planInputPartitions().map(_.asInstanceOf[NcPartition])
    // a complete global aggregate is ONE partition even over zero
    // members: it must emit its one row (an empty partition set would
    // return none)
    if (mergeAll) Array(NcAggPartition(base.map(_.path).toSeq, vars,
      latVar, lonVar, timeVar, grouped = false))
    else base.map(p => NcAggPartition(Seq(p.path), p.vars,
      latVar, lonVar, timeVar, grouped): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val push = pushed
    val as = aggs
    val c = conf
    (partition: InputPartition) =>
      new NcAggReader(partition.asInstanceOf[NcAggPartition], push, as, c)
  }
}

private object NcAggScan {
  import NetcdfV2._
  def schemaFor(grouped: Boolean, aggs: Seq[NcAgg]): StructType = {
    val group = if (grouped)
      Seq(StructField("dataset", StringType, nullable = false)) else Nil
    StructType(group ++ aggs.map {
      case NcCountStar => StructField("count(*)", LongType, nullable = false)
      case NcCountTime => StructField("count(time)", LongType, nullable = false)
      case NcMinMax(c, isMin) => StructField(
        s"${if (isMin) "min" else "max"}($c)",
        if (c == "time") TimestampType else DoubleType)
    })
  }
}

private case class NcAggPartition(paths: Seq[String],
                                  vars: Option[Seq[String]],
                                  latVar: String, lonVar: String,
                                  timeVar: String, grouped: Boolean)
    extends InputPartition

/** Member files → COUNT/MIN/MAX accumulator rows, folded over the
  * cells of each variable's [[NcSelection]] — the walk [[NcReader]]
  * turns into rows — so the pushed aggregate equals the aggregate over
  * the row path by construction. When the variable declares no fill,
  * COUNT is the product of the selection's index sets and MIN/MAX come
  * from the coordinate axes: the data chunks are never read, let alone
  * inflated. A multi-path partition (global complete pushdown) folds
  * every member into the one accumulator set; a grouped partition (one
  * path) prepends its dataset and suppresses the row when nothing
  * survived (empty SQL group). */
private class NcAggReader(p: NcAggPartition, pushed: NetcdfV2.NcPushed,
                          aggs: Seq[NetcdfV2.NcAgg],
                          conf: NetcdfV2.HadoopConfSer)
    extends PartitionReader[InternalRow] {
  import NetcdfV2._

  private var nRows = 0L
  private var nTime = 0L
  private var latMin, latMax, lonMin, lonMax: java.lang.Double = null
  private var tMin, tMax: java.lang.Long = null

  // Spark-exact double ordering (NaN greatest, -0.0 == 0.0) — the
  // merged result must equal what Spark's own Min/Max would compute
  private def updD(cur: java.lang.Double, x: Double,
                   isMin: Boolean): java.lang.Double =
    if (cur == null) x
    else {
      val k = cmpD(x, cur.doubleValue())
      if (if (isMin) k < 0 else k > 0) x else cur
    }
  private def updL(cur: java.lang.Long, x: Long,
                   isMin: Boolean): java.lang.Long =
    if (cur == null) x
    else if (if (isMin) x < cur.longValue() else x > cur.longValue()) x
    else cur

  private def seenLat(x: Double): Unit = {
    latMin = updD(latMin, x, isMin = true); latMax = updD(latMax, x, isMin = false)
  }
  private def seenLon(x: Double): Unit = {
    lonMin = updD(lonMin, x, isMin = true); lonMax = updD(lonMax, x, isMin = false)
  }
  private def seenTime(us: Long): Unit = {
    tMin = updL(tMin, us, isMin = true); tMax = updL(tMax, us, isMin = false)
  }

  // a static variable's cells have a NULL time: they count toward
  // count(*), never toward count(time) or min/max(time) (SQL nulls)
  p.paths.foreach { path =>
    NcSelection.ofMember(path, p.vars, p.latVar, p.lonVar, p.timeVar, pushed,
      conf.value).foreach { s =>
      if (s.mask.fill.isEmpty) {
        // metadata-only: every selected cell emits
        val n = s.tIdx.length.toLong * s.laIdx.length * s.loIdx.length
        if (n > 0) {
          nRows += n
          s.laIdx.foreach(i => seenLat(s.lats(i)))
          s.loIdx.foreach(i => seenLon(s.lons(i)))
          if (s.timed) { nTime += n; s.tIdx.foreach(i => seenTime(s.times(i))) }
        }
      } else while (s.next()) {
        nRows += 1
        if (s.timed) { nTime += 1; seenTime(s.timeUs) }
        seenLat(s.lat); seenLon(s.lon)
      }
    }
  }

  private var emitted = false
  override def next(): Boolean =
    !emitted && { emitted = true; !p.grouped || nRows > 0 }
  override def get(): InternalRow = {
    val off = if (p.grouped) 1 else 0
    val row = new GenericInternalRow(off + aggs.length)
    if (p.grouped)
      row.update(0, UTF8String.fromString(new Path(p.paths.head).getName))
    aggs.zipWithIndex.foreach { case (a, k0) =>
      val k = off + k0
      a match {
        case NcCountStar => row.update(k, nRows)
        case NcCountTime => row.update(k, nTime)
        case NcMinMax("lat", m) => row.update(k, if (m) latMin else latMax)
        case NcMinMax("lon", m) => row.update(k, if (m) lonMin else lonMax)
        case NcMinMax("time", m) => row.update(k, if (m) tMin else tMax)
        case NcMinMax(c, _) => throw new IllegalStateException(
          s"netcdf aggregate pushdown: unexpected column '$c'")
      }
    }
    row
  }
  override def close(): Unit = ()
}

/** Compact stream offset (r16 — was the full already-emitted file
  * list, linear in archive size and re-serialized into every
  * checkpoint entry). The offset now carries a MODIFICATION-TIME
  * WATERMARK plus a bounded recent-set, the same compaction idea as
  * FileStreamSource's seen-log:
  *
  *  - `wm` — the max mtime over every file admitted so far
  *    (`Long.MinValue` before the first admission);
  *  - `slack` — the grace window: a file is classified as already
  *    emitted when `mtime < wm - slack` (older than every recent
  *    admission by more than the slack) OR when it is pinned by name
  *    in `recent`;
  *  - `recent` — exactly the admitted files with `mtime >= wm - slack`
  *    (the only ones the watermark alone cannot classify).
  *
  * Admission happens in ascending (mtime, path) order, so every
  * not-yet-admitted file always sits AT or ABOVE `wm - slack` — the
  * watermark can never swallow a pending file — and `recent` is
  * bounded by the files landing within one slack window, not by the
  * archive's total member count. Offset state is therefore sized by
  * the LANDING RATE; a million-member archive checkpoints kilobytes.
  * The standing assumption (shared with every file-based source) is
  * that members are immutable once landed: a file REPLACED in place
  * with an older mtime can be mis-classified, exactly as in
  * FileStreamSource past maxFileAge.
  *
  * `seen` uses the offset's OWN stored slack, so replay after a
  * config change still classifies with the values the offset was
  * built under. Legacy v1 offsets (a bare JSON array of every emitted
  * path — pre-r16 checkpoints) parse to `wm = Long.MinValue` with the
  * full list pinned in `recent`; subsequent admissions migrate the
  * state behind the watermark naturally. */
private class NcOffset(val wm: Long, val slack: Long,
                       val recent: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  private lazy val recentSet: Set[String] = recent.toSet

  /** Is (path, mtime) already emitted as of this offset? */
  def seen(path: String, mtime: Long): Boolean =
    (wm != Long.MinValue && mtime < wm - slack) || recentSet.contains(path)

  override def json: String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods._
    compact(render(
      ("v" -> 2) ~ ("wm" -> wm) ~ ("slack" -> slack) ~
        ("recent" -> recent.sorted.toList)))
  }
}

private object NcOffset {
  import org.json4s._

  def initial(slack: Long): NcOffset =
    new NcOffset(Long.MinValue, slack, Vector.empty)

  def parse(json: String): NcOffset =
    org.json4s.jackson.JsonMethods.parse(json) match {
      // legacy v1: the bare emitted-path array. Migrated offsets keep
      // the DEFAULT straggler slack (r17 advice): v1 classified by
      // exact name set-difference, so it never dropped a skewed-mtime
      // late lander — parsing with slack 0 would make the first
      // post-migration admission's watermark swallow exactly those
      // files, a silent data loss neither version's own semantics has.
      case JArray(elems) if elems.forall(_.isInstanceOf[JString]) =>
        new NcOffset(Long.MinValue, NetcdfV2.DefaultMtimeSlackMs,
          elems.collect { case JString(s) => s }.toVector)
      case obj: JObject =>
        (obj \ "wm", obj \ "slack", obj \ "recent") match {
          case (JInt(wm), JInt(slack), JArray(rec))
              if rec.forall(_.isInstanceOf[JString]) =>
            new NcOffset(wm.toLong, slack.toLong,
              rec.collect { case JString(s) => s }.toVector)
          case _ => throw new IllegalStateException(
            "netcdf stream: malformed v2 checkpoint offset " +
              s"(corrupt checkpoint?): $json")
        }
      case _ => throw new IllegalStateException(
        "netcdf stream: checkpoint offset is neither a v1 path array " +
          s"nor a v2 watermark object (corrupt checkpoint?): $json")
    }
}

/** Micro-batch streaming over a growing grid archive: each trigger
  * lists the glob and admits the not-yet-emitted members in
  * (mtime, path) order, bounded by `maxFilesPerTrigger`
  * ([[SupportsTriggerAvailableNow]] ⊃ SupportsAdmissionControl — a
  * backlog drains in rate-limited batches, Trigger.AvailableNow pins
  * the drain target at query start) — `readStream.format("netcdf")`
  * turns instrument drops into a Structured Streaming source with the
  * SAME pruning and row semantics as the batch scan (one partition
  * per new file, pushed predicates applied in the readers).
  * Checkpoint state is the compact [[NcOffset]] watermark, sized by
  * the landing rate rather than the archive (r16 — was the full
  * emitted-path list). Files are immutable once written (the grid
  * formats are not appendable), so classification by (name, mtime) is
  * exact; a REPLACED member (same name, new bytes) is out of scope
  * like every mutable-file streaming source. */
private class NcMicroBatchStream(pathGlobs: Seq[String],
                                 vars: Option[Seq[String]],
                                 latVar: String, lonVar: String,
                                 timeVar: String,
                                 pushed: NetcdfV2.NcPushed,
                                 required: StructType,
                                 conf: NetcdfV2.HadoopConfSer,
                                 maxFilesPerTrigger: Option[Int],
                                 slackMs: Long)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.Offset

  /** (path → mtime) for every current member passing the dataset
    * pushdown. An empty listing is NOT an error for a stream: the
    * archive may simply have no members yet — the batch scan's named
    * rejection stays on the batch path. */
  private def listing(): Map[String, Long] = {
    pathGlobs.flatMap { glob =>
      val p = new Path(glob)
      val fs = p.getFileSystem(conf.value)
      Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
    }.filter(_.isFile)
      .filter(st => pushed.dsOk(st.getPath.getName))
      .map(st => st.getPath.toString -> st.getModificationTime)
      .toMap
  }

  /** Trigger.AvailableNow contract: pin the drain target to the
    * members on disk at query start — files landing mid-drain wait
    * for the next run (and each intermediate batch still honors the
    * per-trigger admission cap). */
  @volatile private var availableNowSnapshot: Option[Map[String, Long]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowSnapshot = Some(listing())
  private def admissible(): Map[String, Long] =
    availableNowSnapshot.getOrElse(listing())

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = NcOffset.initial(slackMs)
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "netcdf stream implements SupportsAdmissionControl — " +
      "latestOffset(start, limit) is the entry point")
  override def deserializeOffset(json: String): Offset = NcOffset.parse(json)

  private def maxFilesOf(limit: ReadLimit): Option[Int] = limit match {
    case _: ReadAllAvailable => None
    case f: ReadMaxFiles => Some(f.maxFiles())
    case c: CompositeReadLimit =>
      c.getReadLimits.toSeq.flatMap(maxFilesOf).sorted.headOption
    case _ => None // row/byte limits don't map to per-file admission
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val st = start.asInstanceOf[NcOffset]
    // the CHECKPOINT's recorded slack wins over the session option for
    // a continuing stream (r16 review): a restart with a narrower
    // mtimeSlackMs would otherwise move the floor past files that were
    // classified unseen-but-unadmitted under the old offset — silently
    // swallowing pending backlog. The option seeds initialOffset only.
    val slack = if (st.wm == Long.MinValue && st.recent.isEmpty) slackMs
                else st.slack
    val listed = admissible() // ONE listing per trigger — self-consistent
    // ascending (mtime, path): the admission order that keeps every
    // pending file at-or-above the new watermark's floor (see NcOffset)
    val unseen = listed.toSeq
      .filterNot { case (p, m) => st.seen(p, m) }
      .sortBy { case (p, m) => (m, p) }
    val take = maxFilesOf(limit).fold(unseen)(unseen.take)
    if (take.isEmpty) st // unchanged offset json → no new micro-batch
    else {
      val newWm = math.max(st.wm, take.map(_._2).max)
      val floor = if (newWm == Long.MinValue) Long.MinValue else newWm - slack
      // carry forward the recent entries the new watermark cannot
      // classify; everything SEEN below the floor compacts away (still
      // `seen` via wm). A pin whose file is MISSING from this listing
      // is kept (r16 review): an eventually-consistent store can
      // transiently omit a processed member, and dropping its pin
      // would re-emit the file when it reappears above the floor.
      val carried = st.recent.filter(p => listed.get(p).forall(_ >= floor))
      val admitted = take.collect { case (p, m) if m >= floor => p }
      new NcOffset(newWm, slack, (carried ++ admitted).distinct.sorted)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val st = start.asInstanceOf[NcOffset]
    val en = end.asInstanceOf[NcOffset]
    // re-derived from the live listing (members are immutable, so a
    // crash replay reconstructs the identical batch): everything the
    // end offset classifies as emitted that the start offset does not
    val listed = listing()
    // Replay-fidelity gate (r17 advice): every file THIS batch pinned
    // at admission time (in the end offset's recent set but not the
    // start's) must still be listable — on an eventually-consistent
    // store a member can transiently vanish, the exact scenario the
    // offset's pin-retention accommodates on the ADMISSION side, and
    // silently shrinking a (possibly crash-) replayed batch would
    // break exactly-once delivery. Fail by name so the retryable
    // condition is visible instead of swallowed.
    val priorPins = st.recent.toSet
    val missing = en.recent.filterNot(priorPins).filterNot(listed.contains)
    require(missing.isEmpty,
      "netcdf stream: batch member(s) admitted at " +
        s"${en.json} are no longer listable — transiently missing from " +
        s"an eventually-consistent store? Retry the trigger. Missing: " +
        missing.mkString(", "))
    listed.toSeq
      .filter { case (p, m) => en.seen(p, m) && !st.seen(p, m) }
      .sortBy(_._1)
      .map { case (p, _) =>
        NcPartition(p, vars, latVar, lonVar, timeVar): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val req = required.fieldNames.toSeq
    val push = pushed
    val c = conf
    (partition: InputPartition) =>
      new NcReader(partition.asInstanceOf[NcPartition], push, req, c)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One variable of one member under the pushed atoms: the walk that
  * [[NcReader]] turns into rows and [[NcAggReader]] folds into
  * aggregates. It holds the surviving time planes (a static (lat, lon)
  * variable is one plane with a NULL time, kept only when
  * `timeOkNull`), the lat and lon index sets of the Spark-exact atoms,
  * and a cursor over the present cells. The cursor's first [[next]]
  * reads the contiguous cover of the index sets with ONE chunk-pruned
  * [[NetcdfSource.GridView.readSlab]]; it then walks the index sets
  * inside the cover, so every cell passes the pushed atoms (exact on
  * non-monotonic axes too: the cover only ever over-fetches), and skips
  * the cells [[NetcdfSource.FillMask]] marks missing. The cursor
  * allocates nothing per cell. */
private final class NcSelection(val g: NetcdfSource.GridView, val v: String,
                                ax: NcAxes, pushed: NetcdfV2.NcPushed) {
  private val dims = g.dimsOf(v)
  val timed: Boolean =
    if (dims == Seq(ax.timeVar, ax.latVar, ax.lonVar)) true
    else if (dims == Seq(ax.latVar, ax.lonVar)) false
    else throw new IllegalArgumentException(
      s"unsupported dim layout $dims for '$v' (expected " +
        s"(${ax.timeVar}, ${ax.latVar}, ${ax.lonVar}) or (${ax.latVar}, ${ax.lonVar}))")
  val lats: Array[Double] = ax.lats
  val lons: Array[Double] = ax.lons
  val times: Array[Long] = if (timed) ax.times else Array.emptyLongArray
  val mask: NetcdfSource.FillMask = NetcdfSource.fillMask(g, v)
  val tIdx: Array[Int] =
    if (timed) ax.tIdx
    else if (pushed.timeOkNull) Array(0) else Array.emptyIntArray
  val laIdx: Array[Int] = ax.laIdx
  val loIdx: Array[Int] = ax.loIdx

  // cursor: positions in the index sets, the slab, and the row offset
  // of the current (plane, lat) pair inside it
  private var it, il = 0
  private var io = -1
  private var data: Array[Double] = _
  private var rowAt = 0
  private var done = tIdx.isEmpty || laIdx.isEmpty || loIdx.isEmpty

  /** The current cell's raw value, time (boxed once per plane; null on
    * a static plane), lat and lon — valid after [[next]] returned true. */
  var raw: Double = _
  var time: java.lang.Long = _
  def timeUs: Long = times(tIdx(it))
  def lat: Double = lats(laIdx(il))
  def lon: Double = lons(loIdx(io))

  private def cover(ix: Array[Int]): Int = ix.last - ix.head + 1
  private def seek(): Unit = {
    if (il == 0 && timed) time = times(tIdx(it))
    rowAt = ((tIdx(it) - tIdx.head) * cover(laIdx) + laIdx(il) - laIdx.head) *
      cover(loIdx) - loIdx.head
  }

  /** Advances to the next present cell; false once the walk is done. */
  def next(): Boolean = {
    if (done) return false
    if (data == null) {
      val axes = Seq((tIdx, if (timed) times.length else 1), (laIdx, lats.length),
        (loIdx, lons.length)).drop(if (timed) 0 else 1)
      data = g.readSlab(v, axes.map(_._1.head.toLong),
        axes.map(a => cover(a._1).toLong), axes.map(_._2.toLong))
      seek()
    }
    while (true) {
      io += 1
      if (io == loIdx.length) {
        io = 0; il += 1
        if (il == laIdx.length) {
          il = 0; it += 1
          if (it == tIdx.length) { done = true; return false }
        }
        seek()
      }
      raw = data(rowAt + loIdx(io))
      if (mask.present(raw)) return true
    }
    false
  }
}

private object NcSelection {
  /** The selections of one member: none when the pushed `dataset` atoms
    * exclude it (it is then never opened), else one per variable the
    * pushed `variable` atoms keep among the explicit `vars` option —
    * every named variable must exist in every member (a missing one
    * fails by name, never silently skipped) — or, absent that option,
    * among THIS member's own [[NetcdfSource.GridView.dataVars]], so a
    * mixed archive contributes each member's full variable set. */
  def ofMember(path: String, vars: Option[Seq[String]], latVar: String,
               lonVar: String, timeVar: String, pushed: NetcdfV2.NcPushed,
               conf: Configuration): Iterator[NcSelection] =
    if (!pushed.dsOk(new Path(path).getName)) Iterator.empty
    else of(NetcdfSource.openGrid(path, conf), vars, latVar, lonVar, timeVar, pushed)

  /** The selections of one opened member. They share one [[NcAxes]],
    * built with the first selection, so the member's axes decode once. */
  def of(g: NetcdfSource.GridView, vars: Option[Seq[String]], latVar: String,
         lonVar: String, timeVar: String,
         pushed: NetcdfV2.NcPushed): Iterator[NcSelection] = {
    lazy val ax = new NcAxes(g, latVar, lonVar, timeVar, pushed)
    vars.getOrElse(g.dataVars(latVar, lonVar, timeVar)).iterator
      .filter(pushed.varOk)
      .map(v => new NcSelection(g, v, ax, pushed))
  }
}

/** The coordinate axes of one member under the pushed atoms, decoded
  * once and shared by its [[NcSelection]]s: lat and lon with the index
  * sets of their atoms, and the CF-decoded time axis with its surviving
  * planes, decoded only when some selection is timed. */
private final class NcAxes(g: NetcdfSource.GridView, val latVar: String,
                           val lonVar: String, val timeVar: String,
                           pushed: NetcdfV2.NcPushed) {
  val lats: Array[Double] = g.read(latVar)
  val lons: Array[Double] = g.read(lonVar)
  val laIdx: Array[Int] = lats.indices.filter(i => pushed.latOk(lats(i))).toArray
  val loIdx: Array[Int] = lons.indices.filter(i => pushed.lonOk(lons(i))).toArray
  lazy val times: Array[Long] = g.timesUs(timeVar)
  lazy val tIdx: Array[Int] =
    times.indices.filter(i => pushed.timeOk(times(i))).toArray
}

/** One member → pruned long-form rows — the only long-form row emitter
  * for grid files and Zarr stores. It maps the cells of each variable's
  * [[NcSelection]] to rows of the required columns; the CF
  * mask-and-scale conventions apply (xarray's
  * `open_dataset(mask_and_scale=True)` defaults): a fill cell emits NO
  * row and packed data unpacks as `raw * scale_factor + add_offset`. */
private class NcReader(p: NcPartition, pushed: NetcdfV2.NcPushed,
                       required: Seq[String], conf: NetcdfV2.HadoopConfSer)
    extends PartitionReader[InternalRow] {

  private val dsU = UTF8String.fromString(new Path(p.path).getName)
  private val sels = NcSelection.ofMember(p.path, p.vars, p.latVar, p.lonVar,
    p.timeVar, pushed, conf.value)

  // required-column projection: ordinal codes per output slot
  private val DS = 0; private val VR = 1; private val TM = 2
  private val LA = 3; private val LO = 4; private val VA = 5
  private val slots: Array[Int] = required.map {
    case "dataset" => DS
    case "variable" => VR
    case "time" => TM
    case "lat" => LA
    case "lon" => LO
    case "value" => VA
    case other => throw new IllegalArgumentException(
      s"netcdf source: unknown required column '$other'")
  }.toArray

  private var sel: NcSelection = _
  private var vU: UTF8String = _
  private var scale, offset = 0.0
  private var cur: InternalRow = _

  override def next(): Boolean = {
    while (sel == null || !sel.next()) {
      if (!sels.hasNext) return false
      sel = sels.next()
      vU = UTF8String.fromString(sel.v)
      scale = sel.g.numAttr(sel.v, "scale_factor").getOrElse(1.0)
      offset = sel.g.numAttr(sel.v, "add_offset").getOrElse(0.0)
    }
    // a FRESH row per cell: Spark's row-based DSv2 path buffers reader
    // output without copying, so a reused row would turn every earlier
    // row into the last one (caught by the spec's very first equality law)
    val row = new GenericInternalRow(slots.length)
    var k = 0
    while (k < slots.length) {
      slots(k) match {
        case DS => row.update(k, dsU)
        case VR => row.update(k, vU)
        case TM => row.update(k, sel.time)
        case LA => row.update(k, sel.lat)
        case LO => row.update(k, sel.lon)
        case VA => row.update(k, sel.raw * scale + offset)
      }
      k += 1
    }
    cur = row
    true
  }
  override def get(): InternalRow = cur
  override def close(): Unit = ()
}

// ======================================================================
// WRITE side: `df.write.format("netcdf").mode("append"|"overwrite")
//   .option("container", "hdf5"|"classic"|"zarr").save(dir)`
//
// Input is the table's OWN long form (dataset, variable, time, lat,
// lon, value) — exactly what the read side emits, so
// read(a).write(b) is an archive copy, and a single-variable frame
// exports by adding a `variable` literal (Ensemble.toNetcdf). One
// member per `dataset` in one of three containers: an HDF5 file
// (`.h5`, the default), a classic NetCDF-3 file (`.nc`) or a Zarr v2
// store directory (`.zarr`, ZarrStore.writeMemberStore). A member holds
// every variable of that dataset on the UNION of its observed axes
// (NaN-filled where a variable lacks a cell — declared fill, so the
// long-form round-trip is the identity; the xarray Dataset model).
// Times are written CF "microseconds since 1970-01-01" (exact below
// 2^53 µs); a member whose times are ALL null writes a static
// (lat, lon) grid; mixed null and non-null times, or duplicate cells,
// reject by name (NetcdfSource.memberGrid).
//
//  - TASK-COMMIT SAFETY: writers emit to a per-attempt staging dir and
//    the members reach the destination only in the driver's
//    BatchWrite.commit — a retried/speculated attempt can never leave
//    a torn or duplicate member behind; a store is renamed into place
//    whole, replacing a same-name store with all its chunk files;
//  - PLANNED CLUSTERING: the Write declares
//    RequiresDistributionAndOrdering (cluster + sort by `dataset`), so
//    Spark inserts the exchange/sort — callers never repartition by
//    hand, and one task holds one member's cells at a time;
//  - MODES: append replaces only same-name members; overwrite
//    truncates every prior .nc/.h5 member and .zarr store of the
//    destination.
// ======================================================================

private class NcWriteBuilder(options: CaseInsensitiveStringMap,
                             inputSchema: StructType)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = {
    val dest = NetcdfV2.resolvePaths(options, "sink") match {
      case Seq(one) => one
      case many => throw new IllegalArgumentException(
        s"netcdf sink writes to ONE directory (got ${many.size} paths)")
    }
    val ext = options.getOrDefault("container", "hdf5") match {
      case "hdf5" => "h5"
      case "classic" => "nc"
      case "zarr" => "zarr"
      case other => throw new IllegalArgumentException(
        s"netcdf sink: container '$other' (use 'hdf5', 'classic' or 'zarr')")
    }
    // ordinals by name: AppendData resolves columns by name against the
    // table schema, but be defensive about order
    def ord(n: String, t: DataType): Int = {
      val i = inputSchema.fieldNames.indexWhere(_.equalsIgnoreCase(n))
      require(i >= 0 && inputSchema(i).dataType == t,
        s"netcdf sink needs column $n: ${t.simpleString} " +
          s"(got schema ${inputSchema.simpleString})")
      i
    }
    val ords = NcWriteOrds(ord("dataset", StringType),
      ord("variable", StringType), ord("time", TimestampType),
      ord("lat", DoubleType), ord("lon", DoubleType),
      ord("value", DoubleType))
    new NcWrite(dest, ext, doTruncate, ords, NetcdfV2.captureConf())
  }
}

private case class NcWriteOrds(ds: Int, vr: Int, tm: Int,
                               la: Int, lo: Int, va: Int)

/** (staged temp path, final member name, source dataset tag). */
private case class NcCommit(entries: Seq[(String, String, String)])
    extends WriterCommitMessage

private class NcWrite(dest: String, ext: String, truncate: Boolean,
                      ords: NcWriteOrds, conf: NetcdfV2.HadoopConfSer)
    extends Write with RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder}

  // one member file per dataset ⇒ a dataset must live in ONE task, and
  // arriving sorted lets the writer stream member-by-member with one
  // member's cells in memory at a time (the file granularity netCDF
  // forces anyway)
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.column("dataset")))
  override def requiredOrdering(): Array[SortOrder] =
    Array(Expressions.sort(Expressions.column("dataset"),
      SortDirection.ASCENDING, NullOrdering.NULLS_FIRST))

  override def toBatch: BatchWrite =
    new NcBatchWrite(dest, ext, truncate, ords, conf)
}

private class NcBatchWrite(dest: String, ext: String, truncate: Boolean,
                           ords: NcWriteOrds, conf: NetcdfV2.HadoopConfSer)
    extends BatchWrite {
  private val stagingDir =
    s"$dest/.graft-staging-${java.util.UUID.randomUUID().toString}"

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new NcWriterFactory(stagingDir, ext, ords, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val destP = new Path(dest)
    val fs = destP.getFileSystem(conf.value)
    fs.mkdirs(destP)
    val moves = messages.collect { case NcCommit(ps) => ps }.flatten
    moves.groupBy(_._2).filter(_._2.length > 1).foreach { case (fin, es) =>
      val tags = es.map(_._3).distinct
      if (tags.length > 1) throw new IllegalArgumentException(
        s"netcdf sink: datasets ${tags.mkString("'", "', '", "'")} all " +
          s"map to member file '$fin' — extension-stripped tags must be " +
          "unique")
      else throw new IllegalStateException(
        s"netcdf sink: member '$fin' written by more than one task — " +
          "dataset clustering violated")
    }
    // NEW members move in FIRST, stale members go after (r14, ADVICE
    // r13): the old delete-then-rename order left a window where a
    // driver crash between the loops destroyed the destination with
    // neither old nor new members. Rename-first shrinks the non-atomic
    // window to same-name replacement (inherent to a plain-fs multi-
    // file commit — each member itself is atomic via rename).
    moves.foreach { case (tmp, fin, _) =>
      val to = new Path(destP, fin)
      fs.delete(to, true) // same member name = replace, a store whole
      require(fs.rename(new Path(tmp), to),
        s"netcdf sink: could not move $tmp to $to")
    }
    if (truncate) {
      // truncate means the DESTINATION's prior members are gone — every
      // container's, or an overwrite that switched containers would
      // leave the old-format member readable next to the new one
      val fresh = moves.map(_._2).toSet
      Option(fs.listStatus(destP)).getOrElse(Array.empty)
        .map(_.getPath)
        .filter(p => NetcdfV2.MemberExt.findFirstIn(p.getName).isDefined &&
          !fresh.contains(p.getName))
        .foreach(fs.delete(_, true))
    }
    fs.delete(new Path(stagingDir), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(stagingDir).getFileSystem(conf.value)
    fs.delete(new Path(stagingDir), true) // nothing reached dest
  }
}

private class NcWriterFactory(stagingDir: String, ext: String,
                              ords: NcWriteOrds,
                              conf: NetcdfV2.HadoopConfSer)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new NcDataWriter(stagingDir, ext, ords, partitionId, taskId, conf)
}

/** Streams the dataset-sorted partition: one member's cells buffered,
  * flushed to a per-attempt staging file (or store directory) on
  * dataset change. Members move to the destination only at driver
  * commit. */
private class NcDataWriter(stagingDir: String, ext: String,
                           ords: NcWriteOrds, partitionId: Int, taskId: Long,
                           conf: NetcdfV2.HadoopConfSer)
    extends DataWriter[InternalRow] {
  // a PRIVATE fs instance (newInstance bypasses the JVM-wide cache):
  // the member bytes carry their own (unverified) checksums where the
  // format defines them, so .crc sidecars are disabled for THIS
  // writer's files — mutating the cached shared instance would turn
  // checksums off for every other Hadoop write in the executor
  private val fs = org.apache.hadoop.fs.FileSystem.newInstance(
    new Path(stagingDir).toUri, conf.value)
  fs.setWriteChecksum(false)
  private var cur: String = _
  private val buf =
    scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double, Double, Double)]
  private val moves =
    scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]

  // final member name → the source dataset tag that produced it: two
  // DISTINCT tags stripping to one name ('m1' vs 'm1.nc') must be a
  // named error, not a silent staged-file overwrite
  private val named = scala.collection.mutable.HashMap.empty[String, String]

  private def flush(): Unit = if (cur != null) {
    // a member tag that came from a read is a member BASENAME — strip
    // its container extension so read(a) → write(b) copies m1.nc to
    // m1.nc, not m1.nc.nc (the container option picks the new extension)
    val base = NetcdfV2.MemberExt.replaceFirstIn(cur, "")
    named.put(s"$base.$ext", cur).filter(_ != cur).foreach { prev =>
      throw new IllegalArgumentException(
        s"netcdf sink: datasets '$prev' and '$cur' both map to member " +
          s"file '$base.$ext' — extension-stripped tags must be unique")
    }
    // taskId-unique temp name: concurrent attempts of the same
    // partition can never collide in staging
    val tmp = new Path(stagingDir, s"$taskId-$base.$ext")
    if (ext == "zarr") ZarrStore.writeMemberStore(fs, tmp, base, buf.toSeq)
    else {
      val bytes = NetcdfSource.buildMemberBytesMulti(base, buf.toSeq,
        hdf5 = ext == "h5")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
    }
    moves += ((tmp.toString, s"$base.$ext", cur))
    buf.clear()
  }

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(ords.ds) && !row.isNullAt(ords.vr) &&
      !row.isNullAt(ords.la) && !row.isNullAt(ords.lo) &&
      !row.isNullAt(ords.va),
      "netcdf sink: dataset/variable/lat/lon/value must be non-null")
    val ds = row.getUTF8String(ords.ds).toString
    if (ds != cur) { flush(); cur = ds }
    val t = if (row.isNullAt(ords.tm)) NetcdfSource.NoTime
            else row.getLong(ords.tm)
    buf += ((row.getUTF8String(ords.vr).toString, t,
      row.getDouble(ords.la), row.getDouble(ords.lo),
      row.getDouble(ords.va)))
  }

  override def commit(): WriterCommitMessage = { flush(); NcCommit(moves.toSeq) }
  override def abort(): Unit =
    moves.foreach { case (tmp, _, _) => fs.delete(new Path(tmp), true) }
  override def close(): Unit = fs.close() // private instance — must close
}
