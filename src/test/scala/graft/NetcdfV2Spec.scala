package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Hdf5Classic, NcCatalog, NetcdfClassic, NetcdfV2, ZarrStore}
import graft.sources.NetcdfClassic.{NcAttr, NcDim}

/** The DataSourceV2 `netcdf` format: every pushdown law is equality
  * against the UNFILTERED read made pushdown-free by `localCheckpoint()`
  * and then filtered or aggregated by Spark itself (the unfiltered read
  * is pinned to literal fixture values, and oracled end-to-end by the
  * graded grid keys), plus destructive proofs that pushdown
  * genuinely prunes — a garbage member file is INVISIBLE behind a
  * `dataset` filter (never opened) and fatal without one. The
  * NaN / -0.0 fixtures pin the scan's Spark-exact comparison semantics
  * (`SQLOrderingUtil.compareDoubles`): pushed filters are claimed
  * fully-handled, so a single coordinate Spark would keep but the scan
  * drops (or vice versa) is a wrong-results bug, not a perf bug. */
class NetcdfV2Spec extends AnyFunSuite with SparkSuite {
  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"ncv2-$tag").toString

  /** 3-D classic member: time(nt) × lat(2) × lon(3), values bias+i. */
  private def writeClassic(path: String, nt: Int, bias: Double,
                           lats: Array[Double] = Array(0.0, 10.0)): Unit = {
    val lons = Array(100.0, 110.0, 120.0)
    val times = Array.tabulate(nt)(_.toDouble)
    val data = Array.tabulate(nt * 2 * 3)(i => bias + i.toDouble)
    val bytes = NetcdfClassic.write(
      dims = Seq(NcDim("time", nt), NcDim("lat", 2), NcDim("lon", 3)),
      vars = Seq(
        ("time", Seq(0), Seq(NcAttr("units", "days since 1970-01-01")), times),
        ("lat", Seq(1), Nil, lats),
        ("lon", Seq(2), Nil, lons),
        ("tas", Seq(0, 1, 2), Nil, data)))
    Files.write(Paths.get(path), bytes)
  }

  private def dsv2(path: String, vars: Option[String] = None): DataFrame = {
    val r = spark.read.format("netcdf")
    vars.foreach(v => r.option("vars", v))
    r.load(path)
  }

  /** The reference side of every pushdown law: the unfiltered read,
    * materialized so no later filter or aggregate can reach the scan. */
  private def reference(path: String, vars: String = "tas"): DataFrame =
    dsv2(path, Some(vars)).localCheckpoint()

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.mkString("|"))

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema.fieldNames.toSeq == b.schema.fieldNames.toSeq)
    assert(sortedRows(a) == sortedRows(b))
  }

  /** Strip the container extension off `dataset` (a read emits file
    * basenames; the sink writes extension-less member tags). */
  private def tagged(df: DataFrame): DataFrame = df.withColumn("dataset",
    regexp_replace(col("dataset"), "\\.(nc|h5|zarr)$", ""))

  test("multi-path load(p1, p2) unions the file lists; overlap dedups") {
    val tmp = tmpDir("multipath")
    writeClassic(s"$tmp/m1.nc", nt = 2, bias = 0.0)
    writeClassic(s"$tmp/m2.nc", nt = 3, bias = 100.0)
    val both = spark.read.format("netcdf").load(s"$tmp/m1.nc", s"$tmp/m2.nc")
    val glob = spark.read.format("netcdf").load(s"$tmp/*.nc")
    assertSame(both, glob)
    // the same file arriving through two paths is ONE partition's rows
    val dup = spark.read.format("netcdf").load(s"$tmp/m1.nc", s"$tmp/m1.nc")
    assertSame(dup, spark.read.format("netcdf").load(s"$tmp/m1.nc"))
    // multi-path composes with planning-time dataset pruning
    val pruned = both.where(col("dataset") === "m2.nc")
    assertSame(pruned, spark.read.format("netcdf").load(s"$tmp/m2.nc")
      .where(col("dataset") === "m2.nc"))
  }

  test("short name 'netcdf' registers through ServiceLoader") {
    val tmp = tmpDir("reg")
    writeClassic(s"$tmp/m1.nc", nt = 1, bias = 0.0)
    assert(dsv2(s"$tmp/m1.nc").count() == 6)
    // a DSv2 scan leaves input_file_name() empty (the withPathFields
    // caveat): the member's basename rides in `dataset` instead
    assert(dsv2(s"$tmp/m1.nc").select(input_file_name(), col("dataset"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq == Seq(("", "m1.nc")))
  }

  test("unfiltered DSv2 == readGrid on a mixed classic+hdf5 archive") {
    val tmp = tmpDir("mixed")
    writeClassic(s"$tmp/m1.nc", nt = 2, bias = 100.0)
    // hdf5 member via the real distributed sink
    import spark.implicits._
    val rows = for (t <- 0 until 2; la <- Seq(0.0, 10.0);
                    lo <- Seq(100.0, 110.0, 120.0))
      yield ("m2", new java.sql.Timestamp(t * 86400000L), la, lo,
        (t * 6 + la / 10 * 3 + (lo - 100) / 10) * 1.5)
    Ensemble.of(rows.toDF("dataset", "time", "lat", "lon", "value"))
      .toNetcdf(tmp, varName = "tas", hdf5 = true)
    // the reference is the literal fixture: writeClassic's row-major
    // bias+i cells and the sink's input rows, with reader basenames
    val classic = for (t <- 0 until 2; (la, li) <- Seq(0.0, 10.0).zipWithIndex;
                       (lo, oi) <- Seq(100.0, 110.0, 120.0).zipWithIndex)
      yield ("m1.nc", "tas", new java.sql.Timestamp(t * 86400000L), la, lo,
        100.0 + (t * 2 + li) * 3 + oi)
    val expect = (classic ++ rows.map { case (_, t, la, lo, v) =>
      ("m2.h5", "tas", t, la, lo, v) })
      .toDF("dataset", "variable", "time", "lat", "lon", "value")
    assertSame(dsv2(s"$tmp/*", vars = Some("tas")), expect)
  }

  test("pushed lat/lon/time range == readGrid.filter, and the filters are FULLY handled") {
    val tmp = tmpDir("push")
    writeClassic(s"$tmp/m1.nc", nt = 3, bias = 0.0)
    val t1 = java.sql.Timestamp.valueOf("1970-01-02 00:00:00")
    def pred(df: DataFrame): DataFrame =
      df.filter(col("lat") >= 5.0 && col("lon") <= 115.0 && col("time") >= t1)
    val v2 = pred(dsv2(s"$tmp/m1.nc", Some("tas")))
    assertSame(v2, pred(reference(s"$tmp/m1.nc")))
    assert(v2.count() == 4) // lat=10 × lon∈{100,110} × t∈{day1,day2}
    // explain carries the pushed atoms; the physical plan has NO
    // residual Filter (every conjunct was accepted as exact)
    val plan = v2.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThanOrEqual(lat,5.0)"), plan)
    assert(plan.contains("LessThanOrEqual(lon,115.0)"), plan)
    assert(!plan.contains("Filter ("), s"expected no residual Filter:\n$plan")
  }

  test("NaN coordinate: pushed one-sided bounds keep Spark's NaN-greatest semantics") {
    val tmp = tmpDir("nan")
    writeClassic(s"$tmp/m1.nc", nt = 1, bias = 0.0,
      lats = Array(Double.NaN, 10.0))
    val grid = reference(s"$tmp/m1.nc")
    val v2 = dsv2(s"$tmp/m1.nc", Some("tas"))
    // NaN >= 5.0 is TRUE in Spark (NaN greatest): the NaN-lat rows stay
    val kept = v2.filter(col("lat") >= 5.0)
    assertSame(kept, grid.filter(col("lat") >= 5.0))
    assert(kept.filter(isnan(col("lat"))).count() == 3)
    // NaN <= 125.0 is FALSE: they drop
    assertSame(v2.filter(col("lat") <= 125.0),
      grid.filter(col("lat") <= 125.0))
    // NaN = NaN is TRUE in Spark SQL
    assertSame(v2.filter(col("lat") === Double.NaN),
      grid.filter(col("lat") === Double.NaN))
    assert(v2.filter(col("lat") === Double.NaN).count() == 3)
  }

  test("-0.0 coordinate compares equal to 0.0 under pushdown, like Spark") {
    val tmp = tmpDir("negz")
    writeClassic(s"$tmp/m1.nc", nt = 1, bias = 0.0,
      lats = Array(-0.0, 10.0))
    val grid = reference(s"$tmp/m1.nc")
    val v2 = dsv2(s"$tmp/m1.nc", Some("tas"))
    for (p <- Seq(col("lat") >= 0.0, col("lat") === 0.0, col("lat") <= 0.0))
      assertSame(v2.filter(p), grid.filter(p))
    assert(v2.filter(col("lat") === 0.0).count() == 3) // the -0.0 row band
  }

  test("dataset pushdown prunes FILES: a garbage member is invisible behind the filter") {
    val tmp = tmpDir("fileprune")
    writeClassic(s"$tmp/m1.nc", nt = 1, bias = 7.0)
    Files.write(Paths.get(s"$tmp/broken.nc"),
      "not a grid file at all, long enough to not be truncated".getBytes)
    // unfiltered: the broken member must THROW (named magic error —
    // never silently skipped at 100 TB ingest)
    intercept[Exception](dsv2(s"$tmp/*.nc", Some("tas")).count())
    // dataset-filtered: broken.nc is pruned at PLANNING time — never
    // even opened, so the same scan succeeds
    val good = dsv2(s"$tmp/*.nc", Some("tas"))
      .filter(col("dataset") === "m1.nc")
    assert(good.count() == 6)
    assert(good.agg(sum("value")).head.getDouble(0) == (7 * 6 + 15))
    // IN-list form prunes the same way
    assert(dsv2(s"$tmp/*.nc", Some("tas"))
      .filter(col("dataset").isin("m1.nc")).count() == 6)
  }

  test("variable discovery + variable pushdown on a multi-var hdf5 file") {
    val tmp = tmpDir("vars")
    val bytes = Hdf5Classic.write(
      dims = Seq(NcDim("lat", 2), NcDim("lon", 3)),
      vars = Seq(
        ("lat", Seq(0), Nil, Array(0.0, 10.0)),
        ("lon", Seq(1), Nil, Array(100.0, 110.0, 120.0)),
        ("pr", Seq(0, 1), Nil, Array(1.0, 2, 3, 4, 5, 6)),
        ("tas", Seq(0, 1), Nil, Array(10.0, 20, 30, 40, 50, 60))))
    Files.write(Paths.get(s"$tmp/m1.h5"), bytes)
    // no vars option → both data variables discovered (sorted), axes excluded
    val all = dsv2(s"$tmp/m1.h5")
    assert(all.select("variable").distinct().collect().map(_.getString(0))
      .sorted.toSeq == Seq("pr", "tas"))
    assert(all.count() == 12)
    // variable === 'tas' prunes pr entirely
    val tas = all.filter(col("variable") === "tas")
    assert(tas.count() == 6)
    assert(tas.agg(sum("value")).head.getDouble(0) == 210.0)
    // static grid ⇒ null time; discovery == the explicit `vars` list
    assertSame(all, dsv2(s"$tmp/m1.h5", Some("pr,tas")))
    assert(all.filter(col("time").isNotNull).count() == 0)
  }

  test("time null-semantics: IsNotNull skips static grids, isNull keeps only them") {
    val tmp = tmpDir("tnull")
    // one static hdf5 member + one 3-D classic member, same variable name
    val bytes = Hdf5Classic.write(
      dims = Seq(NcDim("lat", 2), NcDim("lon", 3)),
      vars = Seq(
        ("lat", Seq(0), Nil, Array(0.0, 10.0)),
        ("lon", Seq(1), Nil, Array(100.0, 110.0, 120.0)),
        ("tas", Seq(0, 1), Nil, Array(1.0, 2, 3, 4, 5, 6))))
    Files.write(Paths.get(s"$tmp/s.h5"), bytes)
    writeClassic(s"$tmp/m1.nc", nt = 2, bias = 0.0)
    val v2 = dsv2(s"$tmp/*", Some("tas"))
    val grid = reference(s"$tmp/*")
    assertSame(v2, grid)
    assertSame(v2.filter(col("time").isNotNull), grid.filter(col("time").isNotNull))
    assertSame(v2.filter(col("time").isNull), grid.filter(col("time").isNull))
    assert(v2.filter(col("time").isNull).count() == 6)
    // a time range also drops the static member (NULL fails any cmp)
    val t0 = java.sql.Timestamp.valueOf("1970-01-01 00:00:00")
    assertSame(v2.filter(col("time") >= t0), grid.filter(col("time") >= t0))
    assert(v2.filter(col("time") >= t0).count() == 12)
  }

  test("column pruning reaches the scan (ReadSchema narrows); projected reads stay correct") {
    val tmp = tmpDir("prune")
    writeClassic(s"$tmp/m1.nc", nt = 1, bias = 3.0)
    val narrow = dsv2(s"$tmp/m1.nc", Some("tas")).select("lat", "value")
    val plan = narrow.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<lat:double,value:double>"), plan)
    assert(narrow.collect().map(r => (r.getDouble(0), r.getDouble(1))).sorted
      .toSeq == Seq((0.0, 3.0), (0.0, 4.0), (0.0, 5.0),
        (10.0, 6.0), (10.0, 7.0), (10.0, 8.0)))
    // degenerate projection: count(*) pushes an EMPTY read schema
    assert(dsv2(s"$tmp/m1.nc", Some("tas")).count() == 6)
  }

  test("value predicates and OR trees stay residual — correct, just unpruned") {
    val tmp = tmpDir("resid")
    writeClassic(s"$tmp/m1.nc", nt = 1, bias = 0.0)
    val v2 = dsv2(s"$tmp/m1.nc", Some("tas"))
    val grid = reference(s"$tmp/m1.nc")
    for (p <- Seq(col("value") > 2.0,
                  col("lat") === 0.0 || col("lon") === 120.0))
      assertSame(v2.filter(p), grid.filter(p))
  }

  test("contradictory variable equalities intersect to an empty scan") {
    val tmp = tmpDir("contra")
    writeClassic(s"$tmp/m1.nc", nt = 1, bias = 0.0)
    assert(dsv2(s"$tmp/m1.nc", Some("tas"))
      .filter(col("variable") === "tas" && col("variable") === "other")
      .count() == 0)
  }

  test("no matching files rejects by name; pruned-to-zero is an empty frame") {
    val tmp = tmpDir("none")
    val e = intercept[Exception](
      dsv2(s"$tmp/*.nc", Some("tas")).count())
    assert(e.getMessage != null && e.getMessage.contains("no files match"))
    writeClassic(s"$tmp/m1.nc", nt = 1, bias = 0.0)
    assert(dsv2(s"$tmp/*.nc", Some("tas"))
      .filter(col("dataset") === "absent.nc").count() == 0)
  }

  test("load(dir) reads a sink directory's members; an emptied one is an empty archive") {
    val tmp = tmpDir("listing")
    val rows = longForm(Seq(("x", "tas", ts(0), 0.0, 100.0, 1.0),
      ("x", "tas", ts(1), 10.0, 110.0, 2.0)))
    for ((tag, container) <- Seq("h" -> "hdf5", "c" -> "classic", "z" -> "zarr"))
      rows.withColumn("dataset", lit(tag))
        .write.format("netcdf").option("container", container)
        .mode("append").save(tmp)
    // beside the members: a sink's staging dir (holding a member-named
    // garbage file) and a catalog manifest — neither is a member
    val staging = new java.io.File(tmp, ".graft-staging-x"); staging.mkdirs()
    Files.write(Paths.get(staging.getPath, "g.h5"), Array[Byte](1, 2, 3))
    val manifest = new java.io.File(tmp, "_manifest"); manifest.mkdirs()
    Files.write(Paths.get(manifest.getPath, "part-0.json"), "{}".getBytes("UTF-8"))
    val byPath = spark.read.format("netcdf")
      .load(s"$tmp/h.h5", s"$tmp/c.nc", s"$tmp/z.zarr")
    assert(byPath.count() == 6)
    assertSame(dsv2(tmp), byPath)
    // an overwrite with no rows truncates every member: zero members
    rows.limit(0).write.format("netcdf").mode("overwrite").save(tmp)
    assert(dsv2(tmp).count() == 0)
    val n = dsv2(tmp).agg(count(lit(1)).as("n"))
    assert(!hasAggregate(n), "zero members must push completely:\n" +
      n.queryExecution.optimizedPlan)
    assert(aggRow(n) == Seq(0L))
    assert(dsv2(tmp).groupBy("dataset").agg(count(lit(1))).collect().isEmpty)
    NcCatalog.buildManifest(spark, tmp, manifest.getPath)
    assert(NcCatalog.catalog(spark, manifest.getPath).count() == 0)
  }

  // ---- write side -----------------------------------------------------

  private def longForm(rows: Seq[(String, String, java.sql.Timestamp,
      Double, Double, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("dataset", "variable", "time", "lat", "lon", "value")
  }

  private def ts(day: Int): java.sql.Timestamp =
    new java.sql.Timestamp(day * 86400000L)

  test("write → read round-trip: one member file per dataset, multi-variable") {
    val tmp = tmpDir("wrt")
    val rows = for {
      ds <- Seq("m1", "m2"); v <- Seq("pr", "tas")
      t <- 0 to 1; la <- Seq(0.0, 10.0); lo <- Seq(100.0, 110.0)
    } yield (ds, v, ts(t),
      la, lo, (if (v == "pr") 1000.0 else 0.0) +
        (if (ds == "m2") 500.0 else 0.0) + t * 8 + la / 10 * 2 + (lo - 100) / 10)
    val df = longForm(rows)
    // deliberately mis-partitioned input: RequiresDistributionAndOrdering
    // must make Spark re-cluster by dataset before the writers run
    df.repartition(5).write.format("netcdf").mode("append").save(tmp)
    val files = new java.io.File(tmp).listFiles().map(_.getName).sorted
    assert(files.toSeq == Seq("m1.h5", "m2.h5"),
      s"expected one member per dataset and NO staging residue: ${files.toSeq}")
    assertSame(tagged(dsv2(s"$tmp/*")), df)
    // and the explicit `vars` list agrees with per-file discovery
    assertSame(tagged(dsv2(s"$tmp/*", Some("pr,tas"))), df)
  }

  test("read → write is an archive COPY (mixed-format input, classic output)") {
    val src = tmpDir("copysrc"); val dst = tmpDir("copydst")
    writeClassic(s"$src/m1.nc", nt = 2, bias = 100.0)
    writeClassic(s"$src/m2.nc", nt = 2, bias = 0.0)
    val a = dsv2(s"$src/*", Some("tas"))
    a.write.format("netcdf").option("container", "classic")
      .mode("append").save(dst)
    val files = new java.io.File(dst).listFiles().map(_.getName).sorted
    assert(files.toSeq == Seq("m1.nc", "m2.nc"))
    // copied archive reads identically (dataset basenames match because
    // the sink names members <dataset>.<ext> and dataset was the
    // source basename... minus the extension difference — compare on
    // the extension-stripped tag)
    assertSame(tagged(dsv2(s"$dst/*", Some("tas"))), tagged(a))
  }

  test("overwrite truncates prior members; append replaces same-name only") {
    val tmp = tmpDir("modes")
    longForm(Seq(("m1", "tas", ts(0), 0.0, 100.0, 1.0)))
      .write.format("netcdf").mode("append").save(tmp)
    longForm(Seq(("m2", "tas", ts(0), 0.0, 100.0, 2.0)))
      .write.format("netcdf").mode("append").save(tmp)
    assert(new java.io.File(tmp).listFiles().map(_.getName).sorted.toSeq ==
      Seq("m1.h5", "m2.h5"))
    // append with an existing member name REPLACES that member
    longForm(Seq(("m2", "tas", ts(0), 0.0, 100.0, 7.0)))
      .write.format("netcdf").mode("append").save(tmp)
    assert(dsv2(s"$tmp/*").filter(col("dataset") === "m2.h5")
      .select("value").head.getDouble(0) == 7.0)
    // overwrite drops every prior member
    longForm(Seq(("m3", "tas", ts(0), 0.0, 100.0, 3.0)))
      .write.format("netcdf").mode("overwrite").save(tmp)
    assert(new java.io.File(tmp).listFiles().map(_.getName).toSeq ==
      Seq("m3.h5"))
    // the same laws for Zarr stores; a same-name store is replaced
    // WHOLE, so a smaller grid leaves no stale chunk file behind
    val zs = tmpDir("zmodes")
    def zarr(mode: String, rows: (String, String, java.sql.Timestamp,
        Double, Double, Double)*): Unit =
      longForm(rows).write.format("netcdf").option("container", "zarr")
        .mode(mode).save(zs)
    zarr("append", ("m1", "tas", ts(0), 0.0, 100.0, 1.0),
      ("m1", "tas", ts(1), 0.0, 100.0, 1.5))
    zarr("append", ("m2", "tas", ts(0), 0.0, 100.0, 2.0))
    assert(new java.io.File(zs).listFiles().map(_.getName).sorted.toSeq ==
      Seq("m1.zarr", "m2.zarr"))
    assert(Files.exists(Paths.get(s"$zs/m1.zarr/tas/1.0.0")))
    zarr("append", ("m1", "tas", ts(0), 0.0, 100.0, 7.0))
    assert(dsv2(s"$zs/*").filter(col("dataset") === "m1.zarr")
      .select("value").collect().map(_.getDouble(0)).toSeq == Seq(7.0))
    assert(!Files.exists(Paths.get(s"$zs/m1.zarr/tas/1.0.0")),
      "the replaced store kept a stale chunk file")
    assert(dsv2(s"$zs/*").filter(col("dataset") === "m2.zarr")
      .select("value").head.getDouble(0) == 2.0)
    zarr("overwrite", ("m3", "tas", ts(0), 0.0, 100.0, 3.0))
    assert(new java.io.File(zs).listFiles().map(_.getName).toSeq ==
      Seq("m3.zarr"))
  }

  test("sink rejections are named: null dataset, mixed times, duplicate cells") {
    val tmp = tmpDir("wrej")
    val exN = intercept[Exception](longForm(
      Seq((null, "tas", ts(0), 0.0, 100.0, 1.0)))
      .write.format("netcdf").mode("append").save(tmp))
    assert(exN.getMessage.contains("non-null"))
    val exM = intercept[Exception](longForm(
      Seq(("m", "tas", ts(0), 0.0, 100.0, 1.0),
          ("m", "tas", null, 0.0, 100.0, 2.0)))
      .write.format("netcdf").mode("append").save(tmp))
    assert(exM.getMessage.contains("mixes null and non-null times"))
    val exD = intercept[Exception](longForm(
      Seq(("m", "tas", ts(0), 0.0, 100.0, 1.0),
          ("m", "tas", ts(0), 0.0, 100.0, 2.0)))
      .write.format("netcdf").mode("append").save(tmp))
    assert(exD.getMessage.contains("duplicate rows"))
    // failed jobs leave NO destination members and NO staging residue
    val left = Option(new java.io.File(tmp).listFiles()).getOrElse(Array.empty)
    assert(left.forall(f => f.isDirectory && f.getName.startsWith(".graft-staging")) || left.isEmpty,
      s"aborted write left residue: ${left.map(_.getName).toSeq}")
  }

  test("a variable absent from some cells writes NaN-filled and masks back on read") {
    val tmp = tmpDir("sparse")
    // tas covers 2×2 cells, pr covers only one: the shared-axes union
    // NaN-fills pr's other cells and mask-and-scale drops them on read
    val rows = Seq(
      ("m", "tas", ts(0), 0.0, 100.0, 1.0), ("m", "tas", ts(0), 0.0, 110.0, 2.0),
      ("m", "tas", ts(0), 10.0, 100.0, 3.0), ("m", "tas", ts(0), 10.0, 110.0, 4.0),
      ("m", "pr", ts(0), 10.0, 110.0, 9.0))
    longForm(rows).write.format("netcdf").mode("append").save(tmp)
    assertSame(tagged(dsv2(s"$tmp/*")), longForm(rows))
  }

  test("variable discovery is PER FILE: a variable only some members carry still reads") {
    val tmp = tmpDir("perfile")
    // member A: only tas. member B: tas AND pr. First-file discovery
    // would drop pr (or crash, depending on listing order) — per-file
    // discovery reads each member's own variable set.
    writeClassic(s"$tmp/a.nc", nt = 1, bias = 0.0)
    val bytes = Hdf5Classic.write(
      dims = Seq(NcDim("lat", 2), NcDim("lon", 3)),
      vars = Seq(
        ("lat", Seq(0), Nil, Array(0.0, 10.0)),
        ("lon", Seq(1), Nil, Array(100.0, 110.0, 120.0)),
        ("pr", Seq(0, 1), Nil, Array(1.0, 2, 3, 4, 5, 6)),
        ("tas", Seq(0, 1), Nil, Array(10.0, 20, 30, 40, 50, 60))))
    Files.write(Paths.get(s"$tmp/b.h5"), bytes)
    val all = dsv2(s"$tmp/*")
    assert(all.count() == 6 + 12)
    assert(all.filter(col("variable") === "pr").count() == 6)
    // and pr rows come only from b.h5
    assert(all.filter(col("variable") === "pr")
      .select("dataset").distinct().head.getString(0) == "b.h5")
  }

  test("overwrite that switches containers truncates the other extension too") {
    val tmp = tmpDir("xcont")
    longForm(Seq(("m1", "tas", ts(0), 0.0, 100.0, 1.0)))
      .write.format("netcdf").option("container", "classic")
      .mode("append").save(tmp)
    assert(new java.io.File(tmp).listFiles().map(_.getName).toSeq == Seq("m1.nc"))
    longForm(Seq(("m1", "tas", ts(0), 0.0, 100.0, 2.0)))
      .write.format("netcdf").option("container", "hdf5")
      .mode("overwrite").save(tmp)
    assert(new java.io.File(tmp).listFiles().map(_.getName).toSeq == Seq("m1.h5"),
      "the stale classic member must not survive an overwrite")
    longForm(Seq(("m1", "tas", ts(0), 0.0, 100.0, 3.0)))
      .write.format("netcdf").option("container", "zarr")
      .mode("overwrite").save(tmp)
    assert(new java.io.File(tmp).listFiles().map(_.getName).toSeq == Seq("m1.zarr"),
      "the stale hdf5 member must not survive an overwrite")
    longForm(Seq(("m1", "tas", ts(0), 0.0, 100.0, 4.0)))
      .write.format("netcdf").option("container", "classic")
      .mode("overwrite").save(tmp)
    assert(new java.io.File(tmp).listFiles().map(_.getName).toSeq == Seq("m1.nc"),
      "the stale zarr store must not survive an overwrite")
  }

  test("zarr container: a two-variable member round-trips on the union axes with NaN fill") {
    val tmp = tmpDir("zmulti")
    // tas covers 2 times × 2 × 2 cells, pr one cell of the last time
    val rows = (for (t <- 0 to 1; la <- Seq(0.0, 10.0); lo <- Seq(100.0, 110.0))
      yield ("m", "tas", ts(t), la, lo, t * 4 + la / 10 * 2 + (lo - 100) / 10)) :+
      (("m", "pr", ts(1), 10.0, 110.0, 9.0))
    longForm(rows).write.format("netcdf").option("container", "zarr")
      .mode("append").save(tmp)
    assert(new java.io.File(tmp).listFiles().map(_.getName).toSeq == Seq("m.zarr"))
    for (v <- Seq("pr", "tas")) {
      val meta = ZarrStore.parseArrayMeta(new String(
        Files.readAllBytes(Paths.get(s"$tmp/m.zarr/$v/.zarray"))))
      assert(meta.dtype == "<f8" && meta.shape == Seq(2, 2, 2) &&
        meta.fill.exists(_.isNaN), s"$v: $meta")
    }
    assertSame(tagged(dsv2(s"$tmp/*")), longForm(rows))
  }

  test("zarr container: a failing write leaves the destination's prior stores untouched and no staging dir") {
    val tmp = tmpDir("zfail")
    def zarr(mode: String, rows: (String, String, java.sql.Timestamp,
        Double, Double, Double)*): Unit =
      longForm(rows).write.format("netcdf").option("container", "zarr")
        .mode(mode).save(tmp)
    zarr("append", ("m1", "tas", ts(0), 0.0, 100.0, 1.0),
      ("m2", "tas", ts(0), 0.0, 100.0, 2.0))
    // every file and directory under the destination, with its bytes
    def tree(): Map[String, Seq[Byte]] = {
      import scala.jdk.CollectionConverters._
      val root = Paths.get(tmp)
      val st = Files.walk(root)
      try st.iterator().asScala.map(p => root.relativize(p).toString ->
        (if (Files.isDirectory(p)) Seq.empty[Byte] else Files.readAllBytes(p).toSeq))
        .toMap
      finally st.close()
    }
    val before = tree()
    assert(before.keySet.exists(_.startsWith("m2.zarr/tas/")))
    for (mode <- Seq("append", "overwrite")) {
      // the second member has a duplicate cell
      val ex = intercept[Exception](zarr(mode,
        ("m1", "tas", ts(0), 0.0, 100.0, 5.0),
        ("m2", "tas", ts(0), 0.0, 100.0, 6.0),
        ("m2", "tas", ts(0), 0.0, 100.0, 7.0)))
      assert(ex.getMessage.contains("duplicate rows"))
      assert(tree() == before, s"a failed $mode write changed the destination")
    }
  }

  test("dataset tags that collide after extension stripping reject by name") {
    val tmp = tmpDir("collide")
    val ex = intercept[Exception](longForm(Seq(
      ("m1", "tas", ts(0), 0.0, 100.0, 1.0),
      ("m1.nc", "tas", ts(0), 0.0, 100.0, 2.0)))
      .coalesce(1) // force both tags into one task regardless of clustering
      .write.format("netcdf").mode("append").save(tmp))
    assert(ex.getMessage.contains("extension-stripped tags must be unique"))
  }

  test("readStream: new members arrive as micro-batches; the checkpoint skips seen files") {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = tmpDir("stream"); val ckpt = tmpDir("streamckpt")
    val sink = tmpDir("streamsink")
    writeClassic(s"$tmp/m1.nc", nt = 1, bias = 0.0)
    def runOnce(): Unit = {
      // parquet sink: checkpoint-recoverable, so each runOnce RESUMES
      // the same logical query and must only see unseen member files
      val q = spark.readStream.format("netcdf").option("vars", "tas")
        .load(s"$tmp/*.nc")
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.Once()).start()
      q.awaitTermination()
    }
    def byDataset(): Map[String, Long] =
      spark.read.parquet(sink).groupBy("dataset").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    runOnce()
    assert(byDataset() == Map("m1.nc" -> 6L))
    // a second member lands; the SAME checkpoint reads ONLY the new file
    writeClassic(s"$tmp/m2.nc", nt = 1, bias = 100.0)
    runOnce()
    assert(byDataset() == Map("m1.nc" -> 6L, "m2.nc" -> 6L),
      "resume must append exactly the new member, not re-read m1")
    // nothing new → an empty batch, not an error and no duplicates
    runOnce()
    assert(byDataset() == Map("m1.nc" -> 6L, "m2.nc" -> 6L))
  }

  test("admission control: a 9-member backlog drains 2 files per batch " +
    "and checkpoint offsets stay bounded by the landing window, not the archive") {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = tmpDir("streamadm"); val ckpt = tmpDir("streamadmck")
    val sink = tmpDir("streamadmsink")
    val n = 9
    (0 until n).foreach { i =>
      val p = s"$tmp/m$i.nc"
      writeClassic(p, nt = 1, bias = i * 10.0)
      // staggered mtimes: with slack=0 every offset's recent-set holds
      // only the files sharing the newest admitted mtime (here: 1)
      assert(new java.io.File(p).setLastModified(1700000000000L + i * 10000L))
    }
    val q = spark.readStream.format("netcdf").option("vars", "tas")
      .option("maxFilesPerTrigger", "2")
      .option("mtimeSlackMs", "0")
      .load(s"$tmp/*.nc")
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // all 9 members available at start, yet ceil(9/2)=5 rate-limited batches
    val commits = new java.io.File(ckpt, "commits").list()
      .filter(s => s.nonEmpty && s.forall(_.isDigit)).map(_.toLong).sorted.toSeq
    assert(commits == (0L until 5L),
      s"expected 5 rate-limited batches, committed: ${commits.mkString(",")}")
    assert(spark.read.parquet(sink).select("dataset").distinct().count() == n)
    // the compaction law: every checkpointed offset pins at most the
    // files at the watermark (1 here), never the full 9-member history
    import org.json4s._
    val offDir = new java.io.File(ckpt, "offsets")
    val offFiles = offDir.list().filter(s => s.nonEmpty && s.forall(_.isDigit))
    assert(offFiles.nonEmpty)
    offFiles.foreach { name =>
      val lines = scala.io.Source.fromFile(new java.io.File(offDir, name))
        .getLines().toSeq
      val off = org.json4s.jackson.JsonMethods.parse(lines.last)
      val recent = (off \ "recent") match {
        case JArray(xs) => xs
        case other => fail(s"offset $name has no recent array: $other")
      }
      assert(recent.size <= 2,
        s"offset $name pins ${recent.size} files — watermark compaction broken")
      assert((off \ "wm").isInstanceOf[JInt], s"offset $name lacks a watermark")
    }
  }

  test("a restart with a NARROWER mtimeSlackMs keeps the checkpoint's slack: " +
    "late-mtime backlog is admitted, never silently swallowed") {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = tmpDir("streamslack"); val ckpt = tmpDir("streamslackck")
    val sink = tmpDir("streamslacksink")
    val t0 = 1700000000000L
    // m0 processed under the DEFAULT slack (5 min): wm = t0
    writeClassic(s"$tmp/m0.nc", nt = 1, bias = 0.0)
    assert(new java.io.File(s"$tmp/m0.nc").setLastModified(t0))
    val q1 = spark.readStream.format("netcdf").option("vars", "tas")
      .load(s"$tmp/*.nc")
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()
    // two stragglers land with mtimes BEHIND the watermark (clock skew /
    // slow copy), inside the recorded 5-min slack window
    writeClassic(s"$tmp/m1.nc", nt = 1, bias = 10.0)
    assert(new java.io.File(s"$tmp/m1.nc").setLastModified(t0 - 120000L))
    writeClassic(s"$tmp/m2.nc", nt = 1, bias = 20.0)
    assert(new java.io.File(s"$tmp/m2.nc").setLastModified(t0 - 180000L))
    // restart with mtimeSlackMs=0 and a 1-file cap: batch 1 admits the
    // OLDEST straggler (m2). Pre-r16-review, the NEW offset was built
    // with the session's slack (0) — floor jumped to wm, classifying
    // the still-pending m1 (mtime < wm) as seen → silently dropped.
    // The checkpoint's recorded slack must win.
    val q2 = spark.readStream.format("netcdf").option("vars", "tas")
      .option("maxFilesPerTrigger", "1")
      .option("mtimeSlackMs", "0")
      .load(s"$tmp/*.nc")
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val byDs = spark.read.parquet(sink).groupBy("dataset").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDs == Map("m0.nc" -> 6L, "m1.nc" -> 6L, "m2.nc" -> 6L),
      s"narrower-slack restart swallowed backlog: $byDs")
  }

  test("a legacy v1 path-array checkpoint offset resumes without re-reading") {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = tmpDir("streamleg"); val ckpt = tmpDir("streamlegck")
    val sink = tmpDir("streamlegsink")
    writeClassic(s"$tmp/m1.nc", nt = 1, bias = 0.0)
    def runOnce(): Unit = {
      val q = spark.readStream.format("netcdf").option("vars", "tas")
        .load(s"$tmp/*.nc")
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    // rewrite batch 0's source offset into the pre-r16 v1 form: the
    // bare JSON array of every emitted path
    val offFile = new java.io.File(ckpt, "offsets/0")
    val lines = scala.io.Source.fromFile(offFile).getLines().toVector
    // reuse the exact path strings the v2 offset recorded (Hadoop's
    // Path.toString form) so the v1 set matches the listing verbatim
    val v2 = org.json4s.jackson.JsonMethods.parse(lines.last)
    val recorded = (v2 \ "recent") match {
      case org.json4s.JArray(xs) => xs
      case other => fail(s"batch-0 offset has no recent array: $other")
    }
    assert(recorded.nonEmpty)
    val legacy = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(org.json4s.JArray(recorded)))
    // the offset json is the last line; metadata lines stay untouched
    val rewritten = lines.init :+ legacy
    java.nio.file.Files.write(offFile.toPath,
      rewritten.mkString("\n").getBytes("UTF-8"))
    new java.io.File(ckpt, "offsets/.0.crc").delete() // ChecksumFs shadow
    // a second member lands; resume must parse the v1 offset, classify
    // m1 as seen through it, and emit ONLY m2
    writeClassic(s"$tmp/m2.nc", nt = 1, bias = 100.0)
    runOnce()
    val byDs = spark.read.parquet(sink).groupBy("dataset").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDs == Map("m1.nc" -> 6L, "m2.nc" -> 6L),
      s"legacy-offset resume mis-read: $byDs")
  }

  test("a migrated v1 offset keeps the default straggler slack: a file " +
    "landing with an mtime behind the post-migration watermark is not dropped") {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = tmpDir("streamlegslack"); val ckpt = tmpDir("streamlegslackck")
    val sink = tmpDir("streamlegslacksink")
    val t0 = 1700000000000L
    writeClassic(s"$tmp/m1.nc", nt = 1, bias = 0.0)
    assert(new java.io.File(s"$tmp/m1.nc").setLastModified(t0))
    def runOnce(): Unit = {
      val q = spark.readStream.format("netcdf").option("vars", "tas")
        .load(s"$tmp/*.nc")
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    // rewrite batch 0's offset into the pre-r16 v1 path-array form
    val offFile = new java.io.File(ckpt, "offsets/0")
    val lines = scala.io.Source.fromFile(offFile).getLines().toVector
    val v2 = org.json4s.jackson.JsonMethods.parse(lines.last)
    val recorded = (v2 \ "recent") match {
      case org.json4s.JArray(xs) => xs
      case other => fail(s"batch-0 offset has no recent array: $other")
    }
    val legacy = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(org.json4s.JArray(recorded)))
    java.nio.file.Files.write(offFile.toPath,
      (lines.init :+ legacy).mkString("\n").getBytes("UTF-8"))
    new java.io.File(ckpt, "offsets/.0.crc").delete()
    // first post-migration admission: m2 moves the watermark to t0+60s
    writeClassic(s"$tmp/m2.nc", nt = 1, bias = 10.0)
    assert(new java.io.File(s"$tmp/m2.nc").setLastModified(t0 + 60000L))
    runOnce()
    // a straggler lands with an mtime BEHIND that watermark (clock
    // skew / slow copy), inside the default 5-min slack. Pre-r17, the
    // v1 offset parsed with slack 0 and latestOffset inherits the
    // checkpoint's slack — the floor sat AT the watermark and m3 was
    // silently classified seen. v1's own name set-difference would
    // never have dropped it; neither may the migration.
    writeClassic(s"$tmp/m3.nc", nt = 1, bias = 20.0)
    assert(new java.io.File(s"$tmp/m3.nc").setLastModified(t0 + 30000L))
    runOnce()
    val byDs = spark.read.parquet(sink).groupBy("dataset").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDs == Map("m1.nc" -> 6L, "m2.nc" -> 6L, "m3.nc" -> 6L),
      s"v1-migration slack lost — straggler swallowed: $byDs")
  }

  test("crash replay of a batch whose member vanished fails BY NAME " +
    "instead of silently shrinking the batch") {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = tmpDir("streamgone"); val ckpt = tmpDir("streamgoneck")
    val sink = tmpDir("streamgonesink")
    writeClassic(s"$tmp/m1.nc", nt = 1, bias = 0.0)
    def runOnce(): Unit = {
      val q = spark.readStream.format("netcdf").option("vars", "tas")
        .load(s"$tmp/*.nc")
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    writeClassic(s"$tmp/m2.nc", nt = 1, bias = 10.0)
    runOnce()
    // simulate a crash between offset write and commit: drop batch 1's
    // commit so a restart replays it — then the replayed member is
    // MISSING from the listing (eventually-consistent store / manual
    // deletion). planInputPartitions must fail by name, not replay a
    // silently smaller batch.
    assert(new java.io.File(ckpt, "commits/1").delete())
    new java.io.File(ckpt, "commits/.1.crc").delete()
    assert(new java.io.File(s"$tmp/m2.nc").delete())
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("no longer listable") && msgs.contains("m2.nc"),
      s"expected a named missing-member failure, got: $msgs")
  }

  test("readStream on an empty-so-far archive waits instead of erroring") {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = tmpDir("streamempty"); val ckpt = tmpDir("streamemptyck")
    val q = spark.readStream.format("netcdf").option("vars", "tas")
      .load(s"$tmp/*.nc")
      .writeStream.format("memory").queryName("ncse")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.Once()).start()
    q.awaitTermination()
    assert(spark.table("ncse").count() == 0)
  }

  // ---- aggregate pushdown (r15) ------------------------------------

  private def hasAggregate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty

  private def aggRow(df: DataFrame): Seq[Any] = df.collect() match {
    case Array(r) => r.toSeq
    case other => fail(s"expected one aggregate row, got ${other.length}")
  }

  test("agg pushdown COMPLETE: single file, no fill — no Aggregate node, no data decode needed") {
    val tmp = tmpDir("aggc")
    writeClassic(s"$tmp/m1.nc", nt = 3, bias = 0.0) // no _FillValue
    def base = dsv2(s"$tmp/m1.nc", Some("tas"))
      .filter(col("lat") >= 5.0 && col("lon") <= 115.0)
    val pushed = base.agg(count(lit(1)).as("n"), min("lat").as("mla"),
      max("lon").as("xlo"), min("time").as("mt"), max("time").as("xt"))
    assert(!hasAggregate(pushed),
      "single-file COUNT/MIN/MAX must push completely:\n" +
        pushed.queryExecution.optimizedPlan)
    assert(pushed.queryExecution.executedPlan.toString
      .contains("PushedAggregates: ["))
    // values equal the row-path aggregate (which has the Aggregate node)
    val expect = aggRow(reference(s"$tmp/m1.nc")
      .filter(col("lat") >= 5.0 && col("lon") <= 115.0)
      .agg(count(lit(1)), min("lat"), max("lon"), min("time"), max("time")))
    assert(aggRow(pushed) == expect)
  }

  test("agg pushdown respects fill masking: NaN-filled cells count in neither path") {
    val tmp = tmpDir("aggfill")
    // sparse long form → the DSv2 writer NaN-fills the absent cells and
    // DECLARES _FillValue, so a metadata-only count would overcount
    longForm(Seq(
      ("m", "tas", ts(0), 0.0, 100.0, 1.0), ("m", "tas", ts(0), 0.0, 110.0, 2.0),
      ("m", "tas", ts(1), 10.0, 100.0, 3.0)))
      .write.format("netcdf").mode("append").save(tmp)
    val pushed = dsv2(s"$tmp/m.h5", Some("tas")).agg(count(lit(1)).as("n"),
      min("lat").as("mla"), max("lat").as("xla"))
    assert(!hasAggregate(pushed))
    // 2 times × 2 lats × 2 lons = 8 cells, 3 present
    assert(aggRow(pushed) == Seq(3L, 0.0, 10.0))
    // filter keeps only time 0: lat 10 has NO present cell there — an
    // axis-only max(lat) would wrongly say 10.0
    val t0 = dsv2(s"$tmp/m.h5", Some("tas")).filter(col("time") === ts(0))
      .agg(count(lit(1)).as("n"), max("lat").as("xla"))
    assert(!hasAggregate(t0))
    assert(aggRow(t0) == Seq(2L, 0.0))
  }

  test("agg pushdown COMPLETE over multi-file archives: one merged partition, no Aggregate node") {
    val tmp = tmpDir("aggp")
    writeClassic(s"$tmp/m1.nc", nt = 2, bias = 0.0)
    writeClassic(s"$tmp/m2.nc", nt = 3, bias = 100.0)
    val pushed = dsv2(s"$tmp/*.nc", Some("tas"))
      .agg(count(lit(1)).as("n"), min("time").as("mt"), max("time").as("xt"))
    // r16: both members' chunk-metadata answers fold inside ONE reader
    // task — the plan carries no Aggregate at all
    assert(!hasAggregate(pushed),
      "multi-member COUNT/MIN/MAX must push completely:\n" +
        pushed.queryExecution.optimizedPlan)
    assert(pushed.queryExecution.executedPlan.toString
      .contains("PushedAggregates: ["))
    assert(aggRow(pushed) == aggRow(
      reference(s"$tmp/*.nc")
        .agg(count(lit(1)), min("time"), max("time"))))
    // dataset pruning to ONE member stays complete
    val one = dsv2(s"$tmp/*.nc", Some("tas"))
      .filter(col("dataset") === "m2.nc").agg(count(lit(1)).as("n"))
    assert(aggRow(one) == Seq(18L))
    // above the bounded-merge cap the same query falls back to PARTIAL
    // (per-member partial rows, Spark's merge Aggregate on top) with
    // identical values — the 100×-archive path
    val capped = spark.read.format("netcdf").option("vars", "tas")
      .option("completeAggMaxFiles", "1").load(s"$tmp/*.nc")
      .agg(count(lit(1)).as("n"), min("time").as("mt"), max("time").as("xt"))
    assert(hasAggregate(capped), "over-cap archives must merge partially")
    assert(capped.queryExecution.executedPlan.toString
      .contains("PushedAggregates: ["))
    assert(aggRow(capped) == aggRow(pushed))
  }

  test("agg pushdown GROUP BY dataset: per-file readers emit final group rows, no Aggregate node") {
    val tmp = tmpDir("aggg")
    writeClassic(s"$tmp/m1.nc", nt = 2, bias = 0.0)
    writeClassic(s"$tmp/m2.nc", nt = 3, bias = 100.0)
    def grouped(df: DataFrame) = df.groupBy("dataset")
      .agg(count(lit(1)).as("n"), min("lat").as("mla"), max("time").as("xt"))
      .orderBy("dataset")
    val pushed = grouped(dsv2(s"$tmp/*.nc", Some("tas")))
    assert(!hasAggregate(pushed),
      "GROUP BY dataset must push completely (dataset = file identity):\n" +
        pushed.queryExecution.optimizedPlan)
    assert(pushed.queryExecution.executedPlan.toString
      .contains("PushedGroupBy: [dataset]"))
    assertSame(pushed, grouped(reference(s"$tmp/*.nc")))
    // a filter that empties one member SUPPRESSES its group (SQL emits
    // no row for an empty group — a (m1.nc, 0, null, null) row here
    // would be a wrong result, not a formatting choice)
    val jan3 = java.sql.Timestamp.valueOf("1970-01-03 00:00:00")
    val part = grouped(dsv2(s"$tmp/*.nc", Some("tas"))
      .filter(col("time") >= jan3))
    assert(!hasAggregate(part))
    assertSame(part, grouped(reference(s"$tmp/*.nc")
      .filter(col("time") >= jan3)))
    assert(part.collect().map(_.getString(0)).toSeq == Seq("m2.nc"))
  }

  test("agg pushdown GROUP BY dataset with colliding basenames falls back to a merge Aggregate") {
    val tmp = tmpDir("aggcollide")
    val (da, db) = (s"$tmp/a", s"$tmp/b")
    new java.io.File(da).mkdirs(); new java.io.File(db).mkdirs()
    // same member NAME in two directories: dataset is no longer file
    // identity, so complete pushdown would double-emit the group —
    // the builder must detect the collision and let Spark merge
    writeClassic(s"$da/m.nc", nt = 2, bias = 0.0)
    writeClassic(s"$db/m.nc", nt = 3, bias = 100.0)
    val pushed = spark.read.format("netcdf").option("vars", "tas")
      .load(s"$da/m.nc", s"$db/m.nc")
      .groupBy("dataset").agg(count(lit(1)).as("n"), max("time").as("xt"))
    assert(hasAggregate(pushed),
      "colliding basenames must keep the merge Aggregate")
    val rows = pushed.collect()
    assert(rows.length == 1 && rows(0).getString(0) == "m.nc" &&
      rows(0).getLong(1) == 30L, rows.mkString(","))
  }

  test("agg pushdown declines what it cannot prove: value aggs and GROUP BY stay on rows") {
    val tmp = tmpDir("aggd")
    writeClassic(s"$tmp/m1.nc", nt = 2, bias = 7.0)
    val valueAgg = dsv2(s"$tmp/m1.nc", Some("tas")).agg(min("value").as("mv"))
    assert(hasAggregate(valueAgg), "min(value) must stay a real Aggregate")
    assert(aggRow(valueAgg) == Seq(7.0))
    val grouped = dsv2(s"$tmp/m1.nc", Some("tas"))
      .groupBy("lat").agg(count(lit(1)).as("n"))
    assert(hasAggregate(grouped))
    assert(grouped.collect().map(_.getLong(1)).toSeq == Seq(6L, 6L))
  }

  test("agg pushdown count(time) counts only 3-D rows; static grids contribute count(*) alone") {
    val tmp = tmpDir("aggstatic")
    val bytes = Hdf5Classic.write(
      dims = Seq(NcDim("lat", 2), NcDim("lon", 3)),
      vars = Seq(
        ("lat", Seq(0), Nil, Array(0.0, 10.0)),
        ("lon", Seq(1), Nil, Array(100.0, 110.0, 120.0)),
        ("tas", Seq(0, 1), Nil, Array(1.0, 2, 3, 4, 5, 6))))
    Files.write(Paths.get(s"$tmp/s.h5"), bytes)
    val pushed = dsv2(s"$tmp/s.h5", Some("tas"))
      .agg(count(lit(1)).as("n"), count(col("time")).as("nt"),
        min("time").as("mt"))
    assert(!hasAggregate(pushed))
    assert(aggRow(pushed) == Seq(6L, 0L, null))
  }

  test("one law for both read paths on all three containers: pushed aggregates == aggregates over rows, rows inside catalog envelopes") {
    // seeded random sparse long forms (3-D and static members, absent
    // cells NaN-filled by the sink), each written as hdf5, classic and
    // zarr, read through ONE scan under random pushed lat/lon/time bounds
    val lats = Seq(-10.0, 0.0, 5.0, 10.0, 20.0)
    val lons = Seq(100.0, 110.0, 115.0, 125.0)
    val aggs = Seq(count(lit(1)), count(col("time")), min("lat"), max("lat"),
      min("lon"), max("lon"), min("time"), max("time"))
    def agg(df: DataFrame) = df.agg(aggs.head, aggs.tail: _*)
    def grouped(df: DataFrame) = df.groupBy("dataset").agg(aggs.head, aggs.tail: _*)
    def pushedPlan(df: DataFrame): Unit = {
      assert(!hasAggregate(df), df.queryExecution.optimizedPlan)
      assert(df.queryExecution.executedPlan.toString.contains("PushedAggregates: ["))
    }
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val rows = (1 to 2 + rnd.nextInt(2)).flatMap { m =>
        val times: Seq[java.sql.Timestamp] =
          if (rnd.nextInt(3) == 0) Seq(null)
          else (0 to 4).filter(_ => rnd.nextBoolean()).map(ts) :+ ts(5)
        val vars = if (rnd.nextBoolean()) Seq("tas") else Seq("pr", "tas")
        val dense = for (v <- vars; t <- times; la <- lats; lo <- lons)
          yield (s"m$m", v, t, la, lo, rnd.nextInt(1000).toDouble)
        dense.filter(_ => rnd.nextInt(3) == 0) :+ dense.head
      }.distinct
      val root = tmpDir(s"law$seed")
      for (c <- Seq("hdf5", "classic", "zarr"))
        longForm(rows).write.format("netcdf").option("container", c)
          .mode("append").save(s"$root/$c")
      val glob = s"$root/*/*"
      val all = spark.read.format("netcdf").load(glob).localCheckpoint()

      // every row lies inside its member's catalog envelope
      val man = tmpDir(s"law$seed-man")
      graft.sources.NcCatalog.buildManifest(spark, glob, man)
      val env = graft.sources.NcCatalog.catalog(spark, man).collect()
        .map(e => e.getAs[String]("dataset") -> e).toMap
      assert(env.keySet == all.select("dataset").distinct().collect()
        .map(_.getString(0)).toSet)
      all.collect().foreach { r =>
        val e = env(r.getAs[String]("dataset"))
        val (la, lo) = (r.getAs[Double]("lat"), r.getAs[Double]("lon"))
        val t = Option(r.getAs[java.sql.Timestamp]("time")).map(
          org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp)
        assert(e.getAs[scala.collection.Seq[String]]("variables")
          .contains(r.getAs[String]("variable")), s"$r outside $e")
        assert(la >= e.getAs[Double]("lat_min") && la <= e.getAs[Double]("lat_max") &&
          lo >= e.getAs[Double]("lon_min") && lo <= e.getAs[Double]("lon_max"),
          s"$r outside $e")
        assert(t.isEmpty == e.isNullAt(e.fieldIndex("time_min_us")) &&
          t.forall(us => us >= e.getAs[Long]("time_min_us") &&
            us <= e.getAs[Long]("time_max_us")), s"$r outside $e")
      }

      for (_ <- 1 to 3) {
        def pick[A](xs: Seq[A], odds: Int): Option[A] =
          if (rnd.nextInt(odds) == 0) Some(xs(rnd.nextInt(xs.length))) else None
        val pred = Seq(
          pick(lats, 2).map(col("lat") >= _), pick(lats, 2).map(col("lat") <= _),
          pick(lons, 2).map(col("lon") > _), pick(lons, 2).map(col("lon") <= _),
          pick(0 to 5, 3).map(d => col("time") >= ts(d)),
          pick(0 to 5, 3).map(d => col("time") < ts(d))).flatten.reduceOption(_ && _)
        val scan = spark.read.format("netcdf").load(glob)
        val (q, ref) = pred.fold((scan, all))(p => (scan.filter(p), all.filter(p)))
        val (g, gq) = (agg(q), grouped(q))
        pushedPlan(g); pushedPlan(gq)
        assert(g.collect().toSeq == agg(ref).collect().toSeq, s"seed $seed, $pred")
        val byMember = sortedRows(gq)
        assert(byMember == sortedRows(grouped(ref)), s"seed $seed, $pred")
        // and the three containers of one member agree with each other
        val byContainer = byMember.groupBy(r => r.getString(0).split('.').last)
          .map { case (c, rs) => c -> rs.map(r => r.toSeq.updated(0,
            r.getString(0).split('.').head)) }
        assert(byContainer.values.toSet.size <= 1, s"seed $seed, $pred: $byContainer")
      }
    }
  }

  test("climate pipeline over the DSv2 source: chain == in-memory twin, subset PUSHED into the scan") {
    // The q_climate_pipeline_nc law: the full chained Ensemble
    // (subset → regridBin(sum) → resample(week, sum) → anomaly) over a
    // `spark.read.format("netcdf")` load equals the same chain over the
    // in-memory frame the file was written from (exact: every value is
    // an integer count in doubles, sums order-free, one terminal avg),
    // AND the subset's lat/lon/time bounds reach the scan as pushed
    // filters — the archive chunks outside the region are pruned, not
    // read-then-filtered.
    import spark.implicits._
    val tmp = tmpDir("pipe")
    val jan1 = 1704067200000L // 2024-01-01 00:00:00 UTC
    val rows = for (d <- 0 until 28; la <- Seq(0.0, 10.0, 20.0);
                    lo <- Seq(100.0, 110.0, 120.0, 130.0, 140.0))
      yield ("m", new java.sql.Timestamp(jan1 + d * 86400000L), la, lo,
        (d * 15 + la / 10 * 5 + (lo - 100) / 10 + 1).toDouble)
    val frame = rows.toDF("dataset", "time", "lat", "lon", "value")
    Ensemble.of(frame).toNetcdf(tmp, varName = "tas", hdf5 = true)
    def chain(df: DataFrame): DataFrame =
      graft.Ensemble.of(df)
        .subset(5, 25, 90, 135, "2024-01-03 00:00:00", "2024-01-28 00:00:00")
        .regridBin(20.0, 20.0, agg = "sum")
        .resample("week", agg = "sum")
        .anomaly()
    val viaFile = chain(dsv2(s"$tmp/m.h5", Some("tas"))
      .select(col("dataset"), col("time"), col("lat"), col("lon"), col("value")))
    // the twin rides the SAME member tag the DSv2 reader assigns
    val twin = chain(frame.withColumn("dataset", lit("m.h5")))
    assertSame(viaFile, twin)
    // 2 lat bins {0,20} × 2 lon bins {100,120} × 4 weeks (Jan 1/8/15/22)
    assert(viaFile.count() == 16)
    val plan = viaFile.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(lat,5.0)"), plan)
    assert(plan.contains("LessThanOrEqual(lat,25.0)"), plan)
    assert(plan.contains("GreaterThanOrEqual(lon,90.0)"), plan)
    assert(plan.contains("LessThanOrEqual(lon,135.0)"), plan)
  }

  test("Spark-exact comparison atoms: compareDoubles semantics unit-pinned") {
    import NetcdfV2._
    assert(cmpD(Double.NaN, Double.NaN) == 0) // NaN = NaN
    assert(cmpD(Double.NaN, Double.PositiveInfinity) > 0) // NaN greatest
    assert(cmpD(-0.0, 0.0) == 0) // ±0.0 equal
    assert(cmpD(1.0, 2.0) < 0 && cmpD(2.0, 1.0) > 0)
    assert(holdsD(Double.NaN, DCmp(GE, 5.0)))
    assert(!holdsD(Double.NaN, DCmp(LE, Double.PositiveInfinity)))
    assert(holdsD(-0.0, DCmp(EQ, 0.0)))
  }
}
