package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.ClimateOps

/** FIXTURES §3 mini-climate-grid: hand-computed expectations for the
  * bcdp-surface transforms (SURVEY §2.1 R3-R12). */
class ClimateOpsSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  // 2 datasets × 4 timesteps (2 in DJF) × (2 lats × 2 lons, one lon ≥ 180)
  private lazy val grid = {
    val rows = for {
      ds <- Seq("modelA", "obs")
      (t, v0) <- Seq(("2000-01-15 00:00:00", 1.0), ("2000-04-15 00:00:00", 3.0),
        ("2000-07-15 00:00:00", 5.0), ("2000-12-15 00:00:00", 7.0))
      lat <- Seq(-10.0, 10.0)
      lon <- Seq(20.0, 200.0) // 200 wraps to -160
    } yield (ds, java.sql.Timestamp.valueOf(t), lat, lon,
      v0 + lat / 100.0 + (if (ds == "obs") 0.5 else 0.0))
    rows.toDF("dataset", "time", "lat", "lon", "value")
  }

  test("homogenize wraps lon into [-180,180)") {
    val out = ClimateOps.homogenize(grid.withColumnRenamed("lon", "longitude"),
      Map("longitude" -> "lon"))
    val lons = out.select("lon").distinct().as[Double].collect().sorted
    assert(lons.toSeq == Seq(-160.0, 20.0))
  }

  test("subset keeps only in-bounds cells") {
    val out = ClimateOps.subset(grid, 0.0, 90.0, 0.0, 90.0,
      "2000-01-01 00:00:00", "2000-06-30 00:00:00")
    // lat=10, lon=20, t in {Jan,Apr} × 2 datasets = 4 rows
    assert(out.count() == 4)
  }

  test("subset with lonMin > lonMax crosses the antimeridian") {
    val t = java.sql.Timestamp.valueOf("2000-01-15 00:00:00")
    val pts = Seq(("m", t, 0.0, 175.0, 1.0), ("m", t, 0.0, -175.0, 2.0),
      ("m", t, 0.0, 0.0, 3.0)).toDF("dataset", "time", "lat", "lon", "value")
    val got = ClimateOps.subset(pts, -90, 90, 170.0, -170.0,
        "2000-01-01 00:00:00", "2000-12-31 00:00:00")
      .select("value").as[Double].collect().toSet
    assert(got == Set(1.0, 2.0)) // Pacific strip only; lon=0 excluded
  }

  test("selectSeason DJF keeps Dec/Jan/Feb timesteps") {
    val out = ClimateOps.selectSeason(grid, Seq(12, 1, 2))
    assert(out.select(month($"time")).distinct().as[Int].collect().toSet == Set(1, 12))
    assert(out.count() == 16) // 2 of 4 timesteps
  }

  test("climatology averages per (dataset, month, cell)") {
    val out = ClimateOps.climatology(grid)
    // each (dataset, month, lat, lon) has exactly 1 sample here → clim = value
    assert(out.count() == grid.count())
    val one = out.filter($"dataset" === "modelA" && $"moy" === 1
      && $"lat" === 10.0 && $"lon" === 20.0).select("clim").as[Double].head()
    assert(math.abs(one - 1.1) < 1e-12) // 1.0 + 10/100
  }

  test("anomaly subtracts the per-cell month mean (single-sample → 0)") {
    val out = ClimateOps.anomaly(grid)
    val maxAbs = out.agg(max(abs($"anomaly"))).as[Double].head()
    assert(maxAbs < 1e-12)
  }

  test("regridBin bins onto the coarse mesh with counts") {
    val out = ClimateOps.regridBin(grid, 20.0, 200.0)
    // lats -10,10 → bins -20,0; lons 20,200 → bins 0,200 → 4 bins per (ds,t)
    assert(out.count() == 2 * 4 * 4)
    assert(out.agg(sum($"n_cells")).as[Long].head() == grid.count())
  }

  test("sum pooling conserves total mass through regridBin and resample (r7)") {
    // The conservative (integral-preserving) forms: coarsening the grid
    // or the time axis with agg="sum" must leave the domain total
    // untouched — the law the graded q_climate_pipeline composition
    // rides (every intermediate an exact order-free integer sum).
    val total = grid.agg(sum("value")).first().getDouble(0)
    val regridded = ClimateOps.regridBin(grid, 20.0, 180.0, agg = "sum")
    assert(regridded.agg(sum("value")).first().getDouble(0) == total)
    val resampled = ClimateOps.resample(regridded
        .withColumnRenamed("lat_bin", "lat").withColumnRenamed("lon_bin", "lon"),
      "year", agg = "sum")
    assert(resampled.agg(sum("value")).first().getDouble(0) == total)
    // and the mean default is unchanged: sum/n_cells ≈ mean form
    // (tolerance-joined — the two aggregations may sum in different
    // orders, so bitwise equality of non-integer doubles isn't owed)
    val meanForm = ClimateOps.regridBin(grid, 20.0, 180.0)
      .select(col("dataset"), col("time"), col("lat_bin"), col("lon_bin"),
        col("value").as("mv"))
    val joined = meanForm.join(regridded, Seq("dataset", "time", "lat_bin", "lon_bin"))
      .select(abs(col("mv") - col("value") / col("n_cells")).as("d"))
    assert(joined.count() == meanForm.count())
    assert(joined.agg(max("d")).first().getDouble(0) < 1e-9)
  }

  test("zonalMean collapses lon") {
    val out = ClimateOps.zonalMean(grid)
    assert(out.count() == 2 * 4 * 2) // (ds, t, lat)
  }

  test("convertUnits is value*k+b") {
    val out = ClimateOps.convertUnits(grid, 2.0, 1.0)
    val got = out.filter($"dataset" === "modelA" && month($"time") === 1
      && $"lat" === -10.0 && $"lon" === 20.0).select("value").as[Double].head()
    assert(math.abs(got - (0.9 * 2 + 1)) < 1e-12)
  }

  test("noleapToTimestamp skips Feb 29 in leap years") {
    val df = Seq((2000, 59), (2000, 60), (2001, 60)).toDF("yr", "doy")
    val out = df.select(date_format(
      ClimateOps.noleapToTimestamp($"yr", $"doy"), "yyyy-MM-dd").as("d"))
      .as[String].collect().toSeq
    // noleap day 59 = Feb 28; day 60 = Mar 1 (skipping Feb 29 in 2000)
    assert(out == Seq("2000-02-28", "2000-03-01", "2001-03-01"))
  }

  test("regridBilinear interpolates exactly on a value linear in coords") {
    // v = 10·lat + lon is reproduced exactly by bilinear interpolation
    val t = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    val src = (for { la <- Seq(0.0, 1.0); lo <- Seq(0.0, 1.0) }
      yield ("m", t, la, lo, 10.0 * la + lo)).toDF("dataset", "time", "lat", "lon", "value")
    val out = ClimateOps.regridBilinear(src, 1.0, 1.0, 0.0, 1.0, 0.0, 1.0, 0.5, 0.5)
      .collect().map(r => (r.getDouble(2), r.getDouble(3)) -> r.getDouble(4)).toMap
    assert(out.size == 9) // 3×3 target mesh
    assert(math.abs(out((0.5, 0.5)) - 5.5) < 1e-12) // cell center
    assert(math.abs(out((0.0, 0.5)) - 0.5) < 1e-12) // edge midpoint
    assert(math.abs(out((1.0, 1.0)) - 11.0) < 1e-12) // exactly on a node
    assert(math.abs(out((1.0, 0.5)) - 10.5) < 1e-12)
  }

  test("regridNearest snaps targets to nearest scattered (curvilinear) node") {
    val t = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    // nodes deliberately off any separable lat/lon axis (curvilinear)
    val src = Seq(
      ("m", t, 0.1, 0.2, 1.0),
      ("m", t, 0.9, 1.1, 2.0),
      ("m", t, 2.2, 0.1, 3.0)).toDF("dataset", "time", "lat", "lon", "value")
    val out = ClimateOps.regridNearest(src, 0.0, 2.0, 0.0, 2.0, 1.0, 1.0)
      .collect().map(r => (r.getDouble(2), r.getDouble(3)) -> r.getDouble(4)).toMap
    assert(out.size == 9) // every target found a node within its tiles
    assert(out((0.0, 0.0)) == 1.0)
    assert(out((1.0, 1.0)) == 2.0)
    assert(out((2.0, 0.0)) == 3.0)
  }

  test("regridIdw interpolates a curvilinear (rotated-pole-style) mesh") {
    val t = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    // sheared mesh: node(i,j) = (i + 0.1·j, j + 0.1·i) — coordinates
    // are NOT separable in (i,j), which breaks corner-snapping bilinear
    val nodes = for { i <- 0 to 4; j <- 0 to 4 } yield
      ("m", t, i + 0.1 * j, j + 0.1 * i, (10.0 * i + j))
    val src = nodes.toDF("dataset", "time", "lat", "lon", "value")
    val out = ClimateOps.regridIdw(src, 0.0, 3.0, 0.0, 3.0, 1.0, 1.0, k = 3)
      .collect().map(r => (r.getDouble(2), r.getDouble(3)) -> r.getDouble(4)).toMap
    assert(out.size == 16) // full 4×4 target mesh mapped
    // brute-force reference: k=3 IDW over all nodes, power 2
    def ref(tlat: Double, tlon: Double): Double = {
      val d = nodes.map { case (_, _, la, lo, v) =>
        ((la - tlat) * (la - tlat) + (lo - tlon) * (lo - tlon), la, lo, v)
      }.sortBy(x => (x._1, x._2, x._3)).take(3)
      if (d.head._1 == 0.0) d.head._4
      else d.map(x => x._4 / x._1).sum / d.map(x => 1.0 / x._1).sum
    }
    for (((tlat, tlon), got) <- out)
      assert(math.abs(got - ref(tlat, tlon)) < 1e-9,
        s"($tlat,$tlon): got $got, want ${ref(tlat, tlon)}")
    // target (0,0) sits exactly on node(0,0) → exact value, no 1/d² blowup
    assert(out((0.0, 0.0)) == 0.0)
  }

  test("regridIdw leaves out-of-radius targets unmapped") {
    val t = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    val src = Seq(("m", t, 0.0, 0.0, 5.0)).toDF("dataset", "time", "lat", "lon", "value")
    val out = ClimateOps.regridIdw(src, 0.0, 8.0, 0.0, 8.0, 4.0, 4.0,
      k = 3, blockDeg = 1.0)
    // only the (0,0) target is within 1° of the lone node
    assert(out.count() == 1)
  }

  test("meltVariables ↔ pivotVariables round-trip (multi-variable Dataset)") {
    val t = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    val wide = Seq(
      ("m", t, 0.0, 10.0, 288.5, 101.3),
      ("m", t, 0.0, 20.0, 290.1, 100.9))
      .toDF("dataset", "time", "lat", "lon", "tas", "psl")
    val long = ClimateOps.meltVariables(wide, Seq("tas", "psl"))
    assert(long.count() == 4)
    assert(long.columns.toSeq ==
      Seq("dataset", "time", "lat", "lon", "variable", "value"))
    assert(long.filter($"variable" === "tas" && $"lon" === 10.0)
      .select("value").as[Double].head() == 288.5)
    val back = ClimateOps.pivotVariables(long)
      .select("dataset", "time", "lat", "lon", "tas", "psl")
    assert(back.exceptAll(wide).count() == 0 && wide.exceptAll(back).count() == 0)
  }

  private val ct = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")

  test("regridConservative: identity when target grid equals source grid") {
    // 1°-center cells on a 1° mesh: each source cell IS one target cell
    val src = Seq((0.5, 0.5, 10.0), (0.5, 1.5, 20.0),
        (1.5, 0.5, 30.0), (1.5, 1.5, 40.0))
      .map { case (la, lo, v) => ("m", ct, la, lo, v) }
      .toDF("dataset", "time", "lat", "lon", "value")
    val out = ClimateOps.regridConservative(src, 1.0, 1.0,
        0.0, 2.0, 0.0, 2.0, 1.0, 1.0, spherical = false)
      .select("tlat", "tlon", "value", "w_sum")
      .as[(Double, Double, Double, Double)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq((0.5, 0.5, 10.0, 1.0), (0.5, 1.5, 20.0, 1.0),
      (1.5, 0.5, 30.0, 1.0), (1.5, 1.5, 40.0, 1.0)))
  }

  test("regridConservative: NON-nested grids take true fractional-overlap " +
    "weights (the case bin-average gets wrong)") {
    // two 3°-wide cells [0,3)×[0,1) v=10 and [3,6)×[0,1) v=40, onto a
    // 2° target: the middle cell [2,4) overlaps each source by exactly
    // 1° → (10·1 + 40·1)/2 = 25. No nesting: regridBin cannot say this.
    val src = Seq((0.5, 1.5, 10.0), (0.5, 4.5, 40.0))
      .map { case (la, lo, v) => ("m", ct, la, lo, v) }
      .toDF("dataset", "time", "lat", "lon", "value")
    val out = ClimateOps.regridConservative(src, 1.0, 3.0,
        0.0, 1.0, 0.0, 6.0, 1.0, 2.0, spherical = false)
      .select("tlon", "value", "w_sum")
      .as[(Double, Double, Double)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1.0, 10.0, 2.0), (3.0, 25.0, 2.0),
      (5.0, 40.0, 2.0)))
  }

  test("regridConservative: MASS CONSERVATION on non-nested grids — " +
    "Σ value·area is preserved exactly (integer-scaled planar weights)") {
    // 4×6 source mesh of 1.5° cells with integer values, regridded to
    // 1° cells over the same [0,6)×[0,9) domain: every overlap is a
    // multiple of 0.5°, so with spherical=false all weights are exact
    // binary fractions and the mass identity holds to the BIT.
    val rows = for (i <- 0 until 4; j <- 0 until 6)
      yield ("m", ct, i * 1.5 + 0.75, j * 1.5 + 0.75, (i * 7 + j * 3 + 1).toDouble)
    val src = rows.toDF("dataset", "time", "lat", "lon", "value")
    val srcMass = rows.map(_._5 * 1.5 * 1.5).sum
    val out = ClimateOps.regridConservative(src, 1.5, 1.5,
      0.0, 6.0, 0.0, 9.0, 1.0, 1.0, spherical = false)
    assert(out.count() == 54)
    val dstMass = out.select(sum(col("value") * col("w_sum")))
      .as[Double].head()
    assert(dstMass == srcMass,
      s"mass not conserved: src $srcMass vs dst $dstMass")
    // and every target cell is fully covered: w_sum = its 1°² area
    val wsums = out.select("w_sum").distinct().as[Double].collect()
    assert(wsums.toSeq == Seq(1.0))
  }

  test("regridConservative: spherical weights are sin-difference sphere " +
    "areas; a lat-straddling source pair biases toward the equator side") {
    // one 2° target lat band [0,2) fed by two 1° source cells at
    // centers 0.5 (v=10) and 1.5 (v=40): spherical weights sin(1)−sin(0)
    // vs sin(2)−sin(1) — the equatorward cell weighs MORE than planar's
    // equal split, so the blend sits below 25.
    val src = Seq((0.5, 0.5, 10.0), (1.5, 0.5, 40.0))
      .map { case (la, lo, v) => ("m", ct, la, lo, v) }
      .toDF("dataset", "time", "lat", "lon", "value")
    val out = ClimateOps.regridConservative(src, 1.0, 1.0,
        0.0, 2.0, 0.0, 1.0, 2.0, 1.0)
      .select("value").as[Double].head()
    val w1 = math.sin(math.toRadians(1.0)) - 0.0
    val w2 = math.sin(math.toRadians(2.0)) - math.sin(math.toRadians(1.0))
    val expect = (10.0 * w1 + 40.0 * w2) / (w1 + w2)
    assert(math.abs(out - expect) < 1e-12)
    assert(out < 25.0, "equatorward cell must out-weigh the poleward one")
  }

  test("regridConservative: source cells outside the target domain drop " +
    "(unmapped), partially-covered ones clip to the domain") {
    val src = Seq((0.5, 0.5, 10.0), (0.5, 3.5, 99.0), // 2nd wholly outside
        (0.5, 1.5, 20.0)) // straddles the lon edge at 2: clipped half in
      .map { case (la, lo, v) => ("m", ct, la, lo, v) }
      .toDF("dataset", "time", "lat", "lon", "value")
    val out = ClimateOps.regridConservative(src, 1.0, 2.0,
        0.0, 1.0, 0.0, 2.0, 1.0, 2.0, spherical = false)
      .select("tlon", "value", "w_sum")
      .as[(Double, Double, Double)].collect()
    // one 2° target cell [0,2): full src0 (area 2·1=… src cells are
    // 1°lat × 2°lon: src0 spans lon [−0.5,1.5) → clipped to [0,1.5) =
    // 1.5; src2 spans [0.5,2.5) → clipped to [0.5,2) = 1.5
    assert(out.length == 1)
    val (tlon, v, wsum) = out.head
    assert(tlon == 1.0 && wsum == 3.0)
    assert(v == (10.0 * 1.5 + 20.0 * 1.5) / 3.0)
  }

  test("spatialMeanWeighted: cos-lat area weighting down-weights the poles") {
    val t = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    // equator cell (weight cos0 = 1) value 10, 60°N cell (cos60 = 0.5)
    // value 40 → weighted mean (10·1 + 40·0.5) / 1.5 = 20; the
    // unweighted mean would be 25
    val src = Seq(("m", t, 0.0, 0.0, 10.0), ("m", t, 60.0, 0.0, 40.0))
      .toDF("dataset", "time", "lat", "lon", "value")
    val got = ClimateOps.spatialMeanWeighted(src)
      .select("value").as[Double].head()
    assert(math.abs(got - 20.0) < 1e-9)
  }

  test("spatialMeanWeighted with explicit integer weights stays exact " +
    "(the graded-key form) and matches the cos default to quantization") {
    val t = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    val src = Seq(("m", t, 0.0, 0.0, 10L), ("m", t, 60.0, 0.0, 40L))
      .toDF("dataset", "time", "lat", "lon", "value")
    // driver-quantized weights: cos0→1e6, cos60→5e5 (exactly — cos(60°)
    // rounds to 0.5 at 1e-6); (10·1e6 + 40·5e5) / 1.5e6 = 20 exactly
    val w = when($"lat" === 0.0, lit(1000000L))
      .when($"lat" === 60.0, lit(500000L)).otherwise(lit(1L))
    val got = ClimateOps.spatialMeanWeighted(src, Some(w))
      .select("value").as[Double].head()
    assert(got == 20.0, s"integer-weight path must be exact, got $got")
  }

  test("interpolateNa: linear gap fill, uneven axis, edge NULLs stay NULL") {
    val src = Seq[(String, Long, Option[Double])](
      ("a", 0L, Some(10.0)), ("a", 1L, None), ("a", 2L, None),
      ("a", 3L, Some(40.0)),
      ("a", 5L, None), ("a", 9L, Some(100.0)), // uneven axis: 40@3 → 100@9
      ("b", 0L, None), ("b", 1L, Some(7.0)), ("b", 2L, None) // edges
    ).toDF("k", "t", "v")
    val got = ClimateOps.interpolateNa(src, Seq("k"), "t", "v")
      .orderBy($"k", $"t").select("v").collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(got == Seq(
      Some(10.0), Some(20.0), Some(30.0), Some(40.0),
      Some(60.0),           // 40 + 60 * (5-3)/(9-3)
      Some(100.0),
      None, Some(7.0), None // no neighbor on one side → stays NULL
    ))
  }

  test("quantileMap: type-7 mapping onto obs order statistics, hand fixture") {
    // obs (sorted): 10, 20, 40, 80 (n_o = 4); model: 5, 6, 7 (n_m = 3)
    // ranks r = 0, 1/2, 1 → h = 0, 1.5, 3 → corrected = 10, 30, 80
    val obs = Seq(("g", 1L, 40.0), ("g", 2L, 10.0), ("g", 3L, 80.0),
      ("g", 4L, 20.0)).toDF("k", "id", "v")
    val model = Seq(("g", 11L, 6.0), ("g", 12L, 5.0), ("g", 13L, 7.0),
      ("lonely", 14L, 1.0)) // group with no reference data → dropped
      .toDF("k", "id", "v")
    val got = ClimateOps.quantileMap(model, obs, Seq("k"), "v", "id")
      .orderBy($"id").select($"id", $"corrected")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((11L, 30.0), (12L, 10.0), (13L, 80.0)))
    // single-row sides: r = 0, n_o = 1 → corrected = the one obs value
    val one = ClimateOps.quantileMap(
      Seq(("g", 1L, 99.0)).toDF("k", "id", "v"),
      Seq(("g", 2L, 7.0)).toDF("k", "id", "v"), Seq("k"), "v", "id")
    assert(one.select("corrected").as[Double].collect().toSeq == Seq(7.0))
  }

  test("spells: maximal consecutive runs, hand fixture") {
    // series a: days 1,2,3 | 5 | 8,9  → runs (1-3), (5-5), (8-9)
    // series b: days 4    → one singleton run
    val q = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L),
      ("a", 5L, 40L), ("a", 8L, 50L), ("a", 9L, 60L),
      ("b", 4L, 70L)).toDF("k", "d", "v")
    val got = ClimateOps.spells(q, Seq("k"), "d", "v")
      .orderBy($"k", $"spell_start")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      ("a", 1L, 3L, 3L, 60L),   // start, end, len, sum
      ("a", 5L, 5L, 1L, 40L),
      ("a", 8L, 9L, 2L, 110L),
      ("b", 4L, 4L, 1L, 70L)))
  }

  test("spells: MAXIMALITY law — no two spells in a series touch, and " +
    "lengths reconstruct the qualifying-day count") {
    // pseudo-random qualifying day set, two series
    val days = (1 to 200).filter(d => (d * 2654435761L % 5) < 3)
    val q = Seq("x", "y").flatMap(k => days.map(d =>
      (k, d.toLong, 1L))).toDF("k", "d", "v")
    val rows = ClimateOps.spells(q, Seq("k"), "d", "v")
      .orderBy($"k", $"spell_start").collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      rs.sliding(2).foreach {
        case Array(a, b) =>
          // a gap of at least one missing day separates consecutive spells
          assert(b.getLong(1) > a.getLong(2) + 1)
        case _ => ()
      }
      assert(rs.map(_.getLong(3)).sum == days.size) // Σ len = |qualifying|
      rs.foreach(r => // len is consistent with the [start, end] extent
        assert(r.getLong(3) == r.getLong(2) - r.getLong(1) + 1))
    }
  }

  test("corrExact: ±1 on perfectly linear series, NULL on zero variance, " +
    "bounded on mixed data") {
    val df = Seq(
      ("up", 1L, 2L), ("up", 2L, 4L), ("up", 3L, 6L),      // y = 2x → +1
      ("dn", 1L, 6L), ("dn", 2L, 4L), ("dn", 3L, 2L),      // y = -2x+8 → -1
      ("flat", 1L, 5L), ("flat", 2L, 5L), ("flat", 3L, 5L) // var(y)=0 → NULL
    ).toDF("k", "x", "y")
    val got = ClimateOps.corrExact(df, Seq("k"), "x", "y")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(math.abs(got("up").get - 1.0) < 1e-12)
    assert(math.abs(got("dn").get + 1.0) < 1e-12)
    assert(got("flat").isEmpty)
    // and on the real corpus every defined value is a valid correlation
    val real = SparkEntry.queries("q_climate_corr_field")(
      spark, "/root/testdata/sf0.001")
      .filter(col("corr").isNotNull).select("corr")
      .collect().map(_.getDouble(0))
    assert(real.nonEmpty)
    real.foreach(c => assert(c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12))
  }

  test("trendExact: recovers an exact linear fit, NULL on a single time") {
    // y = 3t + 7 exactly → slope 3, intercept 7
    val df = Seq(("a", 0L, 7L), ("a", 1L, 10L), ("a", 2L, 13L),
      ("a", 3L, 16L), ("one", 5L, 42L)).toDF("k", "t", "y")
    val got = ClimateOps.trendExact(df, Seq("k"), "t", "y")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some((r.getDouble(2), r.getDouble(3)))))
      .toMap
    assert(got("a").contains((3.0, 7.0))) // exact: all moments < 2^53
    assert(got("one").isEmpty)            // zero t-variance → NULL fit
  }

  test("cal360ToTimestamp maps 30-day months, clamping Feb overflow") {
    val df = Seq(
      (2001, 30),  // Jan 30       → Jan 30
      (2001, 31),  // Feb 1        → Feb 1
      (2001, 59),  // Feb 29       → clamp to Feb 28 (non-leap)
      (2001, 60),  // Feb 30       → clamp to Feb 28
      (2000, 59),  // Feb 29, leap → Feb 29 (valid, no clamp)
      (2000, 60),  // Feb 30, leap → clamp to Feb 29
      (2001, 61),  // Mar 1        → Mar 1
      (2001, 360)  // Dec 30       → Dec 30 (last 360-day doy)
    ).toDF("yr", "doy")
    val out = df.select(date_format(
      ClimateOps.cal360ToTimestamp($"yr", $"doy"), "yyyy-MM-dd").as("d"))
      .as[String].collect().toSeq
    assert(out == Seq("2001-01-30", "2001-02-01", "2001-02-28", "2001-02-28",
      "2000-02-29", "2000-02-29", "2001-03-01", "2001-12-30"))
  }
}
