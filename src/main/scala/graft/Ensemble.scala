package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.ClimateOps

/** The reference's user-facing abstraction: a named collection of
  * gridded datasets with chainable preprocessing ops
  * (`load → homogenize → subset → select_season → regrid → resample`).
  *
  * Spark-native design: an Ensemble IS one long-form DataFrame with a
  * `dataset` tag column (member = slice), so "map over members" is
  * ordinary partitioned/grouped execution — no driver-side loop over
  * members, which is what makes the same API hold at 100 TB. Every op
  * returns a new immutable Ensemble wrapping a lazily-composed plan;
  * nothing executes until an action.
  *
  * A bcdp user's pipeline
  *   `ens = bcdp.load_local(paths); ens.homogenize().subset(b).regrid(g)`
  * becomes
  *   `Ensemble.load(spark, paths).homogenize().subset(...).regridBin(...)`.
  */
final case class Ensemble(df: DataFrame) {

  /** Member names (small; the one intentionally driver-side accessor). */
  def members: Seq[String] =
    df.select("dataset").distinct().collect().map(_.getString(0)).toSeq.sorted

  /** Persist the long form — call before a multi-read reduction
    * ([[alignMembers]] reads the union two or three times: the
    * per-cell counts and the semi-join base always, plus the inferred
    * member count only when `declaredMembers` is not passed; uncached,
    * each read re-executes every member's upstream pipeline). Identical-plan
    * cache() calls share one entry via the cache manager. The CALLER
    * owns the persisted lifetime: unpersist via `.df.unpersist()` (or
    * hold it as a [[graft.Memo]] value, as q_climate_ensemble does, so
    * `Memo.clear()` releases it) when cycling sessions in one JVM. */
  def cached(): Ensemble = Ensemble(df.cache())

  // ---- ensemble algebra (bcdp R13) ----------------------------------
  def addMember(name: String, member: DataFrame): Ensemble =
    Ensemble(df.unionByName(member.withColumn("dataset", lit(name))))

  def dropMember(name: String): Ensemble =
    Ensemble(df.filter(col("dataset") =!= name))

  /** Keep only (time,lat,lon) cells present in EVERY member — bcdp's
    * align-on-common-axes, as a distinct-count semi-filter (no N-way
    * self-join; one aggregation + one semi-join). The member count is
    * computed INSIDE the plan (1-row broadcast agg crossed onto the
    * per-cell counts), so composing this op runs no Spark job — at
    * 100 TB an eager distinct().count() here would full-scan the
    * ensemble before the pipeline even built.
    *
    * `declaredMembers` (r11 single-row-tier find): membership is
    * data-carried (the `dataset` tag), so the default inferred count
    * CANNOT see a member that contributed ZERO rows — inference then
    * silently degrades to "present in all NON-EMPTY members", and a
    * member whose loader lost everything passes alignment unnoticed.
    * When the caller knows the declared member count (it usually
    * does — it called addMember), pass it: an all-empty member then
    * correctly aligns every cell away (no cell is present in all N),
    * surfacing the upstream data loss instead of masking it.
    *
    * MISUSE MODES of a wrong declaration (r11 advice): an UNDERSTATED
    * count (declared < actual distinct tags) is provably wrong the
    * moment any cell counts more members than declared, so the plan
    * carries a per-row guard that fails the job loudly (one codegen'd
    * comparison per cell — no extra shuffle, no extra job, and the
    * when/otherwise form is a single unsplittable predicate the
    * optimizer cannot reorder past the guard). An OVERSTATED count is
    * indistinguishable per-row from genuine non-alignment — it empties
    * the result exactly like an all-empty member does; that ambiguity
    * is inherent (it is WHY the declaration surfaces data loss), so
    * callers seeing an unexpectedly empty alignment should check the
    * declared count first. */
  def alignMembers(declaredMembers: Int = -1): Ensemble = {
    val cellCounts = df.groupBy("time", "lat", "lon")
      .agg(countDistinct(col("dataset")).as("nds"))
    val common =
      if (declaredMembers > 0)
        // declared count: a literal filter — no member-count subplan,
        // no 1-row cross join at all (strictly cheaper than inference);
        // the when-guard raises on nds > declared (understated count)
        cellCounts.filter(
            when(col("nds") > lit(declaredMembers.toLong),
              assert_true(col("nds") <= lit(declaredMembers.toLong),
                concat(lit(s"alignMembers: declaredMembers=$declaredMembers " +
                  "understates the ensemble — a cell was observed in "),
                  col("nds"), lit(" distinct members"))).isNotNull)
              .otherwise(col("nds") === lit(declaredMembers.toLong)))
          .select("time", "lat", "lon")
      else {
        val total = df.agg(countDistinct(col("dataset")).as("n_total"))
        cellCounts
          .crossJoin(broadcast(total))
          .filter(col("nds") === col("n_total"))
          .select("time", "lat", "lon")
      }
    Ensemble(df.join(common, Seq("time", "lat", "lon"), "left_semi"))
  }

  // ---- chained preprocessing (R3, R5, R6, R7, R8, R9, R10, R12) -----
  def homogenize(renames: Map[String, String] = Map.empty): Ensemble =
    Ensemble(ClimateOps.homogenize(df, renames))

  def subset(latMin: Double, latMax: Double, lonMin: Double, lonMax: Double,
             tMin: String, tMax: String): Ensemble =
    Ensemble(ClimateOps.subset(df, latMin, latMax, lonMin, lonMax, tMin, tMax))

  def selectSeason(months: Seq[Int]): Ensemble =
    Ensemble(ClimateOps.selectSeason(df, months))

  def regridBin(latRes: Double, lonRes: Double, agg: String = "mean"): Ensemble =
    Ensemble(ClimateOps.regridBin(df, latRes, lonRes, agg)
      .withColumnRenamed("lat_bin", "lat").withColumnRenamed("lon_bin", "lon")
      .drop("n_cells"))

  /** R7 method=linear: bilinear interpolation onto a uniform target
    * mesh (see ClimateOps.regridBilinear for the join shape). */
  def regridBilinear(srcLatRes: Double, srcLonRes: Double,
                     latMin: Double, latMax: Double,
                     lonMin: Double, lonMax: Double,
                     dstLatRes: Double, dstLonRes: Double): Ensemble =
    Ensemble(ClimateOps.regridBilinear(df, srcLatRes, srcLonRes,
        latMin, latMax, lonMin, lonMax, dstLatRes, dstLonRes)
      .withColumnRenamed("tlat", "lat").withColumnRenamed("tlon", "lon"))

  /** R7 method=linear for CURVILINEAR members (rotated-pole/tripolar
    * meshes): k-nearest inverse-distance interpolation onto a uniform
    * target mesh (see ClimateOps.regridIdw). */
  def regridIdw(latMin: Double, latMax: Double,
                lonMin: Double, lonMax: Double,
                dstLatRes: Double, dstLonRes: Double,
                k: Int = 3, blockDeg: Double = 2.0): Ensemble =
    Ensemble(ClimateOps.regridIdw(df, latMin, latMax, lonMin, lonMax,
        dstLatRes, dstLonRes, k, blockDeg)
      .withColumnRenamed("tlat", "lat").withColumnRenamed("tlon", "lon"))

  /** R7 method=conservative: TRUE fractional-overlap remapping onto a
    * uniform target mesh (see ClimateOps.regridConservative — mass-
    * conserving on NON-nested grids, unlike regridBin's bin-average). */
  def regridConservative(srcLatRes: Double, srcLonRes: Double,
                         latMin: Double, latMax: Double,
                         lonMin: Double, lonMax: Double,
                         dstLatRes: Double, dstLonRes: Double,
                         spherical: Boolean = true): Ensemble =
    Ensemble(ClimateOps.regridConservative(df, srcLatRes, srcLonRes,
        latMin, latMax, lonMin, lonMax, dstLatRes, dstLonRes, spherical)
      .withColumnRenamed("tlat", "lat").withColumnRenamed("tlon", "lon")
      .drop("w_sum"))

  def resample(unit: String, agg: String = "mean"): Ensemble =
    Ensemble(ClimateOps.resample(df, unit, agg))

  def convertUnits(k: Double, b: Double): Ensemble =
    Ensemble(ClimateOps.convertUnits(df, k, b))

  // ---- reductions (R9-R11) — terminal, return plain DataFrames ------
  def climatology(): DataFrame = ClimateOps.climatology(df)
  def anomaly(): DataFrame = ClimateOps.anomaly(df)
  def zonalMean(): DataFrame = ClimateOps.zonalMean(df)
  def spatialMeanWeighted(weights: Option[org.apache.spark.sql.Column] = None): DataFrame =
    ClimateOps.spatialMeanWeighted(df, weights)

  /** Multi-variable (xarray.Dataset-style) conversions — §1.1. */
  def meltVariables(varCols: Seq[String]): Ensemble =
    Ensemble(ClimateOps.meltVariables(df, varCols))
  def pivotVariables(): DataFrame = ClimateOps.pivotVariables(df)

  /** bcdp's generic `apply` escape hatch (R14), kept declarative. */
  def transform(f: DataFrame => DataFrame): Ensemble = Ensemble(f(df))

  /** bcdp's `to_netcdf` terminal: export one grid file per member —
    * NetCDF-3 classic, or NetCDF-4/HDF5 with `hdf5 = true` — through
    * the DSv2 `netcdf` sink (staged per task, committed by the driver,
    * one task ⇔ one member's file). The values become variable
    * `varName`; a member tag becomes its file basename (a `.nc`/`.h5`
    * suffix is replaced), and an existing member of the same name is
    * replaced while the others stay. */
  def toNetcdf(destDir: String, varName: String = "value",
               hdf5: Boolean = false): Unit =
    df.select(col("dataset"), lit(varName).as("variable"), col("time"),
        col("lat"), col("lon"), col("value"))
      .write.format("netcdf")
      .option("container", if (hdf5) "hdf5" else "classic")
      .mode("append").save(destDir)
}

object Ensemble {
  /** Load members from long-form parquet paths; the member name comes
    * from a supplied tag or the file path (R1's filename-template). */
  def load(spark: SparkSession, members: Map[String, String]): Ensemble =
    Ensemble(members.map { case (name, path) =>
      spark.read.parquet(path).withColumn("dataset", lit(name))
    }.reduce(_ unionByName _))

  /** bcdp `load_local` for grid-file ensembles: every file and every
    * Zarr v2 store (a directory holding `.zgroup`) the glob matches
    * becomes a member (dataset = its basename), read through the DSv2
    * `netcdf` format with the format auto-detected per file from the
    * magic bytes — NetCDF-3 classic, NetCDF-4/HDF5 (incl.
    * chunked/compressed; see [[graft.sources.Hdf5Classic]]) and Zarr
    * (see [[graft.sources.ZarrStore]]) members load side by side, the
    * mid-migration state every real CMIP mirror is in. Every member
    * must carry `varName`. Coordinate-variable names are overridable
    * for archives using latitude/longitude. `bounds` filters by
    * [[graft.sources.NetcdfSource.GridBounds.predicate]], which the
    * scan takes as pushed filters — the load-time form of
    * [[Ensemble.subset]]: rows outside never materialize, and
    * compressed HDF5 or Zarr chunks that don't intersect are never
    * inflated. */
  def loadGrid(spark: SparkSession, pathGlob: String, varName: String,
               latVar: String = "lat", lonVar: String = "lon",
               timeVar: String = "time",
               bounds: Option[graft.sources.NetcdfSource.GridBounds] = None)
      : Ensemble = {
    val grid = spark.read.format("netcdf").option("vars", varName)
      .option("latVar", latVar).option("lonVar", lonVar)
      .option("timeVar", timeVar).load(pathGlob)
    Ensemble(bounds.fold(grid)(b => grid.filter(b.predicate))
      .select(col("dataset"), col("time"), col("lat"), col("lon"), col("value")))
  }

  /** bcdp `load_esgf`'s local form (r15): members discovered and
    * facet-pruned through the [[graft.sources.NcCatalog]] manifest
    * (reference R2's local half — the remote client would replace only
    * the HTTP listing/fetch), the survivors loaded via the DSv2
    * `netcdf` path with the bounds pushed into the chunk-pruned scan,
    * wrapped as an Ensemble ready for the chained preprocessing ops —
    * the catalog → ensemble → pipeline journey in one call
    * (law-pinned in NcCatalogSpec against loadGrid + filters). */
  def fromCatalog(spark: SparkSession, manifestDir: String,
                  variable: String,
                  bounds: Option[graft.sources.NetcdfSource.GridBounds] = None,
                  datasetPattern: Option[String] = None): Ensemble =
    Ensemble(graft.sources.NcCatalog.select(spark, manifestDir,
        variable = Some(variable), bounds = bounds,
        datasetPattern = datasetPattern)
      .select(col("dataset"), col("time"), col("lat"), col("lon"), col("value")))

  def of(df: DataFrame): Ensemble = Ensemble(df)
}
