package graft.tools

import org.apache.spark.sql.functions._
import graft.Ensemble

/** The reference's canonical workflow end-to-end on the Spark-native
  * engine — what a bcdp user's script becomes:
  *
  *   ens = bcdp.load_local(paths)
  *   ens = ens.homogenize().subset(bnds).select_season('DJF')
  *   ens = ens.regrid(grid_from_res(5.0)).resample('MS')
  *   clim = ens.climatology(); anom = ens.anomaly()
  *
  * Runs on a synthetic 2-member ensemble (model + obs) over a 1°
  * mesh × 24 months, regridded onto a 5° DSv2 GridSource target.
  */
object ClimatePipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(4)
    import spark.implicits._

    // synthetic member: value = seasonal cycle + latitude gradient (+bias)
    def member(name: String, bias: Double) = {
      val months = (0 until 24).map(m => f"${2000 + m / 12}-${m % 12 + 1}%02d-15 00:00:00")
      val grid = spark.read.format("graft.sources.GridSource")
        .option("latMin", "-30").option("latMax", "30")
        .option("lonMin", "0").option("lonMax", "40")
        .option("latRes", "1").option("lonRes", "1").load()
      grid.crossJoin(months.toDF("t"))
        .select(lit(name).as("dataset"),
          col("t").cast("timestamp").as("time"), col("lat"), col("lon"),
          (sin(month(col("t").cast("timestamp")) * math.Pi / 6) * 10.0
            + col("lat") * 0.5 + bias).as("value"))
    }

    val ens = Ensemble.of(member("modelA", 1.5).unionByName(member("obs", 0.0)))
      .homogenize()
      .subset(-25, 25, 5, 35, "2000-01-01 00:00:00", "2001-12-31 00:00:00")
      .selectSeason(Seq(12, 1, 2))        // DJF
      .regridBin(5.0, 5.0)                // onto the coarse mesh
      .convertUnits(1.0, 273.15)          // °C → K offset, say
      .transform(_.cache())               // six actions below share the lineage

    println(s"[demo] members=${ens.members.mkString(",")} cells=${ens.df.count()}")

    val clim = ens.climatology()
    val anom = ens.anomaly()
    val zonal = ens.zonalMean()
    println(s"[demo] climatology rows=${clim.count()} " +
      s"anomaly rows=${anom.count()} zonal rows=${zonal.count()}")

    // model-vs-obs bias on the common grid: the Ensemble-algebra payoff
    val bias = ens.df.groupBy("time", "lat", "lon")
      .pivot("dataset", Seq("modelA", "obs"))
      .agg(first("value"))
      .withColumn("bias", col("modelA") - col("obs"))
      .agg(round(avg("bias"), 4).as("mean_bias"))
      .head().getDouble(0)
    println(s"[demo] mean model-obs bias=$bias (planted 1.5)")

    // --- R1 for real: the same pipeline fed from .nc FILES on disk ---
    // (write a 2-member NetCDF-3 classic ensemble, load it back with
    // Ensemble.loadGrid — the bcdp.load_local path — and reduce)
    import graft.sources.NetcdfClassic
    import graft.sources.NetcdfClassic.{NcAttr, NcDim}
    val ncDir = java.nio.file.Files.createTempDirectory("demo_nc").toString
    def writeNc(name: String, bias2: Double): Unit = {
      val lats = Array(-10.0, 0.0, 10.0)
      val lons = Array(100.0, 110.0)
      val times = Array(0.0, 31.0) // days since 2000-01-01 (Jan, Feb)
      val data = Array.tabulate(times.length * lats.length * lons.length)(
        i => 280.0 + bias2 + (i % 6))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$ncDir/$name.nc"),
        NetcdfClassic.write(
          Seq(NcDim("time", 2), NcDim("lat", 3), NcDim("lon", 2)),
          Seq(
            ("time", Seq(0), Seq(NcAttr("units", "days since 2000-01-01")), times),
            ("lat", Seq(1), Seq(NcAttr("units", "degrees_north")), lats),
            ("lon", Seq(2), Seq(NcAttr("units", "degrees_east")), lons),
            ("tas", Seq(0, 1, 2), Seq(NcAttr("units", "K")), data))))
    }
    writeNc("modelA", 1.5); writeNc("obs", 0.0)
    val fromNc = Ensemble.loadGrid(spark, s"$ncDir/*.nc", "tas")
      .homogenize().resample("month")
    println(s"[demo] netcdf members=${fromNc.members.mkString(",")} " +
      s"rows=${fromNc.df.count()}")
    spark.stop()
  }
}
