package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 grid source must produce exactly the uniform mesh, in
  * parallel partitions, with correct cell centers. */
class GridSourceSpec extends AnyFunSuite with SparkSuite {
  private def grid(opts: (String, String)*) = {
    val r = spark.read.format("graft.sources.GridSource")
    opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
  }

  test("global 10-degree mesh has 18x36 centers at half-res offsets") {
    val g = grid("latRes" -> "10", "lonRes" -> "10", "numPartitions" -> "4")
    assert(g.count() == 18L * 36L)
    assert(g.rdd.getNumPartitions == 4)
    val r = g.agg(min("lat"), max("lat"), min("lon"), max("lon")).head()
    assert(r.getDouble(0) == -85.0 && r.getDouble(1) == 85.0)
    assert(r.getDouble(2) == -175.0 && r.getDouble(3) == 175.0)
  }

  test("bounded sub-grid and degenerate (empty) grid") {
    val g = grid("latMin" -> "0", "latMax" -> "10", "lonMin" -> "20",
      "lonMax" -> "25", "latRes" -> "5", "lonRes" -> "2.5")
    assert(g.count() == 2L * 2L)
    val empty = grid("latMin" -> "0", "latMax" -> "0")
    assert(empty.count() == 0L)
  }

  test("regrid pipeline: bin cells onto the DSv2 target mesh") {
    import spark.implicits._
    // a fine 1-degree patch averaged onto a 5-degree DSv2 mesh via the
    // same floor-binning ClimateOps.regridBin uses
    val fine = grid("latMin" -> "0", "latMax" -> "10", "lonMin" -> "0",
      "lonMax" -> "10", "latRes" -> "1", "lonRes" -> "1")
      .withColumn("value", col("lat") + col("lon"))
    val binned = fine.groupBy(
        (floor(col("lat") / 5.0) * 5.0).as("lat_bin"),
        (floor(col("lon") / 5.0) * 5.0).as("lon_bin"))
      .agg(count(lit(1)).as("n"), avg("value").as("v"))
    assert(binned.count() == 4 && binned.filter($"n" =!= 25).count() == 0)
  }
}
