package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.NetcdfClassic.{NcAttr, NcDim}

/** The selections of one member share one decode of its axes. */
class NcSelectionSpec extends AnyFunSuite {
  /** A view that counts the variables read through it. */
  private final class Counting(g: NetcdfSource.GridView) extends NetcdfSource.GridView {
    val reads = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def varNames: Seq[String] = g.varNames
    def dimsOf(v: String): Seq[String] = g.dimsOf(v)
    def read(v: String): Array[Double] = { reads(v) += 1; g.read(v) }
    def readSlab(v: String, starts: Seq[Long], counts: Seq[Long],
                 shape: Seq[Long]): Array[Double] = g.readSlab(v, starts, counts, shape)
    def attrs(v: String): Seq[NcAttr] = g.attrs(v)
  }

  /** time(2) × lat(2) × lon(3): two timed variables and one static. */
  private def member(): Counting = new Counting(NetcdfSource.openGrid(NetcdfClassic.write(
    dims = Seq(NcDim("time", 2), NcDim("lat", 2), NcDim("lon", 3)),
    vars = Seq(
      ("time", Seq(0), Seq(NcAttr("units", "days since 1970-01-01")), Array(0.0, 1.0)),
      ("lat", Seq(1), Nil, Array(0.0, 10.0)),
      ("lon", Seq(2), Nil, Array(100.0, 110.0, 120.0)),
      ("tas", Seq(0, 1, 2), Nil, Array.tabulate(12)(_.toDouble)),
      ("pr", Seq(0, 1, 2), Nil, Array.tabulate(12)(_ + 100.0)),
      ("orog", Seq(1, 2), Nil, Array.tabulate(6)(_ + 1000.0))))))

  private def cells(g: NetcdfSource.GridView, vars: Option[Seq[String]]): Int =
    NcSelection.of(g, vars, "lat", "lon", "time", NetcdfV2.NcPushed()).map { s =>
      var n = 0
      while (s.next()) n += 1
      n
    }.sum

  test("a 3-variable member decodes each axis once") {
    val g = member()
    assert(cells(g, None) == 12 + 12 + 6)
    assert(g.reads("lat") == 1 && g.reads("lon") == 1 && g.reads("time") == 1, g.reads)
  }

  test("the time axis is not decoded when no selected variable is timed") {
    val g = member()
    assert(cells(g, Some(Seq("orog"))) == 6)
    assert(g.reads("time") == 0 && g.reads("lat") == 1 && g.reads("lon") == 1, g.reads)
  }
}
