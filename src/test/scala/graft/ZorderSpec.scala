package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order layout contract: the expression-composed Morton key equals
  * a reference bit-interleave, and a z-ordered range partitioning
  * bounds EVERY dimension's per-partition spread where a
  * lexicographic sort bounds only the leading dimension's. */
class ZorderSpec extends AnyFunSuite with SparkSuite {
  private def mortonRef(xs: Seq[Long], bits: Int): Long = {
    val n = xs.length
    var z = 0L
    for (i <- 0 until bits; j <- 0 until n)
      z |= ((xs(j) >> i) & 1L) << (i * n + j)
    z
  }

  test("zorderValue == reference interleave over the full 2-dim grid") {
    import spark.implicits._
    val bits = 5
    val grid = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)).toDF("x", "y")
    val got = grid.select(col("x"), col("y"),
      ops.Bucketing.zorderValue(Seq(col("x"), col("y")), bits).as("z"))
      .collect()
    got.foreach { r =>
      val expect = mortonRef(Seq(r.getLong(0), r.getLong(1)), bits)
      assert(r.getLong(2) == expect, s"(${r.getLong(0)},${r.getLong(1)})")
    }
    // and the key is a bijection on the grid (no two cells collide)
    assert(got.map(_.getLong(2)).distinct.length == 32 * 32)
  }

  test("3-dim interleave places bit i of col j at position i*3+j") {
    import spark.implicits._
    val rows = Seq((1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L), (2L, 0L, 4L))
      .toDF("a", "b", "c")
      .select(ops.Bucketing.zorderValue(Seq(col("a"), col("b"), col("c")), 3).as("z"))
      .collect().map(_.getLong(0))
    assert(rows(0) == 1L)         // a bit0 -> z bit0
    assert(rows(1) == 2L)         // b bit0 -> z bit1
    assert(rows(2) == 4L)         // c bit0 -> z bit2
    assert(rows(3) == (1L << 3 | 1L << 8))  // a bit1 -> z bit3, c bit2 -> z bit8
  }

  test("z-order bounds both dims' partition spread; lex sort only the first") {
    import spark.implicits._
    val bits = 5
    val grid = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y))
      .toDF("x", "y")
    def spreads(df: org.apache.spark.sql.DataFrame, c: String): Seq[Long] =
      df.groupBy(spark_partition_id().as("p"))
        .agg((max(col(c)) - min(col(c))).as("spread"))
        .collect().map(_.getAs[Long]("spread")).toSeq
    val byZ = grid.withColumn("z",
        ops.Bucketing.zorderValue(Seq(col("x"), col("y")), bits))
      .repartitionByRange(16, col("z"))
    val byLex = grid.repartitionByRange(16, col("x"), col("y"))
    // lexicographic: x is tightly bounded but y spans the full domain
    assert(spreads(byLex, "y").max == 31L)
    // z-order: BOTH dims' spread is a fraction of the domain in every
    // partition (16 partitions over a 10-bit curve -> 64-cell tiles,
    // diameter 8 per dim; allow the range-partitioner's cut slack).
    // Spread Seqs hoisted: assert's clue is by-value, so an inline
    // spreads() call would re-run the Spark job even on green runs.
    val sx = spreads(byZ, "x")
    val sy = spreads(byZ, "y")
    assert(sx.max <= 15L, s"x spreads: $sx")
    assert(sy.max <= 15L, s"y spreads: $sy")
  }

  test("zorderWrite output actually prunes parquet row groups on EITHER dim") {
    // the end-to-end claim behind the layout: a predicate on the
    // SECOND dimension skips most row groups of a z-ordered write
    // (each file covers a bounded y-range) but none of a
    // lexicographic (x, y) write (every file spans all of y). Read
    // back and compare the scan's numOutputRows METRIC — rows
    // surviving parquet row-group pruning — not layout statistics.
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      def leaves(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case other => other.collectLeaves()
      }
      leaves(df.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec => f.metrics("numOutputRows").value }
        .sum
    }
    val out = java.nio.file.Files.createTempDirectory("graft_zprune").toString
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .toDF("x", "y")
    // 16 EXPLICIT range partitions over the 12-bit curve → 16×16
    // tiles, one file (= one row group at this size) each. Explicit
    // because AQE coalesces an unsized range shuffle of 4096 rows to
    // ONE partition — erasing the layout this test exists to measure.
    ops.Bucketing.zorderWrite(grid, s"$out/z",
      Seq("x" -> (0.0, 63.0), "y" -> (0.0, 63.0)), bits = 6, files = 16)
    grid.repartitionByRange(16, col("x"), col("y"))
      .sortWithinPartitions(col("x"), col("y"))
      .write.mode("overwrite").parquet(s"$out/lex")
    val pred = col("y") < 8 // second-dim predicate: 512 of 4096 rows
    val zRead = scanRows(spark.read.parquet(s"$out/z").filter(pred))
    val lexRead = scanRows(spark.read.parquet(s"$out/lex").filter(pred))
    // lex: every x-band file contains y<8 rows → nothing skipped
    assert(lexRead == 4096L, s"lex layout unexpectedly pruned: $lexRead")
    // z-order: only the tiles whose y-range meets [0,8) survive —
    // the bottom row of the 4×4 tile grid (allow range-cut slack)
    assert(zRead <= 2048L, s"z-order pruned nothing: $zRead of 4096 rows read")
    assert(zRead < lexRead, s"no skipping win: z=$zRead lex=$lexRead")
    // both layouts return identical query results
    assert(spark.read.parquet(s"$out/z").filter(pred).count() == 512L)
  }

  test("zorderWrite round-trips rows and clamps out-of-range values") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_z").toString
    val df = Seq((-5.0, 3.0), (0.5, 0.5), (99.0, 0.1)).toDF("a", "b")
    ops.Bucketing.zorderWrite(df, s"$out/t",
      Seq("a" -> (0.0, 1.0), "b" -> (0.0, 1.0)), bits = 4)
    val back = spark.read.parquet(s"$out/t")
    assert(back.count() == 3 && back.columns.toSet == Set("a", "b"))
  }
}
