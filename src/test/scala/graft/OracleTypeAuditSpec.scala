package graft

import java.nio.file.Files
import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** Standing §2.8 rule-4 enforcement (round 10): every oracle SQL's
  * OUTPUT types must stay inside the closed set the driver's typed hash
  * accepts — {BIGINT, DOUBLE, VARCHAR, BOOLEAN, INTEGER}.
  *
  * Why: DuckDB silently widens window/aggregate SUM(BIGINT) to HUGEINT
  * (r9's only red row, q_pack_sequences.seq_id) and AVG-like forms to
  * DECIMAL. The values are identical, so a value-level differential
  * check passes while the driver's typed hash fails. This spec shells
  * out to tools/oracle_types.py, which DESCRIBEs all oracle strings in
  * DuckDB against the sf0.001 tables — no Spark execution needed, so it
  * runs in seconds and catches a widened oracle the moment it is
  * authored, not at the driver.
  *
  * Cancels (rather than fails) if python3/duckdb is unavailable, so the
  * suite stays runnable in a bare JVM-only environment; in this
  * container duckdb is present and the audit is live.
  */
class OracleTypeAuditSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def duckdbAvailable: Boolean =
    try Seq("python3", "-c", "import duckdb").! == 0
    catch { case _: Exception => false }

  /** The csv/jsonl roundtrip oracles DESCRIBE the side files under
    * target/roundtrip/ that the roundtrip queries write on execution.
    * From a clean target/ (fresh checkout, sbt clean) those files don't
    * exist until SourcesSpec or Verify happens to run first — suite
    * ordering is not a dependency graph — so materialize them here iff
    * missing. Types are tier-independent, so an existing different-tier
    * dump is fine as-is. */
  private def ensureRoundtripSideFiles(): Unit = {
    val missing = Seq("csv", "jsonl").filter { d =>
      !new java.io.File(s"${sources.Sources.roundtripRoot}/$d/_SUCCESS").exists()
    }
    if (missing.nonEmpty) {
      // reuse whatever session already lives in this JVM as-is: calling
      // builder().config(...).getOrCreate() against an existing session
      // RE-APPLIES these confs to it (and inherits its), making the
      // effective config suite-order-dependent — exactly the ordering
      // coupling this helper exists to remove (r11 review advice). Only
      // build a fresh local[2] session when none exists; round-trip
      // TYPES are tier- and partition-count-independent either way.
      val spark = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .getOrElse(Session.local(2))
      missing.foreach { d =>
        SparkEntry.queries(s"q_source_${d}_roundtrip")(spark, sfDir).count()
      }
    }
  }

  test("all oracle output types are in the driver-safe closed set") {
    assume(duckdbAvailable, "python3+duckdb not available; audit skipped")
    ensureRoundtripSideFiles()
    val json = Files.createTempFile("oracle_sql", ".json")
    try {
      Verify.writeOracleJson(json.toString)
      val out = new StringBuilder
      val rc = Seq("python3", "tools/oracle_types.py", sfDir, json.toString)
        .!(ProcessLogger(l => out.append(l).append('\n')))
      assert(rc == 0, s"oracle type audit failed:\n$out")
      // sanity: the audit actually saw the full oracle map, not an
      // empty file — guard against a silent no-op
      assert(out.toString.contains(s"${SparkEntry.oracleSql.size} oracles audited"),
        s"audit did not cover all oracles:\n$out")
    } finally Files.deleteIfExists(json)
  }

  test("every oracled query's Spark schema stays in the driver-safe type set") {
    // the Spark-side mirror of the DuckDB audit: a widened Spark output
    // column (e.g. DecimalType from an ANSI SUM, or a raw TimestampType
    // that §2.8 rule 5 says to format) breaks the driver's typed hash
    // just as surely as a DuckDB HUGEINT. Schema needs analysis only —
    // no execution — so all 138 keys audit in seconds.
    import org.apache.spark.sql.types._
    // same session-reuse rule as ensureRoundtripSideFiles (r11 review):
    // getOrCreate against a live shared session would re-apply these
    // confs to it; schemas need analysis only, so any session works
    val spark = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .getOrElse(Session.local(2))
    val ok: Set[DataType] =
      Set(LongType, DoubleType, StringType, BooleanType, IntegerType)
    val bad = SparkEntry.oracleSql.keys.toSeq.sorted.flatMap { key =>
      SparkEntry.queries(key)(spark, sfDir).schema.fields.collect {
        case f if !ok.contains(f.dataType) => s"$key.${f.name}: ${f.dataType}"
      }
    }
    assert(bad.isEmpty,
      s"oracled keys emit driver-unsafe Spark types:\n${bad.mkString("\n")}")
  }
}
