package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `Verify <sfDir> <outDir> [key,key,...]`: a key list re-dumps only
    * those keys (in list order) with an `oracle_sql.json` holding only
    * their entries, e.g. to retry single oracle comparisons without
    * repeating the full run. */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, only @ _*) = args
    val queries = SparkEntry.queries
    val keys = only.headOption.fold(queries.keys.toSeq)(_.split(",").toSeq)
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    keys.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleJson(s"$outDir/oracle_sql.json", keys.toSet)
    spark.stop()
  }

  /** Dump SparkEntry.oracleSql (the entries of `keys`, by default all)
    * as JSON (shared with OracleTypeAuditSpec, which feeds it to
    * tools/oracle_types.py without a Spark run). */
  def writeOracleJson(path: String, keys: String => Boolean = _ => true): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.iterator.filter { case (k, _) => keys(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(path), json)
  }
}
