package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** `s` as a JSON string literal: the paths the two printed lines
    * embed may hold quotes, backslashes or control characters. */
  private def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default 32: the contract's local[32] box. Measured at sf0.1/149
    // keys: 60.8 s vs 80.5-83.6 s at the old local[4] default — the
    // CPU-bound md5/dedup keys scale near-linearly while the ~0.2 s
    // keys pay no visible extra per-task overhead. Output is proven
    // layout-invariant (local[16]/local[7] byte-identity, BASELINE.md).
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val results = SparkEntry.queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // member order inside the one JSON line is chosen for the harness's
    // stdout TAIL capture (last ~2000 chars): queries ASCENDING by cost
    // and the total LAST, so the tail always carries the most expensive
    // keys and the headline number even when the full ~6 KB line is
    // truncated from the front. JSON object order is non-semantic; the
    // fields and their meaning are unchanged.
    val qs = results.toSeq.sortBy(_._2)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val fullLine =
      s"""{"metric":"total","unit":"sec","sf":${jsonString(sfDir)},"queries":$qs,"value":$total}"""
    println(fullLine)
    // r18 (VERDICT r17 #1): the full line is ~6 KB, so the driver's
    // 2000-char stdout tail has NEVER contained a parseable JSON line
    // (BENCH_r01..r17 all have parsed:null). Additions-only fix: the
    // full per-query map ALSO lands in a sidecar file, and a COMPACT
    // line (total, sf, n, loadavg, sidecar path — well under 2000
    // chars) prints LAST so the tail always ends with parseable JSON.
    // /proc/loadavg is recorded so inflated host windows (r13/r17:
    // ±60% between back-to-back runs of identical code) can be
    // discounted mechanically instead of by re-running.
    val resultsPath = java.nio.file.Paths.get("bench_results.json").toAbsolutePath
    java.nio.file.Files.writeString(resultsPath, fullLine + "\n")
    val loadavg =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).trim
        .split("\\s+").take(3).mkString("[", ",", "]")
      catch { case _: Exception => "[]" }
    println(s"""{"metric":"total","unit":"sec","sf":${jsonString(sfDir)},""" +
      s""""n":${results.size},"value":$total,"loadavg":$loadavg,""" +
      s""""results":${jsonString(resultsPath.toString)}}""")
    spark.stop()
  }
}
