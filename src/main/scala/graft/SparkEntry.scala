package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_groupby")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2.
    * Iteration order is DETERMINISTIC (cheapest scan first, then
    * alphabetical): the first query executed in a fresh session absorbs
    * ~5 s of JVM/codegen/table warm-up, so a hash-ordered map smeared
    * that cost onto a different arbitrary key every time the key set
    * changed — pinning the order keeps per-query bench numbers
    * comparable across rounds. The warm-up key times only its own
    * scan: a shared build (the md5-dedup family's shingle digests and
    * candidate graph, say) is charged to the first key that needs it. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all =
      ops.Relational.queries ++ ops.Joins.queries ++ ops.Windows.queries ++
        ops.Functions.queries ++ ops.Streaming.queries ++ ops.Climate.queries ++
        ops.Text.queries ++ ops.Vectors.queries ++ ops.Dedup.queries ++
        ops.TextAnalysis.queries ++ ops.Multimodal.queries ++ ops.Ann.queries ++
        ops.Profiling.queries ++ sources.Sources.queries
    scala.collection.immutable.ListMap(
      all.toSeq.sortBy { case (k, _) => (k != "q_scan_project", k) }: _*)
  }
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ops.Relational.oracle ++ ops.Joins.oracle ++ ops.Windows.oracle ++
      ops.Functions.oracle ++ ops.Streaming.oracle ++ ops.Climate.oracle ++
      ops.Text.oracle ++ ops.Vectors.oracle ++ ops.TextAnalysis.oracle ++
      ops.Profiling.oracle ++ ops.Multimodal.oracle ++ sources.Sources.oracle
}
