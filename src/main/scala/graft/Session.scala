package graft
import org.apache.spark.sql.SparkSession

/** The one way the library's mains and tests build a Spark session. */
object Session {
  /** Size of Spark's generated-class cache (a static conf, default 100).
    * One `graft.Bench` pass over all 193 keys compiles 1414 distinct
    * classes and a second pass 28 more (`CodegenMetrics` compilation
    * count at sf0.1, local[4]). At 100 entries the same two passes
    * compile 1928 and 1535 classes: every pass evicts and recompiles
    * most of what the previous one built. 2048 holds both passes. */
  val CodegenCacheEntries = 2048

  /** Builds (or adopts, through `getOrCreate`) a local session:
    * `local[cpus]`, one shuffle partition per core, session time zone
    * UTC, no UI, log level WARN. `cpus` defaults to `SPARK_GRAFT_CPUS`
    * (default 32: at sf0.1 the CPU-bound md5/dedup keys ran 60.8 s at
    * local[32] against 80.5-83.6 s at local[4], and output is proven
    * layout-invariant, BASELINE.md). `maxFailures` above 1 lets a
    * failed task be retried, which local mode otherwise never does.
    * The codegen cache holds [[CodegenCacheEntries]] classes. */
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      maxFailures: Int = 1): SparkSession = {
    val spark = SparkSession.builder()
      .master(if (maxFailures == 1) s"local[$cpus]" else s"local[$cpus,$maxFailures]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
