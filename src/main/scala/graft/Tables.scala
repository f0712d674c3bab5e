package graft

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Memoized per-(session, sfDir) base-table loaders ([[Memo]]).
  *
  * At harness scale every table is small (≤600k rows at sf0.1), so we
  * cache all of them: the bench runs ~60 queries that would otherwise
  * re-scan the same parquet each time. The 100 TB design gate is noted
  * per call site: in production only *dimension* tables (region, nation,
  * customer, supplier, part) would be cached/broadcast; fact tables
  * (lineitem, orders, events, documents, embeddings) stream from
  * columnar storage so predicate pushdown + column pruning stay active.
  * Caching here is a bench optimization, never a correctness dependency.
  */
object Tables {
  private def uuid(spark: SparkSession): String =
    org.apache.spark.sql.GraftBridge.sessionUUID(spark)

  /** Set SPARK_GRAFT_NOCACHE=1 to disable caching (e.g. to inspect
    * PushedFilters in `.explain` output on the raw parquet scan). */
  private def cachingEnabled: Boolean =
    !sys.env.get("SPARK_GRAFT_NOCACHE").contains("1")

  /** Only dimension-sized tables are cached. The fact tables (lineitem,
    * orders, events) stream from parquet: the vectorized columnar scan
    * with pushdown + pruning is cheaper than materializing a cache that
    * most queries touch once — measured at sf0.1, caching lineitem cost
    * 5-7 s up front to save ~0.3 s per scan. This is exactly the 100 TB
    * gate: cache/broadcast dimensions, never facts. */
  private val cacheable = Set("region", "nation", "customer", "supplier",
    "part", "documents", "embeddings")

  private val dirSize = TrieMap.empty[String, Long]
  private val sessionDefaults = TrieMap.empty[String, (String, String)]

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  /** Tiny-input fast path (measured: AQE's re-optimization loop costs
    * ~18% of total wall-clock across the query set at sf0.1 while
    * having nothing to adapt — no skew, no partitions to coalesce at
    * 4-32 shuffle partitions). Below 256 MB of total input, turn AQE
    * off for the session; at production scale the gate leaves it on,
    * where runtime re-planning (skew splits, join demotion) is worth
    * its cost. Size, not scale-factor name, drives the decision.
    * Set SPARK_GRAFT_NOTUNE=1 to leave AQE/partition confs untouched. */
  // synchronized: the conf writes are session-global, so two threads
  // loading dirs of different sizes concurrently would interleave the
  // AQE/partition settings (harness is single-threaded; the lock makes
  // the library safe for concurrent callers at negligible cost)
  private def tuneForScale(spark: SparkSession, sfDir: String): Unit = synchronized {
    if (sys.env.get("SPARK_GRAFT_NOTUNE").contains("1")) return
    // size measured RECURSIVELY (Spark-written tables are directories of
    // part files — a flat sum would see ~4 KB per table and misfire the
    // gate on production-scale data) and memoized per dir; the conf is
    // re-applied on every call so interleaving a tiny and a large dir in
    // one session always runs each query under its own dir's regime.
    val total = dirSize.getOrElseUpdate(sfDir, {
      val root = new java.io.File(sfDir)
      if (root.exists()) dirBytes(root) else Long.MaxValue
    })
    val defaults = sessionDefaults.getOrElseUpdate(uuid(spark), (
      spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.shuffle.partitions")))
    if (total < 256L * 1024 * 1024) {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // don't fan tiny shuffles across a big core count: 4 partitions
      // keep every stage 1-wave even at local[32]
      if (defaults._2.toInt > 4)
        spark.conf.set("spark.sql.shuffle.partitions", "4")
    } else {
      // large input: the session's own settings apply (AQE on, operator
      // parallelism as configured) — and restore them if a tiny dir was
      // loaded earlier in this session
      spark.conf.set("spark.sql.adaptive.enabled", defaults._1)
      spark.conf.set("spark.sql.shuffle.partitions", defaults._2)
    }
  }

  /** The ONE place event-timestamp physical-type drift is absorbed.
    *
    * The driver regenerates the fixture parquet between rounds and has
    * already shipped `events.ts` as both TIMESTAMP(NANOS) (reads as raw
    * Long under the `nanosAsLong` legacy conf) and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (reads as TIMESTAMP_NTZ). Branch on the
    * OBSERVED type rather than assuming either:
    *  - LongType        → raw nanos; integer DIV to µs (exact — matches
    *                      DuckDB's ns→µs truncation),
    *  - TimestampNTZType → cast to TimestampType (session TZ is pinned
    *                      UTC everywhere, so the cast is value-preserving),
    *  - TimestampType   → already what every consumer expects.
    * Any other type fails loudly here, not as N opaque per-query errors.
    * Callers must set the `nanosAsLong` conf BEFORE the read that
    * produces `df` so the legacy-fixture path still resolves.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      // A Long ts is only ever the nanosAsLong mapping of TIMESTAMP(NANOS);
      // a fixture shipping genuine INT64 micros/millis would need a new
      // branch here (it would show up as an epoch-magnitude mismatch in
      // FixtureSchemaSpec, not silently).
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        // NTZ→TZ cast is value-preserving ONLY under a UTC session TZ;
        // fail loudly rather than silently shifting every event time.
        // Compare resolved offsets, not the literal string — "Etc/UTC",
        // "GMT", "+00:00" and "Z" are all value-equivalent to "UTC".
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        val isUtc = try {
          java.time.ZoneId.of(tz, java.time.ZoneId.SHORT_IDS).normalized() ==
            java.time.ZoneOffset.UTC
        } catch { case _: java.time.DateTimeException => false }
        if (!isUtc) throw new IllegalStateException(
          s"normalizeEventTs requires a UTC session timeZone for the " +
            s"TIMESTAMP_NTZ fixture cast; session has '$tz'")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts has unsupported parquet-mapped type $other; " +
          "extend Tables.normalizeEventTs for the new fixture schema")
    }
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    tuneForScale(spark, sfDir)
    Memo.artifact(spark, sfDir, s"table $name") {
      val df =
        if (name == "events") {
          // conf first: a TIMESTAMP(NANOS) fixture only reads at all
          // when the legacy conf maps it to raw Long
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          normalizeEventTs(spark.read.parquet(s"$sfDir/$name.parquet"))
        } else spark.read.parquet(s"$sfDir/$name.parquet")
      if (cachingEnabled && cacheable(name)) df.cache() else df
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
