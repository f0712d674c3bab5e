package graft

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Memoized per-(session, sfDir) base-table loaders ([[Memo]]).
  *
  * [[cacheable]] names the tables kept in memory: the five TPC-H
  * dimensions (region, nation, customer, supplier, part) plus
  * `documents` and `embeddings`, which the text, dedup and vector keys
  * scan again and again. lineitem, orders and events stream from
  * parquet so predicate pushdown + column pruning stay active. At
  * 100 TB `documents` and `embeddings` are fact-sized, and only the
  * dimensions would stay cached/broadcast. Caching here is a bench
  * optimization, never a correctness dependency.
  */
object Tables {
  private def uuid(spark: SparkSession): String =
    org.apache.spark.sql.GraftBridge.sessionUUID(spark)

  /** Set SPARK_GRAFT_NOCACHE=1 to disable caching (e.g. to inspect
    * PushedFilters in `.explain` output on the raw parquet scan). */
  private def cachingEnabled: Boolean =
    !sys.env.get("SPARK_GRAFT_NOCACHE").contains("1")

  /** The dimensions, plus the two payload tables (fact-sized at 100 TB).
    * lineitem, orders and events stream from parquet: the vectorized
    * columnar scan with pushdown + pruning is cheaper than materializing
    * a cache that most queries touch once — measured at sf0.1, caching
    * lineitem cost 5-7 s up front to save ~0.3 s per scan. */
  private val cacheable = Set("region", "nation", "customer", "supplier",
    "part", "documents", "embeddings")

  private val dirSize = TrieMap.empty[String, Long]
  private val sessionDefaults = TrieMap.empty[String, Map[String, String]]

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  /** One conf of the tiny-input regime: below `belowBytes` of total
    * input it is set to `tiny(v)`, where `v` is the session's own value,
    * and at or above the gate it is back at `v`. */
  private final case class Tuned(conf: String, belowBytes: Long, tiny: String => String)

  /** The tiny-input regime.
    *  - AQE off below 256 MB: its re-optimization loop cost ~18% of
    *    total wall-clock across the query set at sf0.1 with nothing to
    *    adapt (no skew, no partitions to coalesce at 4-32 shuffle
    *    partitions).
    *  - At most 4 shuffle partitions below 256 MB: tiny shuffles are
    *    not fanned across a big core count, so every stage is one wave
    *    even at local[32].
    *  - No code generation below 4 MB: whole-stage codegen off, and
    *    every projection, predicate and ordering factory interpreted.
    *    A pass over a tiny tier otherwise compiles 200-390 Janino
    *    classes, and compiling and JIT-ing them costs more than the
    *    rows they run over. Compiled code wins back its cost as input
    *    grows and as passes repeat, so the gate sits below the size
    *    where a cold plus a warm pass cost the same either way.
    *    Measured over the 193 keys with `tools.Profile --passes 2` on
    *    local[4], codegen on -> off (mean of two runs per side at
    *    sf0.01, one at sf0.1): 1.8 MB (sf0.01) cold 101 -> 83 s, warm
    *    36 -> 41 s; 17 MB (sf0.1) cold 146 -> 130 s, warm 54 -> 82 s;
    *    the totals cross near 7 MB by log-size interpolation. At
    *    134 MB (the `--scale` tier) the 20 slowest keys alone take
    *    133 -> 178 s cold and 39 -> 76 s warm. */
  private val tinyInput: Seq[Tuned] = Seq(
    Tuned("spark.sql.adaptive.enabled", 256L << 20, _ => "false"),
    Tuned("spark.sql.shuffle.partitions", 256L << 20, d => math.min(d.toInt, 4).toString),
    Tuned("spark.sql.codegen.factoryMode", 4L << 20, _ => "NO_CODEGEN"))

  /** The confs [[tuneForScale]] sets. */
  private[graft] def regimeConfs: Seq[String] = tinyInput.map(_.conf)

  /** Sets every conf of [[tinyInput]] from the total input size of
    * `sfDir`: its tiny-input value below its gate, the session's own
    * value (AQE on, one shuffle partition per core, whole-stage
    * codegen) at or above it, where runtime re-planning (skew splits,
    * join demotion) and compiled code are worth their cost. Size, not
    * scale-factor name, drives the decision. Set SPARK_GRAFT_NOTUNE=1
    * to leave every conf of the table untouched. */
  // synchronized: the conf writes are session-global, so two threads
  // loading dirs of different sizes concurrently would interleave the
  // regimes (the lock makes the library safe for concurrent callers at
  // negligible cost)
  private def tuneForScale(spark: SparkSession, sfDir: String): Unit = synchronized {
    if (sys.env.get("SPARK_GRAFT_NOTUNE").contains("1")) return
    // size measured RECURSIVELY (Spark-written tables are directories of
    // part files — a flat sum would see ~4 KB per table and misfire the
    // gate on production-scale data) and memoized per dir; the confs are
    // re-applied on every call so interleaving a tiny and a large dir in
    // one session always runs each query under its own dir's regime.
    val total = dirSize.getOrElseUpdate(sfDir, {
      val root = new java.io.File(sfDir)
      if (root.exists()) dirBytes(root) else Long.MaxValue
    })
    val defaults = sessionDefaults.getOrElseUpdate(uuid(spark),
      tinyInput.map(t => t.conf -> spark.conf.get(t.conf)).toMap)
    tinyInput.foreach { t =>
      val own = defaults(t.conf)
      spark.conf.set(t.conf, if (total < t.belowBytes) t.tiny(own) else own)
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
