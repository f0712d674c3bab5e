package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the OBSERVED fixture parquet schemas so a driver-side
  * regeneration fails as ONE named test here instead of 33 opaque
  * per-query errors (the r7 incident: events.ts flipped from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS, NTZ) and every
  * events-consuming key went red at analysis time).
  *
  * Also unit-tests every branch of [[Tables.normalizeEventTs]] — the
  * single place ts physical-type drift is absorbed — including the
  * loud-failure paths (unsupported type; non-UTC session TZ under the
  * NTZ cast).
  */
class FixtureSchemaSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  /** Raw observed schema — deliberately NOT via Tables.table, so this
    * sees exactly what's on disk (modulo the nanosAsLong legacy conf,
    * which the engine always sets before reading events). */
  private def observed(name: String): Seq[(String, DataType)] = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/$name.parquet")
      .schema.fields.toSeq.map(f => (f.name, f.dataType))
  }

  test("fixture schemas: TPC-H-ish tables") {
    assert(observed("region") == Seq(
      "r_regionkey" -> IntegerType, "r_name" -> StringType))
    assert(observed("nation") == Seq(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType))
    assert(observed("customer") == Seq(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType))
    assert(observed("supplier") == Seq(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType))
    assert(observed("part") == Seq(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType))
    assert(observed("orders") == Seq(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType))
    assert(observed("lineitem") == Seq(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType))
  }

  test("fixture schemas: events / documents / embeddings") {
    val ev = observed("events")
    assert(ev.map(_._1) == Seq("event_id", "ts", "user_id", "event_type",
      "value", "props"))
    // ts has shipped as raw NANOS-Long, TIMESTAMP_NTZ micros, and
    // TIMESTAMP across driver regenerations; pin today's type exactly
    // AND assert membership in the supported set so the failure message
    // names the drift either way.
    val tsType = ev.toMap.apply("ts")
    assert(Set[DataType](LongType, TimestampNTZType, TimestampType)(tsType),
      s"events.ts drifted to unsupported type $tsType — extend Tables.normalizeEventTs")
    assert(tsType == TimestampNTZType, s"events.ts physical type drifted to $tsType")
    assert(observed("documents") == Seq(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType))
    assert(observed("embeddings") == Seq(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType, true),
      "label" -> IntegerType))
    // embedding width is a contract for the ANN/k-means stack
    assert(spark.read.parquet(s"$dir/embeddings.parquet")
      .select(size(col("embedding"))).distinct().collect().map(_.getInt(0)).toSeq == Seq(64))
    // NOT NULL is a contract for the quantize/knn oracles: Spark's
    // concat_ws returns "" for a NULL array where DuckDB's
    // array_to_string returns NULL (r9 advice) — a NULL embedding
    // would silently diverge grading, so fail HERE, by name, instead
    assert(spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("embedding").isNull).count() == 0,
      "embeddings fixture contains NULL vectors — q_vec_quantize/q_str " +
        "grading assumes NOT NULL")
  }

  test("Tables.events normalizes to TimestampType whatever the fixture ships") {
    assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType)
  }

  // --- normalizeEventTs unit cases, one per branch ---

  test("normalizeEventTs: LongType branch (raw nanos → micros, exact DIV)") {
    import spark.implicits._
    val df = Seq((1L, 1700000000123456789L)).toDF("event_id", "ts")
    val out = Tables.normalizeEventTs(df)
    assert(out.schema("ts").dataType == TimestampType)
    // 123456789 ns truncates to 123456 µs — matches DuckDB's ns→µs
    assert(out.select(unix_micros(col("ts"))).head().getLong(0) == 1700000000123456L)
  }

  test("normalizeEventTs: TimestampNTZType branch (UTC-pinned cast)") {
    import spark.implicits._
    val df = Seq((1L, "2024-03-01 12:34:56.789"))
      .toDF("event_id", "s")
      .withColumn("ts", col("s").cast(TimestampNTZType)).drop("s")
    val out = Tables.normalizeEventTs(df)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS"))
      .head().getString(0) == "2024-03-01 12:34:56.789")
  }

  test("normalizeEventTs: NTZ branch refuses a non-UTC session TZ") {
    import spark.implicits._
    val df = Seq((1L, "2024-03-01 12:34:56"))
      .toDF("event_id", "s")
      .withColumn("ts", col("s").cast(TimestampNTZType)).drop("s")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val ex = intercept[IllegalStateException](Tables.normalizeEventTs(df))
      assert(ex.getMessage.contains("timeZone"))
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("normalizeEventTs: TimestampType branch is a no-op") {
    import spark.implicits._
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-03-01 12:34:56")))
      .toDF("event_id", "ts")
    assert(Tables.normalizeEventTs(df) eq df)
  }

  test("normalizeEventTs: unsupported type fails loudly") {
    import spark.implicits._
    val df = Seq((1L, "2024-03-01")).toDF("event_id", "ts")
    val ex = intercept[IllegalStateException](Tables.normalizeEventTs(df))
    assert(ex.getMessage.contains("unsupported"))
  }
}
