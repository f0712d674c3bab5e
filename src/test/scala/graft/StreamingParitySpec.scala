package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams

/** The declared batch queries are the fixpoints of the true streaming
  * queries (SURVEY §2.7). Parity laws:
  *  - dedup: identical result sets (keyed dedup has no open-window
  *    state at end-of-stream);
  *  - tumbling: streaming append-mode output = batch output MINUS the
  *    windows the final watermark hasn't passed (still-open tail).
  */
class StreamingParitySpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  private def runStream(name: String,
                        mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    val q = mk(EventStreams.readEvents(spark, dir)).writeStream
      .outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  test("streaming dedup == batch dedup fixpoint") {
    val streamed = runStream("par_dedup", EventStreams.dedup)
      .select("user_id", "event_type", "event_id")
    val batch = SparkEntry.queries("q_stream_dedup")(spark, dir)
      .select("user_id", "event_type", "event_id")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream-stream interval join == batch interval join") {
    import org.apache.spark.sql.functions._
    val streamed = runStream("par_join", EventStreams.purchaseSignupJoin)
      .select("p_id", "s_ts")
    val e = Tables.events(spark, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val s = e.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
    val batch = p.join(s,
        col("p_user") === col("s_user")
          && col("s_ts") <= col("p_ts")
          && col("s_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS"))
      .select("p_id", "s_ts")
    // inner stream-stream join emits matches as both sides arrive; a
    // single-batch replay of a static directory emits them all
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  /** Parity law for the INCREMENTAL sessionizer: every emitted session
    * matches the batch fixpoint exactly, and the only missing ones are
    * open tails the final watermark (max ts − 1 h) hasn't closed
    * (session_end + 30 min gap ≥ watermark). */
  private def checkSessionParity(table: String): Unit = {
    val streamed = spark.table(table)
      .select(col("user_id"),
        date_format(timestamp_micros(col("session_start_us")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(timestamp_micros(col("session_end_us")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("sum_micros"))
    val batch = SparkEntry.queries("q_stream_session")(spark, dir)
      .select("user_id", "session_start", "session_end", "n_events", "sum_micros")
    assert(streamed.exceptAll(batch).count() == 0,
      "streamed emitted a session the batch fixpoint doesn't have")
    val maxTs = Tables.events(spark, dir).agg(max("ts")).head().getTimestamp(0)
    val cutoff = new java.sql.Timestamp(maxTs.getTime - (60 + 30) * 60 * 1000)
    val missing = batch.exceptAll(streamed)
    val nonTail = missing.filter(col("session_end") <
      date_format(lit(cutoff), "yyyy-MM-dd HH:mm:ss"))
    assert(nonTail.count() == 0,
      "batch sessions missing from the stream that the watermark should have closed")
    assert(streamed.count() > 0)
  }

  test("left-outer stream-stream join == graded closed fixpoint") {
    import org.apache.spark.sql.functions._
    // the REAL left-outer watermarked stream: matches + NULL rows for
    // purchases the final watermark evicted unmatched
    val streamed = runStream("par_ljoin", EventStreams.purchaseSignupLeftJoin)
      .select(col("p_id"), unix_micros(col("s_ts")).as("s_us"))
    val closed = SparkEntry.queries("q_stream_join_left_closed")(spark, dir)
      .select(col("p_id"), col("s_us"))
    // EXACT set equality — the eviction rule (min-of-watermarks,
    // ms-floor, strict <) is graded semantics, not slack
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(closed).count() == 0)
    assert(closed.exceptAll(streamed).count() == 0)
    // and the NULL rows specifically are non-empty at this tier
    assert(closed.filter(col("s_us").isNull).count() > 0)
  }

  test("incremental stateful sessionization == batch fixpoint (single batch)") {
    val q = EventStreams.sessionsStateful(spark, EventStreams.readEvents(spark, dir))
      .writeStream.outputMode("append").format("memory")
      .queryName("par_sessions").start()
    q.processAllAvailable(); q.stop()
    checkSessionParity("par_sessions")
  }

  /** Events split into 6 chronological files so maxFilesPerTrigger=1
    * forces 6 batches with advancing watermarks between them.
    * Normalize ts up front (whatever physical type the fixture ships)
    * so the chunks are written as plain TIMESTAMP — exercising the
    * TimestampType branch of readEventsStream's schema probe. Built
    * once; shared by every multi-batch replay test. */
  private lazy val chunkedDir: String = {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    EventStreams.writeChronologicalChunks(
      Tables.normalizeEventTs(spark.read.parquet(s"$dir/events.parquet")),
      n = 6, destDir = streamDir)
    streamDir
  }

  private def runStreamMultiBatch(name: String,
                                  mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    val q = mk(EventStreams.readEventsStream(spark, chunkedDir,
        maxFilesPerTrigger = Some(1))).writeStream
      .outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  test("incremental stateful sessionization survives MULTI-batch replay") {
    val q = EventStreams.sessionsStateful(spark,
        EventStreams.readEventsStream(spark, chunkedDir, maxFilesPerTrigger = Some(1)))
      .writeStream.outputMode("append").format("memory")
      .queryName("par_sessions_mb").start()
    q.processAllAvailable(); q.stop()
    checkSessionParity("par_sessions_mb")
  }

  test("stateful sessionization is state-backend-agnostic: RocksDB == fixpoint") {
    // At 100 TB the sessionizer runs on the RocksDB state store (state
    // spills off-heap/disk instead of living in executor heap). The
    // law: the backend changes WHERE state lives, never WHAT is
    // emitted — same multi-batch replay, same parity as the default
    // HDFS-backed store.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = EventStreams.sessionsStateful(spark,
          EventStreams.readEventsStream(spark, chunkedDir, maxFilesPerTrigger = Some(1)))
        .writeStream.outputMode("append").format("memory")
        .queryName("par_sessions_rocks").start()
      q.processAllAvailable(); q.stop()
      checkSessionParity("par_sessions_rocks")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState sessionization == batch fixpoint (multi-batch, timers)") {
    // Spark 4's arbitrary-state successor API: ValueState + explicit
    // event-time timers instead of flatMapGroupsWithState's timeout
    // slot. Same law as the fMGWS sessionizer — every emission matches
    // the batch fixpoint; only watermark-open tails may be missing —
    // exercised across a 6-batch replay so extensions delete and
    // re-arm timers between batches.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = EventStreams.sessionsTws(spark,
          EventStreams.readEventsStream(spark, chunkedDir, maxFilesPerTrigger = Some(1)))
        .writeStream.outputMode("append").format("memory")
        .queryName("par_sessions_tws").start()
      q.processAllAvailable(); q.stop()
      checkSessionParity("par_sessions_tws")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState refuses to run off the RocksDB state store") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    // the session default is the HDFS-backed provider — not RocksDB
    assert(!spark.conf.get(key).contains("RocksDB"))
    val e = intercept[IllegalArgumentException] {
      EventStreams.sessionsTws(spark, EventStreams.readEvents(spark, dir))
    }
    assert(e.getMessage.contains("RocksDB"))
  }

  test("readEventsStream streams a Spark-written table DIRECTORY fixture") {
    // if the fixture regenerates events.parquet as a DIRECTORY, the
    // schema probe descends to a part file — and the stream must point
    // AT the directory (pathGlobFilter matches leaf file names, so the
    // dir+filter form would list zero files and emit an empty stream,
    // silently)
    val root = java.nio.file.Files.createTempDirectory("graft_dirfix").toString
    Tables.events(spark, dir).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/events.parquet")
    val q = EventStreams.readEventsStream(spark, root, glob = "events.parquet")
      .groupBy().count()
      .writeStream.outputMode("complete").format("memory")
      .queryName("par_dirfix").start()
    q.processAllAvailable(); q.stop()
    val n = spark.table("par_dirfix").head().getLong(0)
    assert(n == Tables.events(spark, dir).count(),
      "directory-shaped fixture streamed the wrong row count")
  }

  test("readEventsStream absorbs a raw-Long ts directory (nanos branch end-to-end)") {
    // the batch unit tests cover normalizeEventTs per branch; this
    // proves the STREAM reader's schema probe routes the Long branch —
    // a directory whose ts is raw INT64 nanos streams back with
    // identical event times to the normalized batch read
    val tmp = java.nio.file.Files.createTempDirectory("graft_nanos").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = Tables.normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
    raw.withColumn("ts", unix_micros(col("ts")) * 1000L)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val st = EventStreams.readEventsStream(spark, tmp)
    assert(st.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val q = st.writeStream.outputMode("append").format("memory")
      .queryName("nanos_probe").start()
    q.processAllAvailable(); q.stop()
    val streamedMax = spark.table("nanos_probe")
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val batchMax = raw.agg(max(unix_micros(col("ts")))).head().getLong(0)
    assert(streamedMax == batchMax)
    assert(spark.table("nanos_probe").count() ==
      Tables.events(spark, dir).count())
  }

  test("schemaHint starts a stream on an empty landing directory; no hint fails loudly") {
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_empty").toString
    val hint = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val st = EventStreams.readEventsStream(spark, tmp, schemaHint = Some(hint))
    assert(st.schema("ts").dataType == TimestampType)
    val q = st.writeStream.outputMode("append").format("memory")
      .queryName("empty_landing").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("empty_landing").count() == 0)
    val ex = intercept[IllegalStateException](
      EventStreams.readEventsStream(spark, tmp))
    assert(ex.getMessage.contains("schemaHint"))
  }

  test("every stream form carries its event-time watermark") {
    // losing a withWatermark wouldn't fail parity on a finite replay
    // (complete evaluation hides it) but unbounds state at scale —
    // pin the analyzed plan instead
    val forms = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      ("tumbling", EventStreams.tumbling), ("sliding", EventStreams.sliding),
      ("session", EventStreams.session), ("dedup", EventStreams.dedup),
      ("join", EventStreams.purchaseSignupJoin))
    forms.foreach { case (name, mk) =>
      val lp = mk(EventStreams.readEvents(spark, dir))
        .queryExecution.analyzed.toString
      assert(lp.contains("EventTimeWatermark"),
        s"stream form '$name' lost its watermark:\n$lp")
    }
  }

  test("streaming session append output == graded closed-session fixpoint") {
    // q_stream_session_closed is DuckDB-graded with the exact emission
    // rule (ms-floored watermark passes last event + gap), so this pins
    // the NATIVE session_window stream's append output to the oracle
    // transitively — EXACT set equality. The stream's window end is
    // last event + gap; subtract the gap to compare on the graded
    // key's (start, last-event end) shape. Sums are compared via
    // n_events only: the stream form sums raw doubles while the graded
    // key sums exact micros.
    val streamed = runStream("par_session_nat", EventStreams.session)
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_window.end") - expr("INTERVAL 30 MINUTES"),
          "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
    val closed = SparkEntry.queries("q_stream_session_closed")(spark, dir)
      .select("user_id", "session_start", "session_end", "n_events")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(closed).count() == 0,
      "stream emitted a session the closed-session fixpoint doesn't have")
    assert(closed.exceptAll(streamed).count() == 0,
      "closed session missing from the stream's append output")
  }

  test("streaming sliding append output == graded closed-sliding fixpoint") {
    val streamed = runStream("par_sliding", EventStreams.sliding)
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("event_type"), col("cnt"))
    val closed = SparkEntry.queries("q_stream_sliding_closed")(spark, dir)
      .select("ws", "event_type", "cnt")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(closed).count() == 0,
      "stream emitted a window the closed-sliding fixpoint doesn't have")
    assert(closed.exceptAll(streamed).count() == 0,
      "closed sliding window missing from the stream's append output")
  }

  test("MULTI-batch tumbling replay == graded closed-window fixpoint") {
    // the single-batch test flushes everything in one final no-data
    // batch; a 6-batch replay emits windows INCREMENTALLY as the
    // watermark advances between batches. The law: whatever the
    // chunking, the append output at end-of-stream is exactly the
    // graded closed set — nothing re-emitted, nothing dropped.
    val streamed = runStreamMultiBatch("par_tumbling_mb", EventStreams.tumbling)
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("cnt"))
    val closed = SparkEntry.queries("q_stream_tumbling_closed")(spark, dir)
      .select("ws", "cnt")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(closed).count() == 0,
      "multi-batch stream emitted a window outside the closed fixpoint " +
        "(re-emission or a wrong-count early emission)")
    assert(closed.exceptAll(streamed).count() == 0,
      "closed window missing from the multi-batch append output")
  }

  test("MULTI-batch session replay == graded closed-session fixpoint") {
    val streamed = runStreamMultiBatch("par_session_mb", EventStreams.session)
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_window.end") - expr("INTERVAL 30 MINUTES"),
          "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
    val closed = SparkEntry.queries("q_stream_session_closed")(spark, dir)
      .select("user_id", "session_start", "session_end", "n_events")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(closed).count() == 0,
      "multi-batch stream emitted a session outside the closed fixpoint " +
        "(a session split across batches emitted before it was complete)")
    assert(closed.exceptAll(streamed).count() == 0,
      "closed session missing from the multi-batch append output")
  }

  test("streaming tumbling append output == graded closed-window fixpoint") {
    // q_stream_tumbling_closed is DuckDB-graded, so this pins the
    // true-streaming emission rule (emit once watermark ≥ window end)
    // to the oracle transitively — EXACT set equality, no tail slack.
    val streamed = runStream("par_tumbling", EventStreams.tumbling)
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("cnt"))
    val closed = SparkEntry.queries("q_stream_tumbling_closed")(spark, dir)
      .select("ws", "cnt")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(closed).count() == 0,
      "stream emitted a window the closed-window fixpoint doesn't have")
    assert(closed.exceptAll(streamed).count() == 0,
      "closed window missing from the stream's append output")
  }
}
