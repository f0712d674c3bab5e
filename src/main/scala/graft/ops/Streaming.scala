package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Det, Tables}
import Det._

/** SURVEY §2.9 family F — streaming semantics, batch-emulated (§2.7).
  *
  * Each query is the *final* result the Structured Streaming variant
  * (graft.streaming.EventStreams) would emit in complete mode once the
  * source is exhausted: a streaming query is an incremental view over
  * an unbounded table, so the batch plan over the full events table is
  * its fixpoint. Event-time only (no processing time), value sums in
  * exact integer micro-units.
  *
  * Scale notes: tumbling/sliding aggregation states are bounded by
  * (#windows × #keys); the session query is two partitioned windows
  * (one shuffle on user_id); watermarking is one broadcast scalar.
  */
object Streaming {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_tumbling" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(micros(col("value"))).cast("long").as("sum_micros"))
        .select(tstr(col("window.start")).as("ws"), col("cnt"), col("sum_micros"))
        .orderBy(col("ws"))
    },

    // APPEND-mode fixpoint of the tumbling stream: exactly the windows
    // the final watermark (max ts − 1 h) has closed — i.e. what
    // EventStreams.tumbling actually emits to its sink after the source
    // is exhausted (complete-mode fixpoint MINUS the open tail).
    // Graded here so the true-streaming emission rule is pinned to the
    // DuckDB oracle, not just to a spec (r8 verdict task #5).
    "q_stream_tumbling_closed" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      val wm = e.agg((max(col("ts")) - expr("INTERVAL 1 HOUR")).as("wm"))
      e.groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(micros(col("value"))).cast("long").as("sum_micros"))
        .crossJoin(broadcast(wm)) // 1-row watermark scalar
        .filter(col("window.end") <= col("wm"))
        .select(tstr(col("window.start")).as("ws"), col("cnt"), col("sum_micros"))
        .orderBy(col("ws"))
    },

    // APPEND-mode fixpoint of the native session_window stream (r9,
    // completing the tumbling_closed program): exactly the sessions
    // whose window end (last event + 30 min gap) the final watermark
    // has passed. Spark's streaming watermark is MILLISECOND-floored
    // (EventTimeStats tracks max event time in ms while ts carries µs),
    // so the exact emission rule is
    //   end_us + gap <= (max_us - max_us % 1000) - 1 h
    // — the ms-floor is part of the graded semantics, not slack.
    // StreamingParitySpec pins EventStreams.session's actual append
    // output to this key by EXACT set equality.
    "q_stream_session_closed" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      val maxUs = unix_micros(max(col("ts")))
      val wm = e.agg((maxUs - (maxUs % 1000L) - 3600000000L).as("wm_us"))
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(wOrd)))
        .withColumn("new_s",
          when(col("prev_us").isNull
            || unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L).otherwise(0L))
        .withColumn("sid", sum(col("new_s")).over(wRun))
        .groupBy(col("user_id"), col("sid"))
        .agg(
          tstr(min(col("ts"))).as("session_start"),
          tstr(max(col("ts"))).as("session_end"),
          max(unix_micros(col("ts"))).as("end_us"),
          count(lit(1)).cast("long").as("n_events"),
          sum(micros(col("value"))).cast("long").as("sum_micros"))
        .crossJoin(broadcast(wm)) // 1-row watermark scalar
        .filter(col("end_us") + 1800000000L <= col("wm_us"))
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("sum_micros"))
        .orderBy(col("user_id"), col("session_start"))
    },

    // Spark emits, per event, the four 15-min-stepped 1-hour windows
    // containing it (epoch-aligned). The oracle reproduces exactly that
    // set via generate_series over the (known, bounded) ts domain +
    // range containment — empty windows drop out of both inner joins.
    "q_stream_sliding" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(micros(col("value"))).cast("long").as("sum_micros"))
        .select(tstr(col("window.start")).as("ws"), col("cnt"), col("sum_micros"))
        .orderBy(col("ws"))
    },

    // APPEND-mode fixpoint of the sliding stream, mirroring
    // EventStreams.sliding's (window × event_type) grouping: the
    // 15-min-stepped hour windows whose end the final (ms-floored,
    // see q_stream_session_closed) watermark has passed.
    "q_stream_sliding_closed" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      val maxUs = unix_micros(max(col("ts")))
      val wm = e.agg((maxUs - (maxUs % 1000L) - 3600000000L).as("wm_us"))
      e.groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(micros(col("value"))).cast("long").as("sum_micros"))
        .crossJoin(broadcast(wm)) // 1-row watermark scalar
        .filter(unix_micros(col("window.end")) <= col("wm_us"))
        .select(tstr(col("window.start")).as("ws"), col("event_type"),
          col("cnt"), col("sum_micros"))
        .orderBy(col("ws"), col("event_type"))
    },

    // Session windows (30-min gap) as gaps-and-islands: the SAME window
    // algebra runs in the oracle, so the session ids line up by
    // construction (§2.7).
    "q_stream_session" -> { (s, dir) =>
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(wOrd)))
        .withColumn("new_s",
          when(col("prev_us").isNull
            || unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L).otherwise(0L))
        .withColumn("sid", sum(col("new_s")).over(wRun))
        .groupBy(col("user_id"), col("sid"))
        .agg(
          tstr(min(col("ts"))).as("session_start"),
          tstr(max(col("ts"))).as("session_end"),
          count(lit(1)).cast("long").as("n_events"),
          sum(micros(col("value"))).cast("long").as("sum_micros"))
        .orderBy(col("user_id"), col("sid"))
    },

    // Watermark = max(ts) − 1 hour over the exhausted source; rows past
    // it are "late" and dropped before aggregating.
    "q_stream_watermark" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      val wm = e.agg(max(col("ts")).as("max_ts"))
      e.crossJoin(broadcast(wm))
        .filter(col("ts") <= col("max_ts") - expr("INTERVAL 1 HOUR"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(micros(col("value"))).cast("long").as("sum_micros"))
        .orderBy(col("event_type"))
    },

    // Batch fixpoint of the watermarked stream-stream INTERVAL join
    // (EventStreams.purchaseSignupJoin): purchases ⋈ same-user signups
    // from the preceding 24 h. Same-user ties are impossible on ts
    // (events has no (user_id, ts) ties — FIXTURES §1), so ordering by
    // the join pair's ids+times is total.
    "q_stream_join" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      val sg = e.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      p.join(sg,
          col("p_user") === col("s_user")
            && col("s_ts") <= col("p_ts")
            && col("s_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS"))
        // µs epochs, not formatted strings: second-truncated strings
        // could tie for one purchase's multiple signups and leave the
        // row order engine-dependent; (p_id, s_us) is unique
        .select(col("p_id"), col("p_user"),
          unix_micros(col("p_ts")).as("p_us"),
          unix_micros(col("s_ts")).as("s_us"))
        .orderBy(col("p_id"), col("s_us"))
    },

    // APPEND-mode fixpoint of the LEFT-OUTER watermarked stream-stream
    // join (r17, completing the *_closed program for joins): matched
    // rows emit as in the inner join; an unmatched purchase emits its
    // NULL row only once the GLOBAL watermark (min of the two sides'
    // ms-floored max event times, −1 h delay — Spark's
    // multipleWatermarkPolicy=min) passes its own event time, the
    // state-eviction point for the s_ts ≤ p_ts constraint. Rule
    // pinned EMPIRICALLY against the real left-outer stream
    // (StreamingParitySpec, exact set equality — the ms-floor and the
    // min policy are graded semantics, not slack). Either side empty
    // ⇒ the watermark never initializes ⇒ no unmatched emission —
    // mirrored by the NULL-propagating CASE (a NULL wm fails the
    // filter on both engines).
    "q_stream_join_left_closed" -> { (s, dir) =>
      val e = Tables.events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      val sg = e.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      val wm = e.agg(
          max(when(col("event_type") === "purchase",
            unix_micros(col("ts")))).as("mp"),
          max(when(col("event_type") === "signup",
            unix_micros(col("ts")))).as("ms"))
        .select(when(col("mp").isNull || col("ms").isNull,
            lit(null).cast("long"))
          .otherwise(least(col("mp") - col("mp") % 1000L,
            col("ms") - col("ms") % 1000L) - 3600000000L).as("wm_us"))
      p.join(sg,
          col("p_user") === col("s_user")
            && col("s_ts") <= col("p_ts")
            && col("s_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS"),
          "left_outer")
        .crossJoin(broadcast(wm)) // 1-row watermark scalar
        .filter(col("s_ts").isNotNull
          || unix_micros(col("p_ts")) < col("wm_us"))
        .select(col("p_id"), col("p_user"),
          unix_micros(col("p_ts")).as("p_us"),
          unix_micros(col("s_ts")).as("s_us"))
        // per purchase: either matched rows or ONE null row, never
        // both — still pin NULLS FIRST (Spark's asc default) so the
        // engines can never disagree on null placement
        .orderBy(col("p_id"), col("s_us").asc_nulls_first)
    },

    // dropDuplicatesWithinWatermark analog: first event per
    // (user_id, event_type) in event-time order.
    "q_stream_dedup" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          tstr(col("ts")).as("first_ts"))
        .orderBy(col("user_id"), col("event_type"))
    },

    // (r9) END-TO-END graded streaming SINK: the tumbling hourly agg
    // run as a TRUE update-mode stream — 4-batch chronological replay
    // through streaming.UpsertSink (foreachBatch, batchId-idempotent,
    // atomic-pointer snapshots) — then the FINAL TABLE is read back
    // and graded. Update mode re-emits a window each time a batch
    // refines it and the upsert keeps the latest row per window, so
    // the table fixpoint is exactly the complete batch aggregation
    // (q_stream_tumbling's oracle): windows, counts, sums must all
    // survive the chunked replay + 4 merge generations bit-for-bit.
    // Chunks are written time-range-partitioned with ascending
    // mod-times, so no batch ever carries events at-or-before a prior
    // batch's watermark — nothing is dropped as late (the law the
    // chronological-replay parity tests pin).
    "q_stream_upsert" -> { (s, dir) =>
      streamUpsertFixpoint(s, dir)
    }
  )

  /** Body of q_stream_upsert (separate so the spec can reuse it).
    *
    * The chronological chunks are one artifact per (session, tier) in
    * [[graft.Memo]]: their content is a deterministic function of the
    * tier's events table (equal-width time ranges, fixed mtimes), so
    * repeated invocations in one session — the spec's parity suite,
    * KeyProbe repeats — reuse the first write instead of re-scanning
    * and re-sharding the events table each time (r16, VERDICT r15 #7).
    * Table + checkpoint state stays per-RUN fresh below — the replay
    * itself is the thing the key grades. The root sits next to
    * `Sources.roundtripRoot`, so the library has one write root. */
  def streamUpsertFixpoint(s: SparkSession, dir: String): DataFrame = {
    val tier = graft.sources.Sources.tierTag(dir)
    val root = new java.io.File(graft.sources.Sources.roundtripRoot)
      .getParent + s"/stream_upsert/$tier"
    val chunks = s"$root/chunks"
    graft.Memo.artifact(s, dir, "stream_chunks") {
      graft.streaming.UpsertSink.deleteRecursively(
        java.nio.file.Paths.get(chunks))
      graft.streaming.EventStreams.writeChronologicalChunks(
        Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("ts"), col("value")),
        n = 4, destDir = chunks)
    }
    // the replay's OWN state must never survive a run: a leftover
    // checkpoint would resume past the chunks and grade nothing
    graft.streaming.UpsertSink.deleteRecursively(
      java.nio.file.Paths.get(s"$root/table"))
    graft.streaming.UpsertSink.deleteRecursively(
      java.nio.file.Paths.get(s"$root/checkpoint"))
    val table = s"$root/table"
    val stream = graft.streaming.EventStreams
      .readEventsStream(s, chunks, maxFilesPerTrigger = Some(1))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(micros(col("value"))).cast("long").as("sum_micros"))
      .select(col("window.start").as("w"), col("cnt"), col("sum_micros"))
    // the streaming agg's STATE partitioning is fixed at query start
    // from shuffle.partitions; the hourly-window state is tiny, so 4
    // state tasks per micro-batch beat 32 (restore after — batch keys
    // keep the session default)
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    // r18 (VERDICT r17 #3, UpsertProbe breakdown): after the 4 data
    // batches Spark fires one NO-DATA micro-batch (noDataMicroBatches,
    // default true) whose only effect in UPDATE mode is watermark/state
    // bookkeeping — it emits zero rows, and the sink's merge of an
    // empty batch is the identity, yet it still paid a full
    // read-join-write snapshot generation (~0.7 s of the ~4.5 s warm
    // replay). Update-mode fixpoints don't need it (no append-mode
    // window finalization, no state timeout consumer — the query stops
    // right after); the 4 data batches and the committed fixpoint rows
    // are unchanged. Restored after, like the shuffle guard.
    val prevNoData = s.conf.get(
      "spark.sql.streaming.noDataMicroBatches.enabled", "true")
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      val q = graft.streaming.UpsertSink.start(stream, table,
        s"$root/checkpoint", Seq("w"))
      q.processAllAvailable(); q.stop()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
    }
    graft.streaming.UpsertSink.readTable(s, table)
      .getOrElse(sys.error("q_stream_upsert: sink committed no snapshot"))
      .select(tstr(col("w")).as("ws"), col("cnt"), col("sum_micros"))
      .orderBy(col("ws"))
  }

  val oracle: Map[String, String] = Map(
    "q_stream_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
        |  CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(ROUND(value*1000000) AS BIGINT)) AS BIGINT) AS sum_micros
        |FROM events
        |GROUP BY 1
        |ORDER BY ws""".stripMargin,

    // The upsert-sink fixpoint IS the complete tumbling aggregation:
    // update-mode re-emission + last-write-wins merge must converge to
    // the same table a single batch pass computes.
    "q_stream_upsert" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
        |  CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(ROUND(value*1000000) AS BIGINT)) AS BIGINT) AS sum_micros
        |FROM events
        |GROUP BY 1
        |ORDER BY ws""".stripMargin,

    "q_stream_tumbling_closed" ->
      """WITH agg AS (
        |  SELECT date_trunc('hour', ts) AS w,
        |    CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(CAST(ROUND(value*1000000) AS BIGINT)) AS BIGINT) AS sum_micros
        |  FROM events GROUP BY 1
        |), wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events)
        |SELECT strftime(agg.w, '%Y-%m-%d %H:%M:%S') AS ws, cnt, sum_micros
        |FROM agg, wm
        |WHERE agg.w + INTERVAL 1 HOUR <= wm.wm
        |ORDER BY ws""".stripMargin,

    "q_stream_session_closed" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN LAG(ts, 1) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), islands AS (
        |  SELECT user_id, ts, event_id, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged
        |), sess AS (
        |  SELECT user_id,
        |    strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |    strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |    MAX(epoch_us(ts)) AS end_us,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CAST(ROUND(value*1000000) AS BIGINT)) AS BIGINT) AS sum_micros
        |  FROM islands GROUP BY user_id, sid
        |), wm AS (
        |  SELECT MAX(epoch_us(ts)) - MAX(epoch_us(ts)) % 1000 - 3600000000 AS wm_us
        |  FROM events
        |)
        |SELECT user_id, session_start, session_end, n_events, sum_micros
        |FROM sess, wm
        |WHERE sess.end_us + 1800000000 <= wm.wm_us
        |ORDER BY user_id, session_start""".stripMargin,

    "q_stream_sliding_closed" ->
      """WITH bounds AS (
        |  SELECT date_trunc('hour', min(ts)) - INTERVAL 1 HOUR AS lo,
        |         max(ts) AS hi
        |  FROM events
        |), g AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS ws
        |  FROM bounds
        |), wm AS (
        |  SELECT MAX(epoch_us(ts)) - MAX(epoch_us(ts)) % 1000 - 3600000000 AS wm_us
        |  FROM events
        |)
        |SELECT strftime(g.ws, '%Y-%m-%d %H:%M:%S') AS ws, e.event_type,
        |  CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(ROUND(e.value*1000000) AS BIGINT)) AS BIGINT) AS sum_micros
        |FROM g JOIN events e ON e.ts >= g.ws AND e.ts < g.ws + INTERVAL 1 HOUR, wm
        |WHERE epoch_us(g.ws + INTERVAL 1 HOUR) <= wm.wm_us
        |GROUP BY g.ws, e.event_type
        |ORDER BY ws, event_type""".stripMargin,

    "q_stream_sliding" ->
      """WITH bounds AS (
        |  SELECT date_trunc('hour', min(ts)) - INTERVAL 1 HOUR AS lo,
        |         max(ts) AS hi
        |  FROM events
        |), g AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS ws
        |  FROM bounds
        |)
        |SELECT strftime(g.ws, '%Y-%m-%d %H:%M:%S') AS ws,
        |  CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(ROUND(e.value*1000000) AS BIGINT)) AS BIGINT) AS sum_micros
        |FROM g JOIN events e ON e.ts >= g.ws AND e.ts < g.ws + INTERVAL 1 HOUR
        |GROUP BY g.ws
        |ORDER BY ws""".stripMargin,

    "q_stream_session" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN LAG(ts, 1) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), islands AS (
        |  SELECT user_id, ts, event_id, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged
        |)
        |SELECT user_id, CAST(sid AS BIGINT) AS sid,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(ROUND(value*1000000) AS BIGINT)) AS BIGINT) AS sum_micros
        |FROM islands
        |GROUP BY user_id, sid
        |ORDER BY user_id, sid""".stripMargin,

    "q_stream_watermark" ->
      """SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(ROUND(value*1000000) AS BIGINT)) AS BIGINT) AS sum_micros
        |FROM events
        |WHERE ts <= (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_stream_dedup" ->
      """SELECT user_id, event_type, event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
        |FROM (
        |  SELECT user_id, event_type, event_id, ts,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,

    "q_stream_join" ->
      """SELECT p.event_id AS p_id, p.user_id AS p_user,
        |  CAST(epoch_us(p.ts) AS BIGINT) AS p_us,
        |  CAST(epoch_us(s.ts) AS BIGINT) AS s_us
        |FROM events p JOIN events s
        |  ON p.event_type = 'purchase' AND s.event_type = 'signup'
        | AND p.user_id = s.user_id
        | AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 24 HOURS
        |ORDER BY p_id, s_us""".stripMargin,

    // the left-outer fixpoint: the inner rows + watermark-evicted
    // unmatched purchases; NULLS FIRST pins Spark's asc default
    "q_stream_join_left_closed" ->
      """WITH wm AS (
        |  SELECT CASE WHEN mp IS NULL OR ms IS NULL THEN NULL
        |    ELSE LEAST(mp - mp % 1000, ms - ms % 1000) - 3600000000
        |  END AS wm_us
        |  FROM (SELECT
        |    MAX(CASE WHEN event_type = 'purchase'
        |      THEN CAST(epoch_us(ts) AS BIGINT) END) AS mp,
        |    MAX(CASE WHEN event_type = 'signup'
        |      THEN CAST(epoch_us(ts) AS BIGINT) END) AS ms
        |    FROM events)),
        |j AS (
        |  SELECT p.event_id AS p_id, p.user_id AS p_user,
        |    CAST(epoch_us(p.ts) AS BIGINT) AS p_us,
        |    CAST(epoch_us(s.ts) AS BIGINT) AS s_us
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |    ON p.user_id = s.user_id
        |   AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 24 HOURS)
        |SELECT p_id, p_user, p_us, s_us
        |FROM j CROSS JOIN wm
        |WHERE s_us IS NOT NULL OR p_us < wm_us
        |ORDER BY p_id, s_us NULLS FIRST""".stripMargin
  )
}
