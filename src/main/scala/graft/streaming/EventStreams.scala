package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** True Structured Streaming forms of the §2.7 surface (design/fidelity
  * tier — the graded queries are their batch fixpoints in ops.Streaming).
  *
  * The events parquet is replayed as a file stream; each query is the
  * incremental version of its batch analog:
  *  - tumbling/sliding: windowed agg + watermark (append mode emits a
  *    window once the watermark passes its end);
  *  - session: `session_window(ts, gap)` — Spark's native session
  *    windows merge per-key state under watermark control;
  *  - dedup: `dropDuplicatesWithinWatermark` on the business key.
  *
  * At scale these run with `spark.sql.shuffle.partitions` sized to the
  * key cardinality and RocksDB state store; state per key is O(#open
  * windows), bounded by the watermark horizon.
  */
object EventStreams {

  def readEvents(spark: SparkSession, sfDir: String): DataFrame =
    readEventsStream(spark, sfDir, glob = "events.parquet")

  /** General file-stream reader over event parquet. A file-stream
    * source needs an explicit schema, but the fixture's `ts` physical
    * type has drifted across driver regenerations (raw NANOS-as-Long /
    * TIMESTAMP_NTZ micros / TIMESTAMP) — so probe the OBSERVED schema
    * from ONE existing file's footer (not a full-directory batch read:
    * on a large landing dir that would drive a complete file listing
    * twice, once for the probe and once for the stream source) and
    * route the conversion through [[graft.Tables.normalizeEventTs]],
    * the single place that branch lives. An unsupported ts type fails
    * loudly there, not as silent epoch-collapsed windows.
    *
    * `schemaHint` supports the landing-directory pattern where the
    * stream must start BEFORE the producer drops the first file —
    * there is nothing to probe then, so the caller supplies the raw
    * (pre-normalization) schema; with neither a hint nor a file the
    * reader fails loudly naming the remedy.
    *
    * `maxFilesPerTrigger` turns a pre-populated directory into a
    * multi-batch replay (chronological if file mod-times ascend with
    * event time), which is how the incremental stateful operators are
    * exercised batch-by-batch in tests. */
  def readEventsStream(spark: SparkSession, dir: String,
                       maxFilesPerTrigger: Option[Int] = None,
                       glob: String = "*.parquet",
                       schemaHint: Option[StructType] = None): DataFrame = {
    // conf first: a TIMESTAMP(NANOS) fixture only reads when the legacy
    // conf maps it to raw Long (same contract as Tables.table)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // (sourcePath, leaf-glob-or-None): a glob match may itself be a
    // Spark-written table DIRECTORY — then the stream must point AT
    // that directory, because pathGlobFilter matches leaf FILE names
    // and 'events.parquet' would exclude every part-*.parquet inside
    // (a silently empty stream, the failure class this probe exists
    // to kill). Loose-file matches keep the dir + glob-filter form.
    val (observed, sourcePath, leafGlob) = schemaHint match {
      case Some(hint) => (hint, dir, Some(glob)) // landing-dir: nothing to probe
      case None =>
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val matches = Option(fs.globStatus(
          new org.apache.hadoop.fs.Path(dir, glob))).toSeq.flatten
        val (dirs, files) = matches.partition(_.isDirectory)
        val firstFile = (files ++ dirs.flatMap(st =>
          fs.listStatus(st.getPath).toSeq
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))))
          .find(_.getLen > 0)
          .getOrElse(throw new IllegalStateException(
            s"readEventsStream: no file matching '$glob' in $dir to probe the " +
              "event schema from; pass schemaHint to start a stream on an " +
              "empty landing directory"))
        val schema = spark.read.parquet(firstFile.getPath.toString).schema
        (dirs, files) match {
          case (Seq(), _)       => (schema, dir, Some(glob))
          case (Seq(d), Seq())  => (schema, d.getPath.toString, None)
          case _ => throw new IllegalStateException(
            s"readEventsStream: '$glob' in $dir matches " +
              s"${dirs.size} directories and ${files.size} files — point the " +
              "stream at ONE table directory or a set of loose files")
        }
    }
    val r = spark.readStream.schema(observed)
    leafGlob.foreach(g => r.option("pathGlobFilter", g))
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    graft.Tables.normalizeEventTs(r.parquet(sourcePath))
  }

  /** Write `events` (ts already normalized to TimestampType) as `n`
    * chronological single-file chunks under `destDir`, ascending
    * mod-times — the ONE replay-fixture recipe every multi-batch test
    * and the graded q_stream_upsert key share. Chunking is by equal
    * time ranges in ONE partitionBy pass (not n filter-scans); an
    * empty range writes no file, which only shortens the replay.
    * File-stream sources order by modification time, so ascending
    * stamps + non-overlapping ranges give a chronological replay. */
  def writeChronologicalChunks(events: DataFrame, n: Int, destDir: String): Unit = {
    import org.apache.spark.sql.functions.{floor => ffloor}
    // read twice (bounds agg, then the chunked write): cache the
    // projection so the source parquet is scanned once (r14 — the
    // second scan was ~a third of q_stream_upsert's fixture cost)
    val e = events.cache()
    // try/finally, not per-path unpersist calls: an exception in the
    // bounds aggregate or the chunked write must not leak the cached
    // DataFrame for the session's lifetime (r15 advice)
    try {
    val r = e.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
      count(lit(1)), count(col("ts"))).head()
    val (nRows, nTs) = (r.getLong(2), r.getLong(3))
    if (nRows != nTs) {
      // NULL ts cannot be placed chronologically: the chunk expression
      // below maps them to a NULL partition the pickup loop never reads
      // (silent row loss), and an ALL-NULL source used to take the
      // empty branch and smuggle every row into "empty" chunk_00. Both
      // are caller bugs — fail loudly (r11 advice).
      throw new IllegalArgumentException(
        s"writeChronologicalChunks: ${nRows - nTs} of $nRows rows have " +
          "NULL ts — a replay chunk is a time range, so every row needs " +
          "a timestamp; filter or repair NULL ts upstream")
    }
    if (nRows == 0L) {
      // EMPTY source (r11 empty-tier find): min/max are NULL and the
      // getLong below threw ROW_VALUE_IS_NULL, killing the whole
      // pipeline — but an empty day/partition is a normal condition at
      // ingest scale. Emit ONE empty chunk instead: the parquet file
      // still carries the schema, so the stream reader probes it, the
      // replay runs a single 0-row micro-batch, and the upsert sink
      // commits an EMPTY snapshot — end-to-end, an empty source
      // converges to an empty table (exactly the batch fixpoint).
      // limit(0) makes the 0-row guarantee structural, not data-driven.
      val build = s"$destDir/_chunk_build"
      e.limit(0).coalesce(1).write.mode("overwrite").parquet(build)
      val part = Option(new java.io.File(build).listFiles())
        .flatMap(_.find(_.getName.endsWith(".parquet")))
        .getOrElse(throw new IllegalStateException(
          s"writeChronologicalChunks: empty-source write to $build " +
            "produced no part file — the stream reader needs one " +
            "schema-bearing chunk to probe"))
      val dest = new java.io.File(destDir, "chunk_00.parquet")
      dest.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(1700000000000L)
      UpsertSink.deleteRecursively(java.nio.file.Paths.get(build))
      return
    }
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val step = (hi - lo) / n + 1
    val build = s"$destDir/_chunk_build"
    e.withColumn("chunk",
        least(ffloor((unix_micros(col("ts")) - lo) / lit(step)).cast("int"),
          lit(n - 1)))
      .repartition(col("chunk"))
      .write.partitionBy("chunk").mode("overwrite").parquet(build)
    (0 until n).foreach { i =>
      Option(new java.io.File(s"$build/chunk=$i").listFiles())
        .flatMap(_.find(_.getName.endsWith(".parquet")))
        .foreach { part =>
          val dest = new java.io.File(destDir, f"chunk_$i%02d.parquet")
          dest.getParentFile.mkdirs()
          java.nio.file.Files.move(part.toPath, dest.toPath)
          dest.setLastModified(1700000000000L + i * 60000L)
        }
    }
    UpsertSink.deleteRecursively(java.nio.file.Paths.get(build))
    } finally e.unpersist()
  }

  def tumbling(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_v"))

  def sliding(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))

  def session(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_v"))

  def dedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Watermarked stream-stream INTERVAL join: each purchase event joins
    * the same user's signup events from the preceding 24 hours. Both
    * sides carry watermarks and the join predicate bounds s_ts relative
    * to p_ts on both ends, so the state store retains each side only
    * for watermark + interval — the canonical bounded-state
    * stream-stream join (an unbounded-interval join would keep signup
    * state forever). Works as a self-join of one source stream. */
  def purchaseSignupJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    purchases.join(signups,
      col("p_user") === col("s_user")
        && col("s_ts") <= col("p_ts")
        && col("s_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS"))
      .select(col("p_id"), col("p_user"), col("p_ts"), col("s_ts"))
  }

  /** The LEFT-OUTER form of [[purchaseSignupJoin]] (r17): unmatched
    * purchases emit a NULL-signup row once the global watermark (min
    * across both sides, 1 h delay) passes their event time — the
    * state-eviction semantics q_stream_join_left_closed pins as its
    * batch fixpoint (exact set equality in StreamingParitySpec). */
  def purchaseSignupLeftJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    purchases.join(signups,
      col("p_user") === col("s_user")
        && col("s_ts") <= col("p_ts")
        && col("s_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS"),
      "left_outer")
      .select(col("p_id"), col("p_user"), col("p_ts"), col("s_ts"))
  }

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp,
                          ts_us: Long, v_micros: Long)
  case class Session(user_id: Long, session_start_us: Long, session_end_us: Long,
                     n_events: Long, sum_micros: Long)

  /** The ONE session-merge kernel both stateful APIs run: fold a batch
    * of events (sorted by event time here) into the open session,
    * emitting every session a > gap jump closes. Pure, so the
    * incremental law — any batch split of a sorted stream folds to the
    * same sessions as one pass — is property-tested JVM-side
    * (SessionKernelProperties) without Spark in the loop.
    *
    * A late-but-in-watermark event merges by min/max so an extension
    * can never move the open session's end (and its close-timer)
    * backward. */
  def mergeEvents(user: Long, prior: Option[Session],
                  events: Seq[SessionEvent],
                  gapUs: Long): (Seq[Session], Option[Session]) = {
    val evs = events.sortBy(_.ts_us)
    if (evs.isEmpty) (Nil, prior)
    else {
      val closed = scala.collection.mutable.ListBuffer.empty[Session]
      var cur = prior.getOrElse {
        val h = evs.head; Session(user, h.ts_us, h.ts_us - 1, 0L, 0L) // empty seed
      }
      evs.foreach { e =>
        if (cur.n_events > 0 && e.ts_us - cur.session_end_us > gapUs) {
          closed += cur
          cur = Session(user, e.ts_us, e.ts_us, 1L, e.v_micros)
        } else {
          cur = Session(user,
            if (cur.n_events == 0) e.ts_us
            else math.min(cur.session_start_us, e.ts_us),
            math.max(cur.session_end_us, e.ts_us),
            cur.n_events + 1, cur.sum_micros + e.v_micros)
        }
      }
      (closed.toSeq, Some(cur))
    }
  }

  /** Arbitrary per-key state: INCREMENTAL sessionization via
    * flatMapGroupsWithState (the §2.7 "stateful arbitrary ops" row).
    *
    * State per user is a single open-session aggregate (start, end,
    * n, sum) — O(1), not an event buffer. Each batch merges its events
    * in event-time order: a gap > `gapUs` closes the current session
    * (emitted immediately); the trailing session stays open in state
    * with an event-time timeout at end + gap, so the watermark closes
    * it when no continuation can arrive. This is the shape that runs
    * forever on an unbounded stream with bounded state; correctness
    * across batches relies on the source delivering batches in
    * event-time order per key (file batches here; Kafka partitions by
    * key in production), with the watermark absorbing bounded disorder.
    */
  def sessionsStateful(spark: SparkSession, events: DataFrame,
                       gapUs: Long = 1800000000L): Dataset[Session] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .withWatermark("ts", "1 hour")
      // keep the watermarked ts column itself — projecting it away
      // would detach the watermark from the stateful operator
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 1000000L, 0).cast("long").as("v_micros"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[Session]) =>
          if (state.hasTimedOut) {
            // watermark passed end + gap: the open session is final
            val open = state.get
            state.remove()
            Iterator.single(open)
          } else {
            val (closed, open) = mergeEvents(user, state.getOption, it.toSeq, gapUs)
            open match {
              case Some(cur) =>
                state.update(cur)
                // close the open tail once the watermark passes end + gap
                state.setTimeoutTimestamp(cur.session_end_us / 1000 + gapUs / 1000 + 1)
              case None => // no events this batch: state untouched
            }
            closed.iterator
          }
      }
  }

  /** The same incremental sessionization on Spark 4's
    * `transformWithState` API (the successor to flatMapGroupsWithState
    * for arbitrary stateful ops): typed `ValueState` for the one open
    * session per user, an explicit event-time TIMER closing the tail
    * when the watermark passes end + gap. Differences from the
    * flatMapGroupsWithState form that matter at scale:
    *  - state is schema'd per-field (RocksDB column family), not an
    *    opaque tuple blob — state can evolve without full rewrites;
    *  - timers are first-class (register/delete/list), not a single
    *    per-key timeout slot;
    *  - REQUIRES the RocksDB state store provider (asserted below) —
    *    the backend the 100 TB deployment runs anyway.
    * Emission parity with sessionsStateful is pinned in
    * StreamingParitySpec: same batch fixpoint, same multi-batch replay.
    */
  class SessionProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessionEvent, Session] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var open: ValueState[Session] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[Session]("open", Encoders.product[Session],
        TTLConfig.NONE)

    private def timerFor(s: Session): Long =
      s.session_end_us / 1000 + gapUs / 1000 + 1

    override def handleInputRows(user: Long, rows: Iterator[SessionEvent],
                                 tv: TimerValues): Iterator[Session] = {
      val prior = if (open.exists()) Some(open.get()) else None
      val (closed, openNow) = mergeEvents(user, prior, rows.toSeq, gapUs)
      openNow.foreach { cur =>
        open.update(cur)
        // one live timer per key: drop any earlier registration (an
        // extension moved the close-time forward), then arm the tail
        getHandle.listTimers().foreach(t =>
          getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(timerFor(cur))
      }
      closed.iterator
    }

    override def handleExpiredTimer(user: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[Session] =
      if (open.exists() && timerFor(open.get()) <= info.getExpiryTimeInMs) {
        val s = open.get(); open.clear(); Iterator.single(s)
      } else Iterator.empty // stale timer for an already-extended session
  }

  /** transformWithState sessionization (see [[SessionProcessor]]). */
  def sessionsTws(spark: SparkSession, events: DataFrame,
                  gapUs: Long = 1800000000L): Dataset[Session] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    require(spark.conf.getOption(providerKey).contains(rocks),
      s"transformWithState requires the RocksDB state store: set $providerKey=$rocks")
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 1000000L, 0).cast("long").as("v_micros"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapUs), TimeMode.EventTime,
        OutputMode.Append)
  }

  /** Smoke-run all four against a memory sink, synchronously. */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Session.local(4)
    val runs = Seq[(String, DataFrame => DataFrame, String)](
      ("stream_tumbling", tumbling, "append"),
      ("stream_sliding", sliding, "append"),
      ("stream_session", session, "append"),
      ("stream_dedup", dedup, "append"),
      ("stream_join", purchaseSignupJoin, "append"))
    runs.foreach { case (name, mk, mode) =>
      val q = mk(readEvents(spark, sfDir)).writeStream
        .outputMode(mode).format("memory").queryName(name).start()
      q.processAllAvailable(); q.stop()
      val n = spark.table(name).count()
      println(s"[stream] $name rows=$n")
    }
    spark.stop()
  }
}
