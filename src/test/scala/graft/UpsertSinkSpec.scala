package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.UpsertSink

/** Laws of the exactly-once foreachBatch upsert sink (SURVEY §2.7
  * sinks row; graded end-to-end as q_stream_upsert).
  *
  *  - merge law: applying batches b0..bn yields last-write-wins per
  *    key — exactly what a single batch over the union-with-override
  *    computes;
  *  - idempotence: re-applying an already-applied batchId is a no-op
  *    (the checkpoint-replay half of exactly-once);
  *  - atomicity: the pointer always names a fully-written snapshot —
  *    a reader between merges sees the previous complete table;
  *  - fixpoint: the graded key's streamed-then-merged table equals the
  *    complete batch aggregation (the q_stream_tumbling fixpoint).
  */
class UpsertSinkSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  private def freshTable(): String =
    Files.createTempDirectory("graft_upsert").toString

  test("merge law: batches converge to last-write-wins per key") {
    import spark.implicits._
    val t = freshTable()
    val b0 = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "v")
    val b1 = Seq((2L, "b2", 21L), (3L, "c", 30L)).toDF("k", "s", "v")
    val b2 = Seq((1L, "a2", 11L)).toDF("k", "s", "v")
    assert(UpsertSink.mergeBatch(b0, 0L, t, Seq("k")))
    assert(UpsertSink.mergeBatch(b1, 1L, t, Seq("k")))
    assert(UpsertSink.mergeBatch(b2, 2L, t, Seq("k")))
    val got = UpsertSink.readTable(spark, t).get
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a2", 11L), (2L, "b2", 21L), (3L, "c", 30L)))
  }

  test("idempotence: a replayed batchId is a no-op and moves nothing") {
    import spark.implicits._
    val t = freshTable()
    val b0 = Seq((1L, 100L)).toDF("k", "v")
    val b1 = Seq((1L, 200L)).toDF("k", "v")
    assert(UpsertSink.mergeBatch(b0, 0L, t, Seq("k")))
    assert(UpsertSink.mergeBatch(b1, 1L, t, Seq("k")))
    val before = UpsertSink.readPointer(t)
    // checkpoint replay after a crash re-delivers batch 1 — and an even
    // OLDER id must also be refused (pointer is a high-water mark)
    assert(!UpsertSink.mergeBatch(b0, 1L, t, Seq("k")))
    assert(!UpsertSink.mergeBatch(b0, 0L, t, Seq("k")))
    assert(UpsertSink.readPointer(t) == before)
    val got = UpsertSink.readTable(spark, t).get.as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 200L)))
  }

  test("atomicity: pointer names a complete snapshot between merges") {
    import spark.implicits._
    val t = freshTable()
    assert(UpsertSink.mergeBatch(Seq((1L, 1L)).toDF("k", "v"), 0L, t, Seq("k")))
    val (v0, id0) = UpsertSink.readPointer(t).get
    assert(id0 == 0L && v0 == "v_0")
    // v_0 snapshot remains intact (readable) after a later merge: a
    // concurrent reader holding the old pointer still sees a full table
    assert(UpsertSink.mergeBatch(Seq((2L, 2L)).toDF("k", "v"), 1L, t, Seq("k")))
    val old = spark.read.parquet(s"$t/$v0").as[(Long, Long)].collect().toSeq
    assert(old == Seq((1L, 1L)))
    assert(UpsertSink.readPointer(t).get == ("v_1", 1L))
  }

  test("model law: seeded random batch sequence == reference hash-map fold") {
    // 6 random batches over a 30-key space vs a driver-side
    // last-write-wins fold — the merge must agree with the obvious
    // sequential model on arbitrary overlap patterns, not just the
    // hand-picked cases above. Seeded, so failures replay exactly.
    import spark.implicits._
    val rnd = new scala.util.Random(0x9e3779b9L)
    val t = freshTable()
    val model = scala.collection.mutable.HashMap.empty[Long, Long]
    (0 until 6).foreach { bid =>
      val rows = Seq.fill(1 + rnd.nextInt(20))(
        (rnd.nextInt(30).toLong, rnd.nextLong())).distinctBy(_._1)
      rows.foreach { case (k, v) => model(k) = v }
      assert(UpsertSink.mergeBatch(rows.toDF("k", "v"), bid.toLong, t, Seq("k")))
    }
    val got = UpsertSink.readTable(spark, t).get
      .as[(Long, Long)].collect().toMap
    assert(got == model.toMap)
  }

  test("merge plan: keyed equi-join, never a nested-loop or cartesian") {
    // the one structural invariant that must survive any size ratio:
    // the merge is an EQUI-join on the key — Catalyst may pick
    // broadcast/shuffled-hash/sort-merge by stats, but a nested-loop
    // or cartesian means the key equality was lost (the 100 TB
    // catastrophe case)
    import spark.implicits._
    val cur = (1L to 1000L).map(k => (k, k * 10L)).toDF("k", "v")
    val batch = (990L to 1010L).map(k => (k, k * 100L)).toDF("k", "v")
    val p = UpsertSink.merge(cur, batch, Seq("k"))
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"),
      s"merge lost its equi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"merge degenerated to a non-keyed join:\n$p")
  }

  test("time travel and retention: as-of reads, vacuum keeps the live snapshot") {
    import spark.implicits._
    val t = freshTable()
    assert(UpsertSink.mergeBatch(Seq((1L, 10L)).toDF("k", "v"), 0L, t, Seq("k")))
    assert(UpsertSink.mergeBatch(Seq((1L, 20L)).toDF("k", "v"), 3L, t, Seq("k")))
    assert(UpsertSink.mergeBatch(Seq((1L, 30L)).toDF("k", "v"), 7L, t, Seq("k")))
    assert(UpsertSink.versions(t) == Seq(0L, 3L, 7L))
    // as-of lands on the newest snapshot at-or-before the asked batch
    def vAt(b: Long) = UpsertSink.readTableAsOf(spark, t, b).get
      .as[(Long, Long)].collect().head._2
    assert(vAt(0L) == 10L && vAt(2L) == 10L && vAt(3L) == 20L
      && vAt(6L) == 20L && vAt(100L) == 30L)
    assert(UpsertSink.readTableAsOf(spark, t, -1L).isEmpty)
    // vacuum to 2: v_0 reaped, live v_7 + v_3 retained; reads unchanged
    UpsertSink.vacuum(t, keep = 2)
    assert(UpsertSink.versions(t) == Seq(3L, 7L))
    assert(UpsertSink.readTable(spark, t).get
      .as[(Long, Long)].collect().head._2 == 30L)
    // keep=1 always retains the pointer target
    UpsertSink.vacuum(t, keep = 1)
    assert(UpsertSink.versions(t) == Seq(7L))
    assert(UpsertSink.readPointer(t).get == ("v_7", 7L))
    // crash-consistency of the listing: an uncommitted v_ dir (higher
    // id than the pointer — snapshot written, publish never happened)
    // and non-numeric strays are both invisible to versions/as-of
    new java.io.File(t, "v_99").mkdirs()
    new java.io.File(t, "v_backup").mkdirs()
    assert(UpsertSink.versions(t) == Seq(7L))
    assert(UpsertSink.readTableAsOf(spark, t, 99L).get
      .as[(Long, Long)].collect().head._2 == 30L)
  }

  test("schema drift between table and batch fails loudly, not silently") {
    import spark.implicits._
    val t = freshTable()
    assert(UpsertSink.mergeBatch(Seq((1L, 1L)).toDF("k", "v"), 0L, t, Seq("k")))
    val drifted = Seq((2L, 2L, "x")).toDF("k", "v", "extra")
    val e = intercept[IllegalArgumentException] {
      UpsertSink.mergeBatch(drifted, 1L, t, Seq("k"))
    }
    assert(e.getMessage.contains("schema drift"))
    // the failed merge must not have committed anything
    assert(UpsertSink.readPointer(t).get == ("v_0", 0L))
  }

  test("Trigger.AvailableNow drains the same fixpoint as processAllAvailable") {
    // AvailableNow is the production backfill trigger: run the stream
    // as a self-terminating job with real checkpointing, then exit.
    // Same chunked source, same sink, same table fixpoint.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_availnow").toString
    val table = s"$root/table"
    val stream = graft.streaming.EventStreams
      .readEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .select(col("window.start").as("w"), col("cnt"))
    val q = stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        UpsertSink.mergeBatch(b, id, table, Seq("w")); ()
      }
      .start()
    q.awaitTermination(120000L)
    val got = UpsertSink.readTable(spark, table).get
      .select(date_format(col("w"), "yyyy-MM-dd HH:mm:ss").as("ws"), col("cnt"))
    val batch = SparkEntry.queries("q_stream_tumbling")(spark, dir)
      .select("ws", "cnt")
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0)
  }

  test("restart law: a mid-replay stop + checkpoint restart reaches the same fixpoint") {
    // exactly-once across failure: kill the stream after SOME prefix
    // of batches (wherever it happens to be), restart on the SAME
    // checkpoint + table, drain. The checkpoint replays the in-flight
    // batch with the same batchId, the sink's high-water mark makes
    // the duplicate delivery a no-op, and the final table must equal
    // the never-crashed fixpoint. Holds for ANY stop point, so the
    // nondeterministic kill timing is part of the proof, not noise.
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val table = s"$root/table"
    val ckpt = s"$root/ckpt"
    // 6-file chronological replay dir via the one shared recipe
    val chunked = {
      val streamDir = java.nio.file.Files.createTempDirectory("graft_rs_chunks").toString
      graft.streaming.EventStreams.writeChronologicalChunks(
        Tables.events(spark, dir), n = 6, destDir = streamDir)
      streamDir
    }
    def mkStream() = graft.streaming.EventStreams
      .readEventsStream(spark, chunked, maxFilesPerTrigger = Some(1))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .select(col("window.start").as("w"), col("cnt"))
    // run 1: stop mid-replay (after the first micro-batch lands)
    val q1 = graft.streaming.UpsertSink.start(mkStream(), table, ckpt, Seq("w"))
    val deadline = System.nanoTime + 60000000000L
    while (UpsertSink.readPointer(table).isEmpty && System.nanoTime < deadline)
      Thread.sleep(50)
    q1.stop()
    val stoppedAt = UpsertSink.readPointer(table)
    assert(stoppedAt.nonEmpty, "first batch never committed")
    // run 2: same checkpoint, same table — drain to the end
    val q2 = graft.streaming.UpsertSink.start(mkStream(), table, ckpt, Seq("w"))
    q2.processAllAvailable(); q2.stop()
    val got = UpsertSink.readTable(spark, table).get
      .select(date_format(col("w"), "yyyy-MM-dd HH:mm:ss").as("ws"), col("cnt"))
    val batch = SparkEntry.queries("q_stream_tumbling")(spark, dir)
      .select("ws", "cnt")
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0,
      s"restart from $stoppedAt did not converge to the batch fixpoint")
  }

  test("graded fixpoint: streamed upsert table == complete batch aggregation") {
    val streamed = SparkEntry.queries("q_stream_upsert")(spark, dir)
    val batch = SparkEntry.queries("q_stream_tumbling")(spark, dir)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0,
      "upsert table has a window row the batch fixpoint doesn't")
    assert(batch.exceptAll(streamed).count() == 0,
      "batch fixpoint window missing from the upsert table")
  }

  test("empty source law: zero events converge to an empty table, not a crash") {
    // r11 empty-tier find: writeChronologicalChunks threw
    // ROW_VALUE_IS_NULL on min/max of an empty source — but an empty
    // day/partition is a normal ingest condition. Contract now: one
    // empty schema-bearing chunk is written, the stream replays a
    // single 0-row micro-batch, the sink commits an EMPTY snapshot,
    // and the fixpoint equals the (empty) batch aggregation.
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_empty").toString
    val chunks = s"$root/chunks"
    graft.streaming.EventStreams.writeChronologicalChunks(
      Tables.events(spark, dir).filter(lit(false))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), col("value")),
      n = 4, destDir = chunks)
    assert(new java.io.File(chunks, "chunk_00.parquet").isFile,
      "empty source must still write one schema-bearing chunk")
    val stream = graft.streaming.EventStreams
      .readEventsStream(spark, chunks, maxFilesPerTrigger = Some(1))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .select(col("window.start").as("w"), col("cnt"))
    val q = graft.streaming.UpsertSink.start(stream, s"$root/table",
      s"$root/ckpt", Seq("w"))
    q.processAllAvailable(); q.stop()
    val table = UpsertSink.readTable(spark, s"$root/table")
    assert(table.nonEmpty, "sink must commit a snapshot for an empty replay")
    assert(table.get.count() == 0, "empty source must yield an empty table")
  }

  test("NULL-ts rows are rejected loudly, never silently dropped or smuggled") {
    // r11 advice: a non-empty source whose every ts is NULL took the
    // empty-source branch (min/max skip NULLs) and coalesced ALL its
    // rows into the "empty" chunk_00; a partly-NULL source dropped the
    // NULL rows into a partition the pickup loop never reads. Both are
    // now a loud IllegalArgumentException naming the NULL-row count.
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_nullts").toString
    val base = Tables.events(spark, dir).limit(10)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
    val allNull = base.withColumn("ts", lit(null).cast("timestamp"))
    val exAll = intercept[IllegalArgumentException] {
      graft.streaming.EventStreams.writeChronologicalChunks(
        allNull, n = 2, destDir = s"$root/all")
    }
    assert(exAll.getMessage.contains("10 of 10 rows have NULL ts"))
    val someNull = base.withColumn("ts",
      when(col("event_id") % 2 === 0, col("ts")))
    val exSome = intercept[IllegalArgumentException] {
      graft.streaming.EventStreams.writeChronologicalChunks(
        someNull, n = 2, destDir = s"$root/some")
    }
    assert(exSome.getMessage.contains("rows have NULL ts"))
  }
}
