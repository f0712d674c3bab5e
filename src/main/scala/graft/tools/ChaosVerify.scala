package graft.tools
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart,
  SparkListenerTaskEnd}

/** Retry determinism proof (r13, r11 verdict item 2): run the EXACT
  * driver dump loop (`graft.Verify.main`) under forced task
  * re-execution and assert — via tools/stability_check.py against a
  * normal dump — that every key's emitted parquet stays
  * byte-identical. This is the local-mode stand-in for the cluster
  * failure modes the sf-tier runs never exercise: a task that runs
  * AGAIN after a failure must produce the same bytes, or retries would
  * silently corrupt results at 1000-executor scale where retries are
  * routine, not rare.
  *
  * Mechanics — no query or plan is touched:
  *   - master `local[cpus, 4]`: local-mode task retries enabled
  *     (maxFailures 4), vs the default fail-fast local[n].
  *   - a SparkListener calls `sc.killTaskAttempt(..., interrupt=true)`
  *     on the FIRST attempt-0 task of EVERY stage (once per stage —
  *     re-killing retries would spin to maxFailures): each graded
  *     key's plan provably re-executes at least one task per stage
  *     where the kill lands before completion (tiny tasks can win the
  *     race; the printed counter reports how many landed).
  *   - the dump itself is `Verify.main` verbatim: creating THIS session
  *     first makes Verify's `Session.local()` adopt it (master/UI are
  *     final; its runtime confs match ours), so the loop under test is
  *     the driver's own, not a copy.
  *
  * Deliberately NOT exercised: `spark.speculation` — Spark's
  * TaskSchedulerImpl never starts the speculation scheduler in local
  * mode (`if (isLocal) return` guards it), so setting the conf here
  * would be dead weight claiming coverage it cannot give (r13 review
  * find). Speculative duplicates run the SAME task binary twice and
  * commit through the same OutputCommitCoordinator path a retried
  * attempt does, so the kill-and-rerun proof covers the
  * bytes-per-attempt determinism question local mode CAN answer; true
  * speculation racing needs a multi-executor cluster.
  *
  * Usage: ChaosVerify <sfDir> <outDir>   (then stability_check.py
  * <normalDump> <outDir>). Exits 1 if zero kills landed — the proof
  * requires at least one actual forced re-execution.
  */
object ChaosVerify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.Session.local(maxFailures = 4)
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR") // kill-induced task logs would flood WARN
    val killed = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val kills = new AtomicLong
    val retriesSeen = new AtomicLong
    sc.addSparkListener(new SparkListener {
      override def onTaskStart(ts: SparkListenerTaskStart): Unit =
        if (ts.taskInfo.attemptNumber == 0 && killed.add(ts.stageId)) {
          // best-effort: sub-ms tasks can finish before the kill lands
          try {
            if (sc.killTaskAttempt(ts.taskInfo.taskId,
                interruptThread = true,
                reason = "chaos-verify forced re-execution"))
              kills.incrementAndGet()
          } catch { case _: Throwable => () }
        }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskInfo.attemptNumber > 0) retriesSeen.incrementAndGet()
    })
    graft.Verify.main(Array(sfDir, outDir)) // the real loop; stops spark
    println(s"[chaos] stages_seen=${killed.size} kills_landed=${kills.get}" +
      s" retry_attempts_completed=${retriesSeen.get}")
    if (kills.get == 0) {
      System.err.println("[chaos] ZERO kills landed — no forced " +
        "re-execution happened; the determinism proof did not run")
      sys.exit(1)
    }
  }
}
