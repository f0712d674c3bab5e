package graft.tools

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.{Session, SparkEntry}

/** One profiler for the declared keys, on the session Bench builds.
  *
  * Usage: runMain graft.tools.Profile [--passes N] [--plan DIR] [key ...]
  *
  * Runs the named keys in argv order (every key, in SparkEntry order,
  * when none is named) against SPARK_GRAFT_SF_DIR (default sf0.1). Each
  * of the N passes (default 1) times every key's `.count()`; a key that
  * throws is printed with its message and counted, and any failure
  * makes the exit status 1. Naming a key twice times its warm run;
  * naming two keys that share a memoized build (say
  * q_dedup_clusters_md5 before q_dedup_minhash_md5) splits the
  * first-touch build from the key's own work. Every streaming
  * micro-batch prints its durationMs breakdown.
  *
  * `--plan DIR` times nothing: it writes each key's formatted physical
  * plan, followed by the plain operator tree, to DIR/<key>.txt, so a
  * plan audit is a `grep -l` over those files, e.g. for "Exchange
  * SinglePartition" (the allowlists live in GlobalPlanSweepSpec). For
  * the per-layer split of a key's time use perfbench's `--trace 1`.
  */
object Profile {
  // building q_stream_upsert's frame runs its whole streaming replay,
  // and the plan it returns is only the final snapshot read
  private val unbuilt = Set("q_stream_upsert")

  def main(args: Array[String]): Unit = {
    @annotation.tailrec
    def parse(rest: List[String], passes: Int, plan: Option[String],
        keys: Vector[String]): (Int, Option[String], Vector[String]) = rest match {
      case "--passes" :: n :: tail => parse(tail, n.toInt, plan, keys)
      case "--plan" :: d :: tail => parse(tail, passes, Some(d), keys)
      case k :: tail => parse(tail, passes, plan, keys :+ k)
      case Nil => (passes, plan, keys)
    }
    val (passes, planDir, named) = parse(args.toList, 1, None, Vector.empty)
    val queries = SparkEntry.queries
    // checked before the session starts: a typo should not cost a
    // JVM and Spark spin-up before it is reported
    val unknown = named.filterNot(queries.contains)
    if (unknown.nonEmpty) {
      unknown.foreach { u =>
        val close = queries.keys.toSeq.sorted
          .filter(k => k.contains(u.stripPrefix("q_")) || u.contains(k.stripPrefix("q_")))
          .take(5)
        System.err.println(s"unknown key '$u'" +
          (if (close.nonEmpty) s" — did you mean: ${close.mkString(", ")}?" else ""))
      }
      System.err.println(s"available keys:\n  ${queries.keys.toSeq.sorted.mkString("\n  ")}")
      sys.exit(2)
    }
    val keys = if (named.nonEmpty) named else queries.keys.toVector
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.toSeq.sortBy(-_._2)
          .map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
        println(s"[profile] batch=${p.batchId} rows=${p.numInputRows} $d")
      }
    })
    var failures = 0
    def failed(name: String, e: Throwable): Unit = {
      failures += 1
      println(s"[profile] FAILED $name: ${e.getMessage}")
    }
    planDir match {
      case Some(dir) =>
        Files.createDirectories(Paths.get(dir))
        keys.foreach { name =>
          if (unbuilt(name)) println(s"[profile] skipping $name (building it runs the replay)")
          else try {
            val qe = queries(name)(spark, sfDir).queryExecution
            Files.writeString(Paths.get(dir, s"$name.txt"),
              qe.explainString(FormattedMode) + "\n" + qe.explainString(SimpleMode))
          } catch { case e: Throwable => failed(name, e) }
        }
      case None =>
        (1 to passes).foreach { pass =>
          var total = 0.0
          keys.foreach { name =>
            val t0 = System.nanoTime()
            val rows = try Some(queries(name)(spark, sfDir).count())
              catch { case e: Throwable => failed(name, e); None }
            val s = (System.nanoTime() - t0) / 1e9
            total += s
            println(f"[profile] pass $pass $s%7.2f s  $name" +
              rows.fold("")(n => s" ($n rows)"))
          }
          println(f"[profile] pass $pass total $total%.2f s (${keys.size} keys)")
        }
    }
    spark.stop()
    if (failures > 0) {
      println(s"[profile] $failures failed")
      sys.exit(1)
    }
  }
}
