package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one memo of the library: every result that several keys of a
  * session share — files and catalog tables written once, cached
  * DataFrames, driver-side fits and counts. Two key forms share one
  * map:
  *  - [[artifact]] keys on (session UUID, tier dir, name): the result
  *    is a function of the tier's files. Parameters ride in `name`
  *    (`"ivf nlist=16 seed=42"`).
  *  - [[over]] keys on (session UUID, canonicalized analyzed plan of
  *    `input`, name): the result is a function of a DataFrame. Plans
  *    compare structurally, so two independently built equal plans
  *    share one entry and a hash collision can never serve another
  *    plan's value. The key holds the plan — for a `LocalRelation`
  *    input that includes its rows — until [[clear]].
  *
  * Single-flight: a key's build runs at most once, even when first
  * callers race — the others block on the entry until the build
  * returns, then read its value. A concurrent map's `getOrElseUpdate`
  * may run a racing build twice, orphaning a cached copy, and two
  * builds of a fixed-path artifact are two writers in one directory.
  * A build that throws drops its entry, so a later caller builds
  * afresh.
  *
  * Entries live until [[clear]], which unpersists every DataFrame an
  * entry holds (the value, or a field of a tuple or case-class value)
  * and every frame registered with [[track]], then drops every entry.
  * File artifacts rebuild after a clear: each build overwrites in
  * place. */
object Memo {
  // Scala 2.13 lazy vals initialize under the instance lock
  private final class Entry(build: () => Any) {
    @volatile var built: Option[Any] = None
    lazy val value: Any = { val v = build(); built = Some(v); v }
  }

  private val entries = new ConcurrentHashMap[(String, Any, String), Entry]()
  private val tracked = new ConcurrentHashMap[LogicalPlan, DataFrame]()

  private def get[T](key: (String, Any, String), build: => T): T = {
    val entry = entries.computeIfAbsent(key, _ => new Entry(() => build))
    try entry.value.asInstanceOf[T]
    catch { case t: Throwable => entries.remove(key, entry); throw t }
  }

  private def plan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed.canonicalized

  private def uuid(s: SparkSession): String =
    org.apache.spark.sql.GraftBridge.sessionUUID(s)

  def artifact[T](s: SparkSession, dir: String, name: String)(build: => T): T =
    get((uuid(s), dir, name), build)

  def over[T](input: DataFrame, name: String)(build: => T): T =
    get((uuid(input.sparkSession), plan(input), name), build)

  /** Cache `df` and hold it for [[clear]] — for interior frames a
    * builder persists outside any entry's value. Like Spark's cache
    * manager, it holds one frame per plan; a plan that is already
    * cached is not cached again (Spark would only warn "Asked to cache
    * already cached data"). */
  def track(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) df.cache()
    tracked.putIfAbsent(plan(df), df)
    df
  }

  private def frames(v: Any): Iterator[Dataset[_]] = v match {
    case df: Dataset[_] => Iterator(df)
    case p: Product => p.productIterator.flatMap(frames)
    case _ => Iterator.empty
  }

  /** Release everything: drop every entry and tracked frame, and
    * unpersist every frame they held. */
  def clear(): Unit = {
    def release(df: Dataset[_]): Unit =
      try df.unpersist() catch { case _: Exception => () }
    entries.keySet.forEach(k =>
      Option(entries.remove(k)).flatMap(_.built).iterator.flatMap(frames).foreach(release))
    tracked.keySet.forEach(p => Option(tracked.remove(p)).foreach(release))
  }
}
