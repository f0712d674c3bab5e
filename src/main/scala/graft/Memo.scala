package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession

/** The one memo for written-once artifacts: files and catalog tables
  * that several keys of a session read, keyed by (session UUID, tier
  * dir, artifact name).
  *
  * Single-flight: a key's build runs at most once, even when first
  * callers race — the others block on the entry until the build
  * returns, then read its value. `TrieMap.getOrElseUpdate` may run a
  * racing build twice, and two builds of a fixed-path artifact are two
  * writers in one directory. A build that throws drops its entry, so
  * a later caller builds afresh. Entries live as long as the JVM, like
  * the artifacts on disk. */
object Memo {
  // Scala 2.13 lazy vals initialize under the instance lock
  private final class Entry(build: () => Any) {
    lazy val value: Any = build()
  }

  private val entries = new ConcurrentHashMap[(String, String, String), Entry]()

  def artifact[T](s: SparkSession, dir: String, name: String)(build: => T): T = {
    val key = (org.apache.spark.sql.GraftBridge.sessionUUID(s), dir, name)
    val entry = entries.computeIfAbsent(key, _ => new Entry(() => build))
    try entry.value.asInstanceOf[T]
    catch { case t: Throwable => entries.remove(key, entry); throw t }
  }
}
