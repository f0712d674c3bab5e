package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The test session: `Session.local(4)`, shared by every suite in the
  * test JVM. Each suite releases what it cached when it ends (memo
  * entries first, then any other cached frame), so no later suite's
  * cache-sensitive assertion sees frames it did not create. */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = Session.local(4)

  override def afterAll(): Unit =
    try {
      Memo.clear()
      spark.catalog.clearCache()
    } finally super.afterAll()
}
