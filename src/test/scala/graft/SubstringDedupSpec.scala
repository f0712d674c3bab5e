package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TextAnalysis

/** Laws for exact substring-span dedup (r17): span boundaries replayed
  * by hand, overlap/adjacency merging, gap splitting, within-doc
  * repeats, and the all-unique zero-row family law. */
class SubstringDedupSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def words(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("span boundaries, overlap merge, gap split — replayed by hand") {
    val shared8 = words("w", 8)
    val c9 = words("c", 9)
    val docs = Seq(
      (1L, s"$shared8 x1 x2"),               // shares shingle@1 with doc 2
      (2L, s"$shared8 y1 y2"),
      (3L, s"${words("a", 8)} b ${words("a", 8)}"), // within-doc repeat, gap
      (4L, c9),                               // two overlapping dup shingles
      (5L, s"$c9 z"),
      (6L, words("u", 20))).toDF("doc_id", "text") // fully unique
    val out = TextAnalysis.duplicateSpans(docs)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, 8L, 1L),
      (2L, 1L, 8L, 1L),
      (3L, 1L, 8L, 1L), (3L, 10L, 17L, 1L), // pos 10 > prev_end+1=9: split
      (4L, 1L, 9L, 2L),                     // pos 2 <= prev_end+1: merged
      (5L, 1L, 9L, 2L)))
  }

  test("all-unique corpus emits zero spans (the sparse-tier family law)") {
    val docs = Seq((1L, words("p", 30)), (2L, words("q", 30)),
      (3L, null.asInstanceOf[String]), (4L, "short text"))
      .toDF("doc_id", "text")
    assert(TextAnalysis.duplicateSpans(docs).count() == 0L)
  }

  test("span geometry invariants on the real corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val k = 8
    val rows = TextAnalysis.duplicateSpans(docs, k).collect()
    assert(rows.nonEmpty) // planted dups make the key non-vacuous
    rows.foreach { r =>
      val len = r.getLong(2) - r.getLong(1) + 1
      val n = r.getLong(3)
      assert(r.getLong(1) >= 1)
      assert(len >= k, s"span shorter than a shingle: $r")
      assert(n <= len - k + 1, s"more shingles than positions: $r")
      assert(len <= n * k, s"island covers uncovered tokens: $r")
    }
    // spans within one doc are disjoint and maximal (gap > 1 between
    // consecutive intervals — adjacent ones would have merged)
    rows.groupBy(_.getLong(0)).values.foreach { sp =>
      val sorted = sp.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b.getLong(1) > a.getLong(2) + 1)
        case _ =>
      }
    }
  }
}
