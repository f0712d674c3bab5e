package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TextAnalysis

/** Laws for the bigram-LM fluency / perplexity ops (r17): the exact
  * integer scoring replayed by hand on a closed fixture, and the
  * textbook perplexity (the law-tested double API the graded key
  * deliberately does NOT hash — see lmFluency's scaladoc). */
class LmFluencySpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  // corpus: bigrams (a,b)×3, (b,a)×1; hist a=3, b=1; vocab {a,b,c} V=3
  private def fixture = Seq(
    (1L, "a b a b"),
    (2L, "a b"),
    (3L, "c"),
    (4L, null.asInstanceOf[String])).toDF("doc_id", "text")

  test("exact integer scoring replayed by hand") {
    val out = TextAnalysis.lmFluency(fixture).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    // sq(a,b) = 4e9 div 6 = 666666666; sq(b,a) = 2e9 div 4 = 500000000
    assert(out(0) == ((1L, 3L, 1833333332L, 611111110L)))
    assert(out(1) == ((2L, 1L, 666666666L, 666666666L)))
    assert(out(2) == ((3L, 0L, 0L, -1L))) // 1 word: no bigram, NULL fluency
    assert(out(3) == ((4L, 0L, 0L, -1L))) // NULL text survives with NULLs
  }

  test("smoothed scores are bounded in (0, 1e9]") {
    val rows = TextAnalysis.lmFluency(fixture)
      .filter("n_bigrams > 0").collect()
    rows.foreach { r =>
      val n = r.getLong(1); val s = r.getLong(2); val f = r.getLong(3)
      assert(s > 0 && s <= n * 1000000000L)
      assert(f > 0 && f <= 1000000000L)
    }
  }

  test("perplexity is the geometric mean of inverse conditionals") {
    val out = TextAnalysis.perplexity(fixture).orderBy("doc_id").collect()
    // doc2: one bigram, p(b|a) = (3+1)/(3+3) = 2/3 → PP = 3/2 exactly
    assert(math.abs(out(1).getDouble(2) - 1.5) < 1e-12)
    // doc1: PP = ((3/2)·2·(3/2))^(1/3) = 4.5^(1/3)
    assert(math.abs(out(0).getDouble(2) - math.cbrt(4.5)) < 1e-9)
    assert(out(0).getDouble(2) >= 1.0) // smoothed PP can't beat certainty
    // no-bigram docs: NULL perplexity, zero count
    Seq(2, 3).foreach { i =>
      assert(out(i).getLong(1) == 0L && out(i).isNullAt(2))
    }
  }

  test("repetitive text is more fluent than rare transitions") {
    // under the corpus LM the (a,b)-heavy doc outscores the doc made
    // of the rare (b,a) transition — the filter's discriminating law
    val docs = Seq((1L, "a b a b a b"), (2L, "b a"), (3L, "a b"))
      .toDF("doc_id", "text")
    val f = TextAnalysis.lmFluency(docs).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toMap
    assert(f(1L) > f(2L))
    val p = TextAnalysis.perplexity(docs).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) -1.0 else r.getDouble(2)))
      .toMap
    assert(p(1L) < p(2L)) // lower perplexity = more fluent
  }
}
