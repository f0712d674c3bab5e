package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TextAnalysis

/** Laws for the deterministic BPE tokenizer (r17): merge learning,
  * greedy longest-match application, and the frozen-table query op. */
class BpeSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("merge learning is deterministic and ties break lexically") {
    val vocab = TextAnalysis.BpeCorpusVocab
    assert(TextAnalysis.bpeMerges(vocab, 40) == TextAnalysis.bpeMerges(vocab, 40))
    // toy corpus: "ab" and "cd" both occur once — lexical tie-break
    // must pick (a, b) first, then (c, d)
    val m = TextAnalysis.bpeMerges(Seq("ab", "cd"), 2)
    assert(m == Seq(("a", "b"), ("c", "d")))
    // frequency beats lexical order: "zy" occurs twice, "ab" once
    val m2 = TextAnalysis.bpeMerges(Seq("zy", "zy", "ab"), 1)
    assert(m2 == Seq(("z", "y")))
  }

  test("merging stops when every word is one symbol (no infinite loop)") {
    val m = TextAnalysis.bpeMerges(Seq("ab"), 100)
    assert(m == Seq(("a", "b")))
  }

  test("greedy longest-match is total and reconstructs the word") {
    val units = TextAnalysis.bpeUnits(TextAnalysis.BpeCorpusVocab, 40)
    (TextAnalysis.BpeCorpusVocab ++ Seq("zebra", "qqq", "x", "filtersort",
      "UPPER", "123")).foreach { w =>
      val toks = TextAnalysis.bpeGreedy(w, units)
      assert(toks.mkString == w, s"segmentation of '$w' lost bytes: $toks")
      assert(toks.forall(_.nonEmpty))
    }
    // at 40 merges the closed vocab is fully merged: 1 token per word
    TextAnalysis.BpeCorpusVocab.foreach { w =>
      assert(TextAnalysis.bpeGreedy(w, units).length <= w.length)
    }
  }

  test("longest match wins over an eager shorter unit") {
    // units {a, b, c, ab, abc}: "abc" must take the 3-char unit whole
    val units = Set("a", "b", "c", "ab", "abc")
    assert(TextAnalysis.bpeGreedy("abc", units) == Seq("abc"))
    assert(TextAnalysis.bpeGreedy("abb", units) == Seq("ab", "b"))
  }

  test("bpeTokens: frozen-table lookup, off-vocab char fallback, NULL text") {
    val docs = Seq(
      (1L, "join merge join"),     // all in-vocab
      (2L, "join zebra"),          // zebra off-vocab → 5 char tokens
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeTokens(docs, TextAnalysis.BpeCorpusVocab)
      .orderBy("doc_id")
      .as[(Long, Option[Long], Option[Long])].collect()
    val units = TextAnalysis.bpeUnits(TextAnalysis.BpeCorpusVocab, 40)
    val joinN = TextAnalysis.bpeGreedy("join", units).length.toLong
    val mergeN = TextAnalysis.bpeGreedy("merge", units).length.toLong
    assert(out(0) == ((1L, Some(3L), Some(2 * joinN + mergeN))))
    assert(out(1) == ((2L, Some(2L), Some(joinN + 5L))),
      "off-vocab word must fall back to one token per character")
    assert(out(2) == ((3L, None, None)), "NULL text stays NULL")
  }

  test("the query path is a pure projection: no join, no shuffle") {
    val docs = Seq((1L, "join merge")).toDF("doc_id", "text")
    val p = TextAnalysis.bpeTokens(docs, TextAnalysis.BpeCorpusVocab)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"frozen-table lookup must not join or shuffle:\n$p")
  }
}
