package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quantified ground-truth checks for the rows-only (no-oracle) query
  * keys, against the planted duplicate structure FIXTURES.md §1
  * documents for sf0.01: seven 3-gram-Jaccard ≥ 0.95 near-dup pairs
  * within the first 300 doc ids. Turns "spark_rows > 0" into measured
  * recall/precision. */
class RecallSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"

  // measured with DuckDB against the generated table (FIXTURES.md)
  private val planted = Set(
    (8L, 245L), (45L, 267L), (58L, 293L), (61L, 185L),
    (87L, 134L), (98L, 290L), (152L, 178L))

  test("MinHash-LSH recall on planted Jaccard≥0.95 pairs") {
    val got = SparkEntry.queries("q_dedup_minhash")(spark, dir)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = planted.count(got.contains)
    // 16 perms / 4 bands: a J=0.95 pair misses all 4 bands with
    // probability (1−0.95⁴)⁸·⁵ ≈ 0.02 per pair — allow one unlucky pair
    assert(found >= planted.size - 1, s"found only $found/${planted.size}")
  }

  test("md5 twin's affine-permutation family keeps MinHash recall (r14)") {
    // the r14 one-md5 + affine-permutation construction must stay a
    // real MinHash family, not just hash-match its mirrored oracle —
    // same planted J≥0.95 pairs and the same one-unlucky-pair slack
    // as the production xxhash64 family above
    val got = SparkEntry.queries("q_dedup_minhash_md5")(spark, dir)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = planted.count(got.contains)
    assert(found >= planted.size - 1, s"found only $found/${planted.size}")
  }

  test("SimHash pairs are true near-dups (precision via exact Jaccard)") {
    val pairs = SparkEntry.queries("q_dedup_simhash")(spark, dir)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty) // the planted structure must surface something
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val shingleSets = ops.Dedup.shingles(Tables.documents(spark, dir)
        .filter(col("doc_id").isInCollection(ids)))
      .groupBy("doc_id").agg(collect_set("sh").as("shs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    pairs.foreach { case (a, b) =>
      val sa: Set[String] = shingleSets(a)
      val sb: Set[String] = shingleSets(b)
      val j = (sa intersect sb).size.toDouble / (sa union sb).size
      assert(j >= 0.9, s"simhash pair ($a,$b) has exact Jaccard $j — false positive")
    }
  }

  test("simHashCandidates == brute-force Hamming pairs (pigeonhole banding is exact)") {
    val docs = Tables.documents(spark, dir)
    // brute force over the exact-collapsed corpus — the operator's own
    // universe (exact dups are q_dedup_exact's output, not candidates)
    val sigs = ops.Dedup.simHashAgg(ops.Dedup.exactCollapse(docs))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val maxH = 3
    // brute force over all pairs, locally (500 docs → 125k popcounts)
    val expected = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if h <= maxH
    } yield {
      val (a, b) = (sigs(i)._1, sigs(j)._1)
      (math.min(a, b), math.max(a, b), h)
    }).toSet
    val got = ops.Dedup.simHashCandidates(docs, maxHamming = maxH)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected, s"banding missed/added pairs: got ${got.size}, expected ${expected.size}")
    assert(expected.nonEmpty) // the planted near-dups produce close signatures
  }

  test("q_dedup_simhash_k (Hamming≤3) recall on planted near-dup pairs") {
    val got = SparkEntry.queries("q_dedup_simhash_k")(spark, dir)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "general Hamming≤k path returned no candidates")
    val found = planted.count(got.contains)
    // 4/7 measured on the fixed fixtures — deterministic, and the
    // expected regime for simhash at k=3: a J≥0.95 pair differing in a
    // handful of high-frequency tokens can legitimately sit at Hamming
    // 4-6 (simhash trades recall on short docs for O(n) banding; the
    // banding==brute test above proves the operator reports EXACTLY the
    // ≤k universe, so any drop here means the signature itself changed)
    assert(found >= 4, s"found only $found/${planted.size} planted pairs")
  }

  test("winnowing fingerprints: identical text ⇒ identical fingerprint, and planted pairs share windows") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"))
      .toDF("doc_id", "text")
    val fps = ops.TextAnalysis.fingerprints(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("minhash est_jaccard is calibrated: planted pairs estimate high") {
    val got = SparkEntry.queries("q_dedup_minhash")(spark, dir)
      .select("a", "b", "est_jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val ests = planted.toSeq.flatMap(got.get)
    // true J ≥ 0.95 ⇒ 16-perm estimate concentrates near 1
    assert(ests.nonEmpty && ests.forall(_ >= 0.75),
      s"under-estimated planted pairs: $ests")
  }
}
