package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one-pass MinHash UDAF must be bit-identical to the composed
  * numPerm-min-aggregates form it replaces. */
class MinHashAggSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"
  private val numPerm = 16

  test("UDAF signature == composed min(xxhash64(p, h0)) signatures on real docs") {
    val docs = Tables.documents(spark, dir)
    val viaAgg = ops.Dedup.shingleHashes(docs)
      .groupBy(col("doc_id"))
      .agg(expressions.MinHashAgg.minhash_sig(col("h0"), numPerm).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val composed = ops.Dedup.minHashSignatures(docs, numPerm)
      .collect().map(r => r.getLong(0) -> (1 to numPerm).map(r.getLong).toSeq)
      .toMap
    assert(viaAgg.keySet == composed.keySet)
    viaAgg.foreach { case (id, sig) =>
      assert(sig == composed(id), s"doc $id signature mismatch")
    }
  }

  test("SimHashAgg == composed two-stage simHash on real docs") {
    val docs = Tables.documents(spark, dir)
    val viaAgg = ops.Dedup.simHashAgg(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val composed = ops.Dedup.simHash(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg == composed)
  }

  test("r18 array-kernel md5 pipelines == exploded-row pipelines on the " +
    "fixture corpus (VERDICT r17 #5/#6: signatures from one projection)") {
    import graft.expressions.TextExpressions
    val docs = Tables.documents(spark, dir)
    // the production per-doc digest-array table and its exploded twin
    val arr = docs.select(col("doc_id"),
        TextExpressions.shingle_digests(col("text"), 3).as("hs"))
      .filter(col("hs").isNotNull && size(col("hs")) > 0)
    val sh = arr.select(col("doc_id"), explode(col("hs")).as("h"))
    val mmArr = ops.Text.minHashCandidatesMd5FromArrays(arr)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mmRows = ops.Text.minHashCandidatesMd5From(sh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mmArr == mmRows, "minhash candidate sets diverge")
    assert(mmRows.nonEmpty, "vacuous minhash comparison")
    val shArr = ops.Text.simHashPairsMd5FromArrays(arr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val shRows = ops.Text.simHashPairsMd5From(sh)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(shArr == shRows, "simhash pair sets diverge")
    // clean up the pre-cap caches both builders register
    Memo.clear()
  }

  test("r18 kernel signatures == aggregate signatures on random multi-doc " +
    "digest sets (duplicate-free arrays, adversarial bit patterns)") {
    import spark.implicits._
    import graft.expressions.TextExpressions
    val rnd = new scala.util.Random(43)
    val rows = (1L to 200L).map { id =>
      val n = 1 + rnd.nextInt(40)
      // distinct 60-bit digests, plus planted all-zero/all-one edges
      val base = Iterator.continually(rnd.nextLong() >>> 4).distinct.take(n).toSeq
      val hs = if (id % 17 == 0) (base :+ 0L :+ ((1L << 60) - 1)).distinct else base
      (id, hs)
    }
    val arr = rows.toDF("doc_id", "hs")
    val sh = arr.select(col("doc_id"), explode(col("hs")).as("h"))
    // minhash: kernel projection vs 16-min aggregate
    val hp = col("h") % 2147483647L
    val viaKernel = arr.select(col("doc_id"),
        TextExpressions.minhash_affine_sigs(col("hs"),
          ops.Text.permASeq, ops.Text.permBSeq, 2147483647L).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaAgg = sh.groupBy(col("doc_id"))
      .agg(array((0 until 16).map(p =>
        min((lit(ops.Text.permASeq(p)) * hp + ops.Text.permBSeq(p)) % 2147483647L)): _*)
        .as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaKernel == viaAgg)
    // simhash: kernel projection vs SimHashAgg
    val sigKernel = arr.select(col("doc_id"),
        TextExpressions.simhash_from_set(col("hs")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sigAgg = sh.groupBy(col("doc_id"))
      .agg(expressions.SimHashAgg.simhash_sig(col("h")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigKernel == sigAgg)
  }

  test("r18 kernel signature builders evaluate ONCE per doc in the executed " +
    "plan (the CollapseProject trap: 16 element_at refs must not re-inline " +
    "the kernel) and plan no groupBy shuffle") {
    val docs = Tables.documents(spark, dir)
    val pm = ops.Dedup.minHashSignatures(docs, numPerm)
      .queryExecution.executedPlan.toString
    val occurrences = "minhashxxsigs".r.findAllIn(pm.toLowerCase).size
    assert(occurrences == 1,
      s"minhashxxsigs appears $occurrences times (CollapseProject re-inline?):\n$pm")
    assert(!pm.contains("Exchange"),
      s"signature build still shuffles:\n$pm")
    val ps = ops.Dedup.simHashAgg(docs)
      .queryExecution.executedPlan.toString
    assert(ps.toLowerCase.contains("simhashtext"), s"simhash kernel missing:\n$ps")
    assert(!ps.contains("Exchange"), s"simhash build still shuffles:\n$ps")
  }

  test("partial/final merge path: multi-partition input gives the same signature") {
    import spark.implicits._
    val hashes = (1L to 10000L).map(h => (1L, h * 2654435761L))
      .toDF("doc_id", "h0").repartition(8)
    val sig = hashes.groupBy(col("doc_id"))
      .agg(expressions.MinHashAgg.minhash_sig(col("h0"), numPerm).as("sig"))
      .head().getSeq[Long](1)
    val single = hashes.coalesce(1).groupBy(col("doc_id"))
      .agg(expressions.MinHashAgg.minhash_sig(col("h0"), numPerm).as("sig"))
      .head().getSeq[Long](1)
    assert(sig == single) // merge order can't matter for elementwise min
    assert(sig.length == numPerm && sig.forall(_ != Long.MaxValue))
  }
}
