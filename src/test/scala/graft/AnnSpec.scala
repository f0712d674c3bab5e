package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF index contract: bounded deterministic training sample, build
  * once / search many, persistable. */
class AnnSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"
  private def corpus = Tables.embeddings(spark, dir).filter(col("vec_id") >= 10)

  private def assignments(idx: ops.Ann.IvfIndex): Map[Long, Int] =
    idx.assigned.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("sampleCap above corpus size == full-corpus training (identical assignments)") {
    val full = ops.Ann.buildIndex(corpus, nlist = 8, sampleCap = Int.MaxValue)
    val capped = ops.Ann.buildIndex(corpus, nlist = 8, sampleCap = 100000)
    assert(assignments(full) == assignments(capped))
  }

  test("build is deterministic under a sub-corpus sample") {
    val a = ops.Ann.buildIndex(corpus, nlist = 8, sampleCap = 100)
    val b = ops.Ann.buildIndex(corpus, nlist = 8, sampleCap = 100)
    assert(assignments(a) == assignments(b))
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq)
  }

  test("save/load round-trip: persisted index searches identically, no retrain") {
    val idx = ops.Ann.buildIndex(corpus, nlist = 8, sampleCap = 100000)
    val path = java.nio.file.Files.createTempDirectory("ivf").toString
    ops.Ann.saveIndex(idx, path)
    val loaded = ops.Ann.loadIndex(spark, path)
    assert(assignments(loaded) == assignments(idx))

    val q = Tables.embeddings(spark, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        transform(col("embedding"), x => x.cast("double")).as("qv"))
    def res(i: ops.Ann.IvfIndex) =
      ops.Ann.ivfSearch(spark, i.assigned, i.centroids, q, k = 5, nprobe = 4)
        .select("q_id", "c_id", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(res(loaded) == res(idx))
  }

  test("IVF recall@5 vs exact kNN (measure nprobe curve)") {
    val exact = SparkEntry.queries("q_vec_knn")(spark, dir)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx = ops.Ann.buildIndex(corpus, nlist = 16)
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        transform(col("embedding"), x => x.cast("double")).as("qv"))
    def recallAt(np: Int): Double = {
      val approx = ops.Ann.ivfSearch(spark, idx.assigned, idx.centroids, q,
          k = 5, nprobe = np)
        .select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    for (np <- Seq(4, 8, 12)) info(s"nprobe=$np recall@5=${recallAt(np)}")
    // the graded key's operating point (q_vec_ann_ivf uses nprobe=8)
    assert(recallAt(8) >= 0.8, s"recall@5 at nprobe=8 = ${recallAt(8)}")
  }

  test("final ranking input is bounded on a deliberately coarse index (r7)") {
    // nlist=2 puts ~half the corpus in each cell — the r6 VERDICT's
    // 100×-scale hazard. The per-(q_id, cell) pre-top-k must bound the
    // global window's input at nprobe·k rows per query regardless of
    // cell occupancy, and, probing ALL cells (nprobe = nlist), the
    // search must still return the exact brute-force cosine top-k —
    // the pre-top-k is a plan optimization, never a result change.
    val idx = ops.Ann.buildIndex(corpus, nlist = 2, sampleCap = 100000)
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        transform(col("embedding"), x => x.cast("double")).as("qv"))
    val nq = q.count()
    val k = 5
    val cands = ops.Ann.ivfCandidates(spark, idx.assigned, idx.centroids, q,
      k = k, nprobe = 2)
    assert(cands.count() <= nq * 2 * k,
      "per-cell pre-top-k failed to bound the final window's input")

    // nprobe = nlist == exact brute force over the whole corpus
    val ivf = ops.Ann.ivfSearch(spark, idx.assigned, idx.centroids, q,
        k = k, nprobe = 2)
      .select("q_id", "c_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = SparkEntry.queries("q_vec_knn")(spark, dir)
      .select("q_id", "c_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivf == brute, "coarse-index full-probe search ≠ exact top-k")
  }

  test("empty corpus law: index over nothing is empty, searches return no rows") {
    // r11 empty-shard find: lloyd's nonEmpty require killed buildIndex
    // on a zero-row corpus, but an empty shard is a normal ingest
    // condition. Contract: empty index (zero centroids, zero
    // assignments), and a search against it probes an empty broadcast
    // centroid table and yields zero candidates — not an exception.
    val idx = ops.Ann.buildIndex(corpus.filter(lit(false)), nlist = 8)
    assert(idx.centroids.isEmpty && idx.assigned.count() == 0)
    val queries = Tables.embeddings(spark, dir).limit(3)
      .select(col("vec_id").as("q_id"),
        transform(col("embedding"), x => x.cast("double")).as("qv"))
    val hits = ops.Ann.ivfSearch(spark, idx.assigned, idx.centroids,
      queries, k = 5, nprobe = 2)
    assert(hits.count() == 0)
  }

  test("defaultNlist follows √n inside the [16, 65536] envelope") {
    assert(ops.Ann.defaultNlist(100) == 16)          // clamped low
    assert(ops.Ann.defaultNlist(1000000) == 1000)    // √n
    assert(ops.Ann.defaultNlist(10000000000L) == 65536) // clamped high
    val auto = ops.Ann.buildIndex(corpus, nlist = 0, sampleCap = 100000)
    assert(auto.centroids.length == ops.Ann.defaultNlist(corpus.count()))
  }
}
