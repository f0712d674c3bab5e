package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Laws of the product quantizer (ops.Vectors.pqModel / pqSearch) —
  * the graded keys pin the values against DuckDB's re-run of the whole
  * training; these pin the ALGEBRA: code completeness and range,
  * argmin optimality against the returned codebook, the integer-grid
  * codebook invariant that makes every distance exact, and the
  * compression-vs-recall trade of brute-ADC search. */
class PqSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"
  private def model = ops.Vectors.pqModel(Tables.embeddings(spark, dir))

  test("every vector gets exactly one code per subspace, codes from the seed id set") {
    val (assign, codebook) = model
    val n = Tables.embeddings(spark, dir).count()
    assert(assign.count() == n * 8)
    assert(assign.select("vec_id", "sub").distinct().count() == n * 8)
    // codebook ids are the k smallest vec_ids (Lloyd's keeps identity)
    val cids = codebook.select("cid").distinct()
      .collect().map(_.getLong(0)).toSet
    val seeds = Tables.embeddings(spark, dir).select("vec_id")
      .orderBy("vec_id").limit(16).collect().map(_.getLong(0)).toSet
    assert(cids.subsetOf(seeds), s"codes outside the seed set: ${cids -- seeds}")
    // every assigned code exists in the codebook of its subspace
    val orphans = assign.select(col("sub"), col("cid")).distinct()
      .join(codebook.select("sub", "cid"), Seq("sub", "cid"), "left_anti")
      .count()
    assert(orphans == 0)
  }

  test("codebook lives on the integer micros grid (the exactness invariant)") {
    val (_, codebook) = model
    val offGrid = codebook
      .select(explode(col("cv")).as("c"))
      .filter(col("c") =!= floor(col("c")))
      .count()
    assert(offGrid == 0, "a centroid component escaped the integer grid")
  }

  test("assignments are argmin against the returned codebook (re-derived independently)") {
    // recompute every (vector, centroid) distance driver-side from the
    // raw parquet + the returned codebook and demand the op picked the
    // (d2, cid)-minimal entry per subspace
    val (assign, codebook) = model
    val cb = codebook.collect().map { r =>
      (r.getLong(0), r.getLong(1)) -> r.getSeq[Double](2).toArray
    }.toMap
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect().map { r =>
        r.getLong(0) -> r.getSeq[Float](1).toArray
          .map(x => math.round(x.toDouble * 1000000L).toDouble)
      }.toMap
    val rows = assign.select("vec_id", "sub", "cid", "d2").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (vid, sub, cid, d2) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val vs = vecs(vid).slice(sub.toInt * 8, sub.toInt * 8 + 8)
      def dist(c: Array[Double]): Double =
        vs.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
      val best = cb.collect { case ((s, id), c) if s == sub => (dist(c), id) }
        .minBy(identity)
      assert((d2, cid) == best,
        s"vec $vid sub $sub: op chose ($d2, $cid), argmin is $best")
    }
  }

  test("PQ compresses 64 floats to 8 codes of k=16 (4 bits each)") {
    val (assign, codebook) = model
    // 16 centroids per subspace at most → codes fit 4 bits; 8 subspaces
    val perSub = codebook.groupBy("sub").count().collect()
    assert(perSub.length == 8)
    perSub.foreach(r => assert(r.getLong(1) <= 16))
    assert(assign.select("sub").distinct().count() == 8)
  }

  test("brute-ADC top-5 agrees with the exact L2 top-5 on >= 60% of slots") {
    // ADC approximates the L2 ranking (the distance PQ codes carry) —
    // the baseline must be exact L2 on the same micros vectors, not
    // the cosine key (on unnormalized vectors those rankings differ
    // regardless of quantization)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect().map { r =>
        r.getLong(0) -> r.getSeq[Float](1).toArray
          .map(x => math.round(x.toDouble * 1000000L).toDouble)
      }
    val (qs, cs) = vecs.partition(_._1 < 10)
    val exact = qs.flatMap { case (qid, qv) =>
      cs.map { case (cid, cv) =>
        (qid, cid, qv.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.sortBy(t => (t._3, t._2)).take(5).map(t => (qid, t._2))
    }.toSet
    val pq = SparkEntry.queries("q_vec_ann_pq")(spark, dir)
      .select(col("q_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 50, s"exact L2 top-5 should have 50 pairs, got ${exact.size}")
    val overlap = (exact & pq).size
    // measured 44/50 at sf0.001 (ADC alone scores 11/50 on this
    // near-isotropic corpus — PQ's worst case; the exact rerank of
    // the ADC-50 shortlist is what makes the codes usable, which is
    // why the op ships the rerank); 60% is the pinned floor
    assert(overlap >= 30, s"PQ search overlap $overlap/50 below the 60% floor")
  }
}
