package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Det, Tables}
import Det._

/** SURVEY §2.9 family I — vector similarity & the text+vector join (the
  * LLM-data extension over `embeddings`).
  *
  * All arithmetic follows §2.8 rule 7b: float32 components are cast to
  * DOUBLE before any op, folds are left-assoc in index order, matching
  * the oracle's `list_inner_product` summation.
  *
  * Scale notes: the knn query broadcasts the (bounded) query set and
  * streams the candidate side — a brute-force top-k that is the correct
  * baseline shape at any scale when the query set is small; the
  * LSH-bucketed variant for large query sets lives in ops.Dedup
  * (random-hyperplane signatures → per-bucket joins).
  */
object Vectors {

  /** float32 array → double array (§2.8 7b). */
  private def dbl(c: Column): Column = transform(c, x => x.cast("double"))
  /** Σ xᵢyᵢ as a left-assoc fold in index order — since r16 the custom
    * [[graft.expressions.VectorExpressions.dot_product]] expression
    * (proven === the aggregate∘zip_with HOF fold bit-exactly in
    * VectorExpressionsSpec). Same bits, radically cheaper eval: the
    * HOF form is interpreted per ELEMENT (Catalyst lambda dispatch),
    * and inside the k-means argmin's per-centroid transform that
    * interpretation dominated the decade-2 fit (~95 s for 200k×64×8×3
    * dots); the expression's eval is one tight double loop (and
    * codegens outside HOF lambdas). The size guard preserves the HOF
    * form's length-mismatch semantics (zip_with null-pads the shorter
    * array → the fold is NULL): a ragged vector must surface as NULL,
    * never as a plausible truncated dot (r16 review). Inputs never
    * carry null ELEMENTS (micros-quantized vectors), the one remaining
    * case where the two forms could differ. A self-dot needs no guard:
    * one column's two reads cannot differ in length, and a NULL input
    * is NULL either way (the guard there is a trivially true predicate
    * Spark warns about on every build). */
  private def dot(a: Column, b: Column): Column =
    if (a == b) graft.expressions.VectorExpressions.dot_product(a, a)
    else when(size(a) === size(b),
      graft.expressions.VectorExpressions.dot_product(a, b))
  private def norm2(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x * x)

  /** Deterministic Lloyd's k-means, the semantic-clustering primitive
    * behind embedding-space curation (cluster-balanced sampling,
    * semantic dedup): seeds = the k smallest present vec_ids, a FIXED
    * iteration count, and every FP hazard engineered out so the
    * assignment hash-matches DuckDB:
    *  - components are micros-quantized (integer-VALUED doubles), so
    *    iteration-1 distances are exact integer arithmetic in doubles
    *    (≤ 64·10¹² ≪ 2⁵³) and per-dim centroid sums re-associate
    *    exactly (summed as BIGINT — partial-agg order irrelevant);
    *  - iteration-2 centroids are one correctly-rounded division each,
    *    and d² = ⟨v,v⟩ − 2⟨v,c⟩ + ⟨c,c⟩ is the same left-assoc
    *    index-order fold both engines run (q_vec_knn's proven rule);
    *  - argmin ties break on cluster id (ROW_NUMBER over (d², cid)).
    * Scale shape: centroids are a k-row broadcast per iteration; the
    * recompute is a partial+final integer aggregation — the only
    * shuffles are by (cid, dim) and vec_id, never all-pairs. */
  def kmeansAssignments(e: DataFrame, k: Int, iters: Int = 2): DataFrame = {
    require(k > 0 && iters >= 1, s"need k > 0 and iters >= 1, got k=$k iters=$iters")
    // memoized per (session, input plan, k, iters): q_vec_kmeans and
    // q_sample_semantic share one 2-iteration fit per session; the
    // cached df IS the returned result, so callers' projections hit it
    graft.Memo.over(e, s"kmeans k=$k iters=$iters") {
      val v = e.select(col("vec_id"),
        transform(dbl(col("embedding")), x => round(x * 1000000L, 0)).as("vm"))
      // seeds = the k SMALLEST ids PRESENT (not `vec_id < k`): on a
      // filtered corpus — the pipeline-demo audit path — ids 0..k-1
      // may be gone, and a thinner seed set silently shrinks k. On
      // the contiguous-id graded table the two rules coincide.
      val seeds = v.orderBy(col("vec_id")).limit(k)
        .select(col("vec_id").as("cid"), col("vm").as("cv"))
      val first = assignToNearest(v, seeds)
      val last = (2 to iters).foldLeft(first) { (a, _) =>
        assignToNearest(v, recomputeCentroids(a))
      }
      last.select(col("vec_id"), col("cid"),
          round(sqrt(col("d2")) / 1000000.0, 4).as("dist4"))
        .cache() // tiny (one row per vector); two graded keys share one fit
    }
  }

  /** (vec_id, vm, cid, d2): each vector with its nearest centroid.
    *
    * Shape (r15): ALL k centroids ride ONE broadcast row
    * (collect_list of (cid, cv)) and the argmin is a pure PROJECTION —
    * array_min over (d2, cid) structs, so the d2 tie breaks on the
    * smaller cid exactly like the previous window's orderBy(d2, cid),
    * and collect_list's nondeterministic order is irrelevant (min is
    * order-free). The r5–r14 form crossJoined each vector against the
    * k broadcast centroid ROWS (k× row expansion) and then shuffled
    * the expanded set through a per-vector row_number window — at
    * decade 2 that window sort dominated the two keys sharing the fit
    * (q_sample_semantic 40.3 s). Zero shuffle now: one narrow pass,
    * same bits (identical per-pair double expression, identical
    * tie-break). */
  private def assignToNearest(v: DataFrame, c: DataFrame): DataFrame = {
    val cs = c.agg(collect_list(struct(col("cid"), col("cv"))).as("cs"))
    def d2of(cc: Column): Column =
      dot(col("vm"), col("vm")) -
        (lit(2.0) * dot(col("vm"), cc.getField("cv"))) +
        dot(cc.getField("cv"), cc.getField("cv"))
    v.crossJoin(broadcast(cs))
      .withColumn("best", array_min(transform(col("cs"), cc =>
        struct(d2of(cc).as("d2"), cc.getField("cid").as("cid")))))
      // empty centroid set ⇒ array_min(empty) = NULL best: emit ZERO
      // assignment rows, not every vector with NULL cid/d2 (r15 advice
      // — unreachable from the current callers, where c is empty only
      // when v is, but a latent trap for future ones)
      .filter(col("best").isNotNull)
      .select(col("vec_id"), col("vm"),
        col("best").getField("cid").as("cid"),
        col("best").getField("d2").as("d2"))
  }

  /** Per-cluster mean vectors from exact integer per-dim sums. */
  private def recomputeCentroids(a: DataFrame): DataFrame =
    a.select(col("cid"), posexplode(col("vm")).as(Seq("dim", "mv")))
      .groupBy(col("cid"), col("dim"))
      .agg(sum(col("mv").cast("long")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"),
          (col("s").cast("double") / col("n")).as("m")))),
        x => x.getField("m")).as("cv"))

  /** md5-seeded ±1 hyperplane signs (8 planes × 64 dims) behind the
    * GRADED ANN-LSH twin: sign(p, i) = low bit of the 60-bit md5
    * digest of "p|i" (the [[Profiling.rowDigest]] convention),
    * computed ONCE driver-side and inlined as literals in BOTH the
    * Spark plan and the oracle SQL — so the twin needs no in-engine
    * hash agreement at all, just the proven list_inner_product ==
    * zip_with-fold dot identity. The production path
    * ([[Dedup.hyperplaneBucket]]) stays on xxhash64-derived signs. */
  private[graft] lazy val md5Planes: IndexedSeq[IndexedSeq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    IndexedSeq.tabulate(8, 64) { (p, i) =>
      val hex = md.digest(s"$p|$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val digest60 = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      if ((digest60 & 1L) == 1L) 1.0 else -1.0
    }
  }

  /** The GRADED hyperplane-LSH candidate pipeline (r6, VERDICT r5
    * #4): bucket = 8 sign bits of md5-seeded signed dots, production
    * hot-bucket cap (count → [[Dedup.antiJoinHot]], mirrored in the
    * oracle's HAVING semi-join), in-bucket exact cosine ≥ 0.2. Same
    * plan shape as [[Dedup.annCandidates]] — recall stays spec'd in
    * RecallSpec against the xxhash64 production twin. */
  private[graft] def annLshMd5(e: DataFrame, maxBucket: Long = 4096L): DataFrame = {
    val v = e.select(col("vec_id"), dbl(col("embedding")).as("v"))
    val bucket = md5Planes.zipWithIndex.map { case (sg, p) =>
      when(dot(col("v"), typedLit(sg.toSeq)) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    // cached pre-cap: the bucketed projection feeds the hot count AND
    // both join sides (the md5 band tables' three-consumer rationale;
    // tracked so Memo.clear() unpersists it)
    val withB = graft.Memo.track(v.withColumn("bucket", bucket.cast("long")))
    val hot = withB.groupBy(col("bucket")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxBucket).select(col("bucket"))
    val kept = Dedup.antiJoinHot(withB, hot, Seq("bucket"))
    val a = kept.select(col("bucket"), col("vec_id").as("a"), col("v").as("va"))
    val b = kept.select(col("bucket"), col("vec_id").as("b"), col("v").as("vb"))
    a.join(b, "bucket").filter(col("a") < col("b"))
      .withColumn("cos4", round(
        graft.expressions.VectorExpressions.cosine_sim(col("va"), col("vb")), 4))
      .filter(col("cos4") >= 0.2)
      .select(col("a"), col("b"), col("bucket"), col("cos4"))
  }

  /** Symmetric per-vector int8 scalar quantization (SQ8) — the standard
    * 4× memory-compression step for embedding storage and ANN search at
    * scale (the FAISS `SQ8` / parquet int8-list layout): component
    * qᵢ = round-half-up(vᵢ / scale) with scale = max|v| / 127, so the
    * largest component always saturates at ±127 and the reconstruction
    * error is bounded by scale/2 per component (QuantizeSpec pins the
    * bound, the [-127, 127] range, and ≥80% top-5 agreement with exact
    * cosine search). Pure projection — no shuffle, no UDF, and every op
    * (abs, order-free max, one division, floor(x + 0.5)) is a single
    * correctly-rounded IEEE op, so the quantized vectors hash-match
    * DuckDB bit for bit. floor(x + 0.5), NOT round(x): round's
    * half-even-vs-half-up tie rule is the one engine-divergent scalar
    * op (the climate ROUND-tie lesson); floor is exact everywhere.
    * Emits q (ARRAY<BIGINT>, the graded form), qb (ARRAY<TINYINT>, the
    * 1-byte storage form — 4× smaller than float32 on disk), scale,
    * max_err = maxᵢ |qᵢ·scale − vᵢ| (order-free max over identical IEEE
    * sequences, graded unrounded) and n_sat (saturated components).
    * All-zero vectors quantize to all-zero with scale 0 (the guard
    * keeps ANSI's NaN-to-long cast error out of the 0/0 branch). */
  def quantizeInt8(e: DataFrame): DataFrame = {
    val base = e.select(col("vec_id"), dbl(col("embedding")).as("v"))
      .withColumn("vmax", array_max(transform(col("v"), x => abs(x))))
      .withColumn("scale", col("vmax") / 127.0)
      .withColumn("q", transform(col("v"), x =>
        when(col("vmax") === 0.0, lit(0L))
          .otherwise(floor(x / col("scale") + 0.5))))
    base.select(col("vec_id"), col("scale"), col("q"),
      transform(col("q"), qi => qi.cast("byte")).as("qb"),
      array_max(zip_with(col("q"), col("v"),
        (qi, vi) => abs(qi.cast("double") * col("scale") - vi))).as("max_err"),
      size(filter(col("q"), qi => abs(qi) === 127L)).cast("long").as("n_sat"))
  }

  /** The shared brute-force cosine top-5 shape (q_vec_knn on the exact
    * vectors, q_vec_ann_sq8 on the quantized ones): vec_ids < 10 are
    * the broadcast query side, the rest stream as candidates; ranking
    * on the 4-dp-rounded cosine with c_id tie-break so both engines
    * walk the same grid. Input: (vec_id, v: ARRAY<DOUBLE>). */
  private def broadcastTop5(vecs: DataFrame): DataFrame = {
    val q = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val c = vecs.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    val cos4 = round(
      graft.expressions.VectorExpressions.cosine_sim(col("qv"), col("cv")), 4)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos4").desc, col("c_id"))
    c.crossJoin(broadcast(q))
      .withColumn("cos4", cos4)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("c_id"), col("cos4"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  // ---- product quantization (r17) ----------------------------------
  /** Product quantization (PQ) — the FAISS-family codebook compression
    * completing the quantization ladder (SQ8 = 4×; PQ at m=8, k=16 is
    * 256 float bytes → 8 4-bit codes = 64×): each vector splits into
    * `m` `subDim`-dim subvectors, each subspace learns `k` centroids
    * by the deterministic Lloyd recipe [[kmeansAssignments]] proved
    * out (micros-quantized inputs, seeds = the k smallest PRESENT
    * vec_ids' subvectors, FIXED iteration count, argmin ties on cid),
    * and a vector's code is its m-tuple of per-subspace centroid ids.
    *
    * One extra determinism move the full-space fit doesn't need: the
    * codebook is RE-QUANTIZED to the integer micros grid after every
    * mean recompute — cq = floor(s/n + 0.5), one correctly-rounded
    * division plus a floor, identical IEEE steps in both engines
    * (integer codebooks are standard PQ storage anyway). With integer
    * subvectors AND integer centroids every training, assignment and
    * ADC-search distance is exact integer arithmetic in doubles
    * (≤ subDim·(4·10⁶)² ≪ 2⁵³), so there is NO summation-order hazard
    * anywhere: the ADC sum over subspaces is order-free and the graded
    * outputs are exact BIGINTs, unrounded.
    *
    * Scale shape: the subspace explode is m× rows of 1/m-size arrays
    * (same total bytes, one narrow pass); centroids ride a broadcast
    * of m one-row-per-subspace centroid LISTS and the argmin is the
    * [[assignToNearest]] array_min projection — zero shuffle; the
    * recompute is a (sub, cid, dim)-keyed exact-integer partial
    * aggregation. Returns (assignments, codebook): assignments =
    * (vec_id, sub, vs, cid, d2), codebook = (sub, cid, cv) — memoized
    * per (session, input plan, params) in [[graft.Memo]] since the code
    * and search keys share one fit. */
  private[graft] def pqModel(e: DataFrame, m: Int = 8, subDim: Int = 8,
                             k: Int = 16, iters: Int = 2)
      : (DataFrame, DataFrame) = {
    require(m > 0 && subDim > 0 && k > 0 && iters >= 1,
      s"need positive PQ params, got m=$m subDim=$subDim k=$k iters=$iters")
    graft.Memo.over(e, s"pq m=$m subDim=$subDim k=$k iters=$iters") {
      // sv feeds the seed join + both assign passes (3-4 evaluations
      // per fit). Caching it was attempted and REVERTED in the r18
      // optimization round (VERDICT r17 #4): A/B min-of-3 alternating
      // fresh JVMs measured q_vec_pq 7.80 -> 8.30 s and q_vec_ann_pq
      // 1.88 -> 2.01 s with a FLAT control (q_vec_knn 0.53/0.53) —
      // the InMemoryRelation materialization of the m×-exploded
      // corpus costs more than the re-derivations it saves (the
      // q_climate_qmap revert, one module over). At archive scale the
      // fit trains on a bounded sample upstream anyway.
      val sv = pqSubspaces(e, m, subDim)
      val seedIds = e.select(col("vec_id")).orderBy(col("vec_id")).limit(k)
      val seeds = sv.join(broadcast(seedIds), "vec_id")
        .select(col("sub"), col("vec_id").as("cid"), col("vs").as("cv"))
      def assign(cents: DataFrame): DataFrame = {
        val cs = cents.groupBy(col("sub"))
          .agg(collect_list(struct(col("cid"), col("cv"))).as("cs"))
        def d2of(cc: Column): Column =
          dot(col("vs"), col("vs")) -
            (lit(2.0) * dot(col("vs"), cc.getField("cv"))) +
            dot(cc.getField("cv"), cc.getField("cv"))
        sv.join(broadcast(cs), "sub")
          .withColumn("best", array_min(transform(col("cs"), cc =>
            struct(d2of(cc).as("d2"), cc.getField("cid").as("cid")))))
          .filter(col("best").isNotNull) // empty codebook ⇒ zero rows
          .select(col("vec_id"), col("sub"), col("vs"),
            col("best").getField("cid").as("cid"),
            col("best").getField("d2").as("d2"))
      }
      // per-(sub, cid, dim) exact integer mean, re-quantized to the
      // micros grid: floor(s/n + 0.5) — see the determinism note
      def requantized(a: DataFrame): DataFrame =
        a.select(col("sub"), col("cid"),
            posexplode(col("vs")).as(Seq("dim", "mv")))
          .groupBy(col("sub"), col("cid"), col("dim"))
          .agg(sum(col("mv").cast("long")).as("s"), count(lit(1)).as("n"))
          .groupBy(col("sub"), col("cid"))
          .agg(transform(
            array_sort(collect_list(struct(col("dim"),
              // Spark floor() yields LONG; keep the codebook
              // array<double> (integer-VALUED) like every vm array
              floor(col("s").cast("double") / col("n").cast("double") + 0.5)
                .cast("double").as("m")))),
            x => x.getField("m")).as("cv"))
      var cents = seeds
      var a = assign(cents)
      (2 to iters).foreach { _ =>
        cents = requantized(a).cache() // small: m·k rows
        a = assign(cents)
      }
      (a.cache(), cents)
    }
  }

  /** The (vec_id, sub, vs) long form: subvector `sub` ∈ [0, m) holds
    * micros-quantized components [sub·subDim, (sub+1)·subDim). */
  private def pqSubspaces(e: DataFrame, m: Int, subDim: Int): DataFrame =
    e.select(col("vec_id"),
        transform(dbl(col("embedding")), x => round(x * 1000000L, 0)).as("vm"))
      .select(col("vec_id"),
        explode(sequence(lit(0L), lit(m - 1L))).as("sub"), col("vm"))
      .select(col("vec_id"), col("sub"),
        slice(col("vm"), (col("sub") * subDim + 1).cast("int"),
          lit(subDim)).as("vs"))

  /** PQ search, the production FAISS shape: an ADC (asymmetric
    * distance computation) scan over the CODES builds a per-query
    * shortlist, then ONLY the shortlist is reranked with exact
    * distances on the full vectors. ADC: dist(q, c) ≈ Σ_sub d²(q_sub,
    * codebook[sub, code_c[sub]]) — the per-query lookup table is a
    * (nq·m·k)-row BROADCAST joined onto the code rows, one (q_id,
    * c_id) exact-integer sum, so the corpus-wide pass touches m small
    * ints per vector, never the 64 floats; the rerank joins the
    * nq·`shortlist` survivors (a broadcast) back to their full micros
    * vectors — exact BIGINT distances end to end. Measured on the
    * near-isotropic synthetic corpus (PQ's worst case): ADC alone
    * keeps 11/50 of the exact-L2 top-5, shortlist-50 + rerank keeps
    * 44/50 (PqSpec pins the floor). At scale the ADC scan composes
    * with an IVF probe's cells ([[Ann.ivfSearch]]) — same inner loop,
    * pruned candidate set. */
  private[graft] def pqSearch(e: DataFrame, m: Int = 8, subDim: Int = 8,
                              k: Int = 16, iters: Int = 2,
                              shortlist: Int = 50): DataFrame = {
    val (assign, codebook) = pqModel(e, m, subDim, k, iters)
    val qsub = pqSubspaces(e.filter(col("vec_id") < 10), m, subDim)
      .select(col("vec_id").as("q_id"), col("sub"), col("vs").as("qs"))
    val lut = qsub.join(broadcast(codebook), "sub")
      .select(col("q_id"), col("sub"), col("cid"),
        (dot(col("qs"), col("qs")) -
          (lit(2.0) * dot(col("qs"), col("cv"))) +
          dot(col("cv"), col("cv"))).as("ld2"))
    val cand = assign.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("sub"), col("cid"))
    val wS = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("c_id"))
    val sl = cand.join(broadcast(lut), Seq("sub", "cid"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("ld2")).cast("long").as("adc"))
      .withColumn("srn", row_number().over(wS))
      .filter(col("srn") <= shortlist)
      .select(col("q_id"), col("c_id"))
    val vm = e.select(col("vec_id"),
      transform(dbl(col("embedding")), x => round(x * 1000000L, 0)).as("vm"))
    val qv = vm.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("vm").as("qm"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("c_id"))
    vm.withColumnRenamed("vec_id", "c_id").withColumnRenamed("vm", "cm")
      .join(broadcast(sl), "c_id")
      .join(broadcast(qv), "q_id")
      .withColumn("d2",
        (dot(col("qm"), col("qm")) -
          (lit(2.0) * dot(col("qm"), col("cm"))) +
          dot(col("cm"), col("cm"))).cast("long"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("c_id"), col("d2"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  // ---- PCA leading component (r17) ---------------------------------
  /** Leading principal component by deterministic QUANTIZED POWER
    * ITERATION — the first step of PCA whitening/compression and the
    * EOF-analysis primitive. The Gram matrix C = XᵀX is computed
    * DISTRIBUTED as exact integer sums over kilo-quantized components
    * (round(x·1000): |x| ≤ ~1 ⇒ products ≤ ~10⁶, corpus sums ≪ 2⁶³);
    * C is d×d — bounded by the DIMENSION, never the corpus — so
    * collecting it to the driver is the standard shape (Spark MLlib's
    * PCA collects the same Gram matrix), joining the Ann-trainer
    * collect() allowlist. The O(d²·iters) eigen-iteration then runs in
    * exact driver integer math: C and every iterate re-quantize to the
    * 1e6 grid via floor(v/max·1e6 + 0.5) — the PQ codebook move — so
    * all products stay exact longs and the oracle replays the
    * IDENTICAL integer/IEEE steps in SQL. Fixed iteration count;
    * all-ones start (never orthogonal to the lead on real data);
    * max = 0 (all-zero input) keeps the iterate unscaled, zero-safely.
    * Memoized per (session, input plan, iters) in [[graft.Memo]]: the
    * loadings and scores keys share one Gram job. */
  private[graft] def pcaLoadings(e: DataFrame,
                                 iters: Int = 3): IndexedSeq[Long] =
    graft.Memo.over(e, s"pca iters=$iters") {
      val u = e.select(col("vec_id"),
        posexplode(transform(dbl(col("embedding")),
          x => round(x * 1000L, 0).cast("long"))).as(Seq("i", "xi")))
      val ua = u.select(col("vec_id"), col("i").as("ai"), col("xi").as("ax"))
      val ub = u.select(col("vec_id"), col("i").as("bi"), col("xi").as("bx"))
      val cRows = ua.join(ub, "vec_id")
        .groupBy(col("ai"), col("bi"))
        .agg(sum(col("ax") * col("bx")).as("cij"))
        .collect()
      powerIterate(cRows.map(r =>
        (r.getInt(0), r.getInt(1), r.getLong(2))), iters)
    }

  /** The shared driver-side quantized power iteration over a sparse
    * integer Gram matrix (extracted r17 so the climate EOF op runs the
    * IDENTICAL integer/IEEE steps [[pcaLoadings]] grades): global-max
    * re-quantization of C to the 1e6 grid, then `iters` rounds of
    * (C·x, max, floor(v/max·1e6 + 0.5)). Indices ≥ 0; absent entries
    * are zero; m = 0 keeps the vector unscaled (the zero guard the
    * oracle CTEs mirror). Empty entries → empty result. */
  private[graft] def powerIterate(entries: Seq[(Int, Int, Long)],
                                  iters: Int = 3): IndexedSeq[Long] =
    if (entries.isEmpty) IndexedSeq.empty
    else {
      val d = entries.map(e => math.max(e._1, e._2)).max + 1
      val c = Array.ofDim[Long](d, d)
      entries.foreach { case (i, j, v) => c(i)(j) = v }
      def requant(v: IndexedSeq[Long]): IndexedSeq[Long] = {
        val m = v.map(math.abs).max
        if (m == 0L) v
        else v.map(x =>
          math.floor(x.toDouble / m.toDouble * 1000000.0 + 0.5).toLong)
      }
      // C re-quantizes by the GLOBAL max (not per row — the matrix
      // is one object), same floor(v/max·1e6 + 0.5) grid
      val cmax = c.flatten.map(math.abs).max
      val cqg =
        if (cmax == 0L) c.map(_.toIndexedSeq).toIndexedSeq
        else c.map(_.map(x => math.floor(
          x.toDouble / cmax.toDouble * 1000000.0 + 0.5).toLong)
          .toIndexedSeq).toIndexedSeq
      var x = IndexedSeq.fill(d)(1000000L)
      (1 to iters).foreach { _ =>
        x = requant((0 until d).map(i =>
          (0 until d).map(j => cqg(i)(j) * x(j)).sum))
      }
      x
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SQ8 quantization graded end-to-end: per-vector scale, the full
    // quantized vector (comma-joined — the fingerprint keys' list
    // output convention), the exact reconstruction-error max and the
    // saturation count all hash-match DuckDB.
    // NOT NULL assumption on embeddings.embedding (FixtureSchemaSpec
    // asserts it): concat_ws maps a NULL array to "" where DuckDB's
    // array_to_string yields NULL — grading relies on no NULLs.
    "q_vec_quantize" -> { (s, dir) =>
      quantizeInt8(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("scale"),
          concat_ws(",", transform(col("q"), _.cast("string"))).as("q_str"),
          col("max_err"), col("n_sat"))
        .orderBy(col("vec_id"))
    },

    // Cosine top-5 in QUANTIZED space — [[broadcastTop5]] (q_vec_knn's
    // shape) run over the SQ8 vectors: integer-valued doubles, so
    // every dot is exact integer arithmetic (|q| ≤ 127, 64 dims →
    // |⟨q,c⟩| ≤ 64·127² ≪ 2⁵³) and the quantized ranking hash-matches
    // DuckDB. Top-5 agreement with the exact ranking is 49/50 at both
    // test tiers (QuantizeSpec) — the compression-vs-recall trade SQ8
    // buys.
    "q_vec_ann_sq8" -> { (s, dir) =>
      broadcastTop5(quantizeInt8(Tables.embeddings(s, dir))
        .select(col("vec_id"), transform(col("q"), _.cast("double")).as("v")))
    },

    // Product-quantization codes graded end-to-end (r17): the full
    // 2-iteration per-subspace Lloyd fit (8 subspaces × 16 centroids),
    // integer-requantized codebooks, exact BIGINT per-subspace
    // distortions — the oracle re-runs the whole training in SQL (the
    // ivf_det precedent with a `sub` key threaded through every CTE).
    "q_vec_pq" -> { (s, dir) =>
      pqModel(Tables.embeddings(s, dir))._1
        .select(col("vec_id"), col("sub"), col("cid"),
          col("d2").cast("long").as("d2"))
        .orderBy(col("vec_id"), col("sub"))
    },

    // PQ search graded end-to-end: the ADC code scan (per-query LUT
    // against the integer codebook, order-free exact integer subspace
    // sum) shortlists 50, the exact rerank on full micros vectors
    // returns top-5 — every number an exact BIGINT, tie-breaks on
    // c_id. PqSpec pins recall vs the exact-L2 ranking (44/50 vs ADC
    // alone's 11/50 on this worst-case isotropic corpus).
    "q_vec_ann_pq" -> { (s, dir) =>
      pqSearch(Tables.embeddings(s, dir))
    },

    // PCA leading component graded end-to-end (r17): the distributed
    // exact-integer Gram job + 3 quantized power iterations; the
    // oracle replays the identical integer/IEEE steps in SQL (Gram →
    // global-max requant → per-iteration requant). dim is 0-based.
    "q_vec_pca" -> { (s, dir) =>
      val x = pcaLoadings(Tables.embeddings(s, dir))
      import s.implicits._
      x.zipWithIndex.map { case (l, i) => (i.toLong, l) }
        .toDF("dim", "loading").orderBy(col("dim"))
    },

    // The projection scores: score(v) = ⟨kilos(v), x₃⟩ — the loadings
    // inlined as a literal array, one exact-integer dot per vector,
    // pure projection (the at-scale read path of a fitted PCA).
    "q_vec_pca_scores" -> { (s, dir) =>
      val x = pcaLoadings(Tables.embeddings(s, dir))
      if (x.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("vec_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("score",
              org.apache.spark.sql.types.LongType))))
      else {
        val lx = array(x.map(v => lit(v.toDouble)): _*)
        Tables.embeddings(s, dir).select(col("vec_id"),
          dot(transform(dbl(col("embedding")),
            e => round(e * 1000L, 0)), lx).cast("long").as("score"))
          .orderBy(col("vec_id"))
      }
    },

    // GRADED ANN-LSH twin (r6): bucket assignment + in-bucket exact
    // cosine, md5-seeded literal hyperplanes — the whole candidate
    // pipeline (bucketing INCLUDED, via the output bucket column)
    // hash-matches DuckDB. q_vec_ann_lsh stays the xxhash64
    // production key (rows-only).
    "q_vec_ann_lsh_md5" -> { (s, dir) =>
      annLshMd5(Tables.embeddings(s, dir)).orderBy(col("a"), col("b"))
    },

    // GRADED IVF ANN twin (r6): the full IVF search pipeline —
    // quantizer, cell centroids, nprobe probe ranking, in-cell exact
    // cosine top-k — over the DETERMINISTIC k-means fit q_vec_kmeans
    // already grades (shared memoized fit). Cells = the k=8 Lloyd
    // clusters; cell centroids = exact-integer per-dim means of the
    // FINAL assignment (BIGINT sums, one division — order-free);
    // probe = 2 nearest cell centroids per query by the proven d²
    // fold; candidates = corpus members (vec_id ≥ 10) of probed
    // cells; rank by 4-dp cosine + id. Every stage is a proven
    // cross-engine recipe, so the whole ANN search hash-matches
    // DuckDB. q_vec_ann_ivf stays the production sampled-training
    // path (rows-only; recall spec'd in AnnSpec).
    "q_vec_ann_ivf_det" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val assign = kmeansAssignments(e, k = 8, iters = 2)
        .select(col("vec_id"), col("cid"))
      val vm = e.select(col("vec_id"),
        transform(dbl(col("embedding")), x => round(x * 1000000L, 0)).as("vm"),
        dbl(col("embedding")).as("v"))
      val members = assign.join(vm, "vec_id")
      val cellc = members
        .select(col("cid"), posexplode(col("vm")).as(Seq("dim", "mv")))
        .groupBy(col("cid"), col("dim"))
        .agg(sum(col("mv").cast("long")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("dim"),
          (col("s").cast("double") / col("n")).as("m")))),
          x => x.getField("m")).as("cv"))
      val q = vm.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("vm").as("qm"), col("v").as("qv"))
      val probeD2 = dot(col("qm"), col("qm")) -
        (lit(2.0) * dot(col("qm"), col("cv"))) + dot(col("cv"), col("cv"))
      val wq = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("cid"))
      val probed = q.crossJoin(broadcast(cellc))
        .withColumn("d2", probeD2)
        .withColumn("cr", row_number().over(wq))
        .filter(col("cr") <= 2)
        .select(col("q_id"), col("qv"), col("cid"))
      val cands = members.filter(col("vec_id") >= 10)
        .select(col("cid"), col("vec_id").as("c_id"), col("v").as("cv2"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos4").desc, col("c_id"))
      // broadcast the probe side (queries × ≤2 cells — bounded by the
      // query batch), mirroring Ann.ivfCandidates: unhinted this
      // planned a SortMergeJoin that shuffled the corpus side by cell
      cands.join(broadcast(probed), "cid")
        .withColumn("cos4", round(
          graft.expressions.VectorExpressions.cosine_sim(col("qv"), col("cv2")), 4))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("c_id"), col("cid").as("cell"),
          col("cos4"), col("rn"))
        .orderBy(col("q_id"), col("rn"))
    },

    "q_vec_norm" -> { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          round(sqrt(norm2(dbl(col("embedding")))), 4).as("l2_4"))
        .orderBy(col("vec_id"))
    },

    // Brute-force cosine top-5 ([[broadcastTop5]]): 10 query vectors
    // (broadcast) × all candidates. Uses the custom codegen
    // CosineSimilarity expression — proven bit-identical to the HOF
    // fold (VectorExpressionsSpec), so the oracle match is unchanged.
    "q_vec_knn" -> { (s, dir) =>
      broadcastTop5(Tables.embeddings(s, dir)
        .select(col("vec_id"), dbl(col("embedding")).as("v")))
    },

    // Exact embedding-cosine near-dup — the oracle-verifiable baseline
    // the ANN paths (q_vec_ann_lsh / q_vec_ann_ivf) approximate.
    // Label-blocked pair join: ~10× less pair work than all-pairs at
    // harness scale; at 100 TB the block key comes from LSH buckets /
    // IVF cells instead (same plan shape, ops.Dedup.annCandidates).
    // Threshold compares the 4-dp-rounded cosine on both engines.
    "q_dedup_embed" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select(col("label"), col("vec_id"), dbl(col("embedding")).as("v"))
      val a = e.select(col("label"), col("vec_id").as("a"), col("v").as("va"))
      val b = e.select(col("label"), col("vec_id").as("b"), col("v").as("vb"))
      a.join(b, "label").filter(col("a") < col("b"))
        .withColumn("cos4", round(
          graft.expressions.VectorExpressions.cosine_sim(col("va"), col("vb")), 4))
        .filter(col("cos4") >= 0.3)
        .select(col("a"), col("b"), col("label"), col("cos4"))
        .orderBy(col("a"), col("b"))
    },

    // Per-(label, dimension) centroid: components quantized to exact
    // integer 1e-6 units so the grouped sums are order-independent;
    // the final mean is one double division (unrounded, bit-stable).
    "q_vec_centroid" -> { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .withColumn("m", round(col("v").cast("double") * 1000000L, 0).cast("long"))
        .groupBy(col("label"), col("dim").cast("long").as("dim"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("m")).cast("long").as("sum_m"))
        .select(col("label"), col("dim"), col("n"),
          (col("sum_m").cast("double") / 1000000.0 / col("n")).as("mean_c"))
        .orderBy(col("label"), col("dim"))
    },

    // Deterministic k-means assignment (r5) — see kmeansAssignments
    // for the FP-hazard engineering that makes an ITERATIVE ML fit
    // hash-matchable cross-engine.
    "q_vec_kmeans" -> { (s, dir) =>
      kmeansAssignments(Tables.embeddings(s, dir), k = 8, iters = 2)
        .orderBy(col("vec_id"))
    },

    // Cluster-balanced ("semantic-diversity") sampling (r5): the
    // curation move behind diverse pretraining subsets — k-means the
    // embedding space, then take exactly n per cluster by content-hash
    // rank. Pure composition of two independently hash-matched
    // operators (q_vec_kmeans × q_sample_stratified's
    // Profiling.stratifiedSample), so the composed key inherits both
    // determinism arguments; at 100 TB both parts keep their scale
    // shapes (broadcast centroids / bounded-survivor windows).
    "q_sample_semantic" -> { (s, dir) =>
      val assign = kmeansAssignments(Tables.embeddings(s, dir), k = 8, iters = 2)
        .select(col("vec_id"), col("cid"))
      Profiling.stratifiedSample(assign, "cid", "vec_id", n = 10)
        .select(col("cid"), col("vec_id"), col("rn"))
        .orderBy(col("cid"), col("rn"))
    },

    // Text ⋈ vectors: one relation carrying linguistic and geometric
    // features — the multimodal building block (doc_id = vec_id).
    "q_multimodal_join" -> { (s, dir) =>
      Tables.documents(s, dir)
        .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          col("label"),
          round(sqrt(norm2(dbl(col("embedding")))), 4).as("l2_4"))
        .orderBy(col("doc_id"))
    }
  )

  private val qvCast = "CAST(embedding AS DOUBLE[])"

  /** Shared PCA power-iteration CTE chain — the single DuckDB copy of
    * the quantized-power-iteration math that must stay step-identical
    * with [[pcaLoadings]]: kilo-quantized components, exact-integer
    * Gram, global-max re-quantization of C, then three (C·x, max,
    * requant) rounds. `m = 0` keeps the vector unscaled (the driver's
    * zero guard); empty input flows through as zero rows. Emits
    * `u(vec_id, i, xi)` (i 1-based) and the final iterate `x3(i, xv)`. */
  private val pcaCte: String = {
    def step(k: Int): String =
      s"""y$k AS (
         |  SELECT ai AS i, CAST(SUM(cq * xv) AS BIGINT) AS yv
         |  FROM cq JOIN x${k - 1} ON bi = x${k - 1}.i GROUP BY ai),
         |m$k AS (SELECT CAST(MAX(ABS(yv)) AS DOUBLE) AS m FROM y$k),
         |x$k AS (
         |  SELECT i, CASE WHEN m = 0 THEN yv
         |    ELSE CAST(FLOOR(CAST(yv AS DOUBLE) / m * 1000000 + 0.5)
         |      AS BIGINT) END AS xv
         |  FROM y$k, m$k)""".stripMargin
    s"""v AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |                   e -> ROUND(e * 1000)) AS vk
       |  FROM embeddings),
       |u AS (
       |  SELECT vec_id, generate_subscripts(vk, 1) AS i,
       |    CAST(unnest(vk) AS BIGINT) AS xi
       |  FROM v),
       |c AS (
       |  SELECT a.i AS ai, b.i AS bi, CAST(SUM(a.xi * b.xi) AS BIGINT) AS cij
       |  FROM u a JOIN u b USING (vec_id) GROUP BY 1, 2),
       |mc AS (SELECT CAST(MAX(ABS(cij)) AS DOUBLE) AS m FROM c),
       |cq AS (
       |  SELECT ai, bi, CASE WHEN m = 0 THEN cij
       |    ELSE CAST(FLOOR(CAST(cij AS DOUBLE) / m * 1000000 + 0.5)
       |      AS BIGINT) END AS cq
       |  FROM c, mc),
       |x0 AS (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS xv FROM u),
       |${step(1)},
       |${step(2)},
       |${step(3)}""".stripMargin
  }

  /** Shared PQ training CTE chain — the single DuckDB copy of the
    * per-subspace 2-iteration Lloyd fit that must stay step-identical
    * with [[pqModel]] (the ivf_det SQL with a `sub` key threaded
    * through every CTE, plus the floor(s/n + 0.5) codebook
    * re-quantization). Emits `sv(vec_id, sub, vs)`, the final codebook
    * `c1(sub, cid, cv)` and the final assignment `a2` (argmin rows
    * pre-ranked; consumers filter rn = 1). */
  private val pqCte: String =
    """v AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |                   x -> ROUND(x * 1000000)) AS vm
      |  FROM embeddings),
      |sv AS (
      |  SELECT vec_id, s.i AS sub,
      |    list_slice(vm, CAST(s.i*8+1 AS INT), CAST(s.i*8+8 AS INT)) AS vs
      |  FROM v CROSS JOIN range(0, 8) s(i)),
      |seed AS (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16),
      |c0 AS (
      |  SELECT sub, vec_id AS cid, vs AS cv
      |  FROM sv JOIN seed USING (vec_id)),
      |a1 AS (
      |  SELECT vec_id, sub, vs, cid,
      |    list_inner_product(vs, vs) - (2.0 * list_inner_product(vs, cv))
      |      + list_inner_product(cv, cv) AS d2
      |  FROM sv JOIN c0 USING (sub)),
      |b1 AS (
      |  SELECT vec_id, sub, vs, cid FROM (
      |    SELECT vec_id, sub, vs, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub
      |        ORDER BY d2, cid) AS rn
      |    FROM a1) t WHERE rn = 1),
      |c1 AS (
      |  SELECT sub, cid,
      |    list(CAST(FLOOR(CAST(s AS DOUBLE) / n + 0.5) AS DOUBLE)
      |      ORDER BY dim) AS cv
      |  FROM (
      |    SELECT sub, cid, pos AS dim,
      |      SUM(CAST(mv AS BIGINT)) AS s, COUNT(*) AS n
      |    FROM (SELECT sub, cid, unnest(vs) AS mv,
      |            generate_subscripts(vs, 1) AS pos
      |          FROM b1) u
      |    GROUP BY sub, cid, pos) g
      |  GROUP BY sub, cid),
      |a2 AS (
      |  SELECT vec_id, sub, vs, cid,
      |    list_inner_product(vs, vs) - (2.0 * list_inner_product(vs, cv))
      |      + list_inner_product(cv, cv) AS d2,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub
      |      ORDER BY list_inner_product(vs, vs)
      |        - (2.0 * list_inner_product(vs, cv))
      |        + list_inner_product(cv, cv), cid) AS rn
      |  FROM sv JOIN c1 USING (sub))""".stripMargin

  /** Shared SQ8 quantization CTE chain — the single DuckDB copy of the
    * vmax/scale/floor math that must stay bit-identical with
    * [[quantizeInt8]] (r9 advice: q_vec_quantize and q_vec_ann_sq8
    * each carried their own copy, three versions to keep in lockstep).
    * Emits `qz(vec_id, v, scale, qv)` with qv the BIGINT quantized
    * vector; consumers project/cast from there. */
  private val sq8Cte: String =
    s"""e AS (
       |  SELECT vec_id, $qvCast AS v FROM embeddings),
       |s AS (
       |  SELECT vec_id, v,
       |    list_max(list_transform(v, x -> abs(x))) AS vmax,
       |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
       |  FROM e),
       |qz AS (
       |  SELECT vec_id, v, scale,
       |    list_transform(v, x -> CASE WHEN vmax = 0 THEN CAST(0 AS BIGINT)
       |      ELSE CAST(FLOOR(x / scale + 0.5) AS BIGINT) END) AS qv
       |  FROM s)""".stripMargin

  /** The md5-seeded sign vectors as DuckDB list literals, and the
    * 8-term bucket expression — generated from the SAME
    * [[md5Planes]] the Spark plan inlines. */
  private def planeSqlList(p: Int): String =
    md5Planes(p).map(d => if (d > 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]")
  private lazy val bucketSql: String = (0 until 8).map(p =>
    s"(CASE WHEN list_inner_product(v, ${planeSqlList(p)}) > 0 THEN ${1L << p} ELSE 0 END)")
    .mkString("\n      + ")

  val oracle: Map[String, String] = Map(
    // the PCA power-iteration chain: Gram → global-max requant →
    // three (multiply, max, requant) rounds — every step exact
    // integers or the one identical floor(v/m·1e6 + 0.5) IEEE sequence
    "q_vec_pca" ->
      s"""WITH $pcaCte
         |SELECT i - 1 AS dim, xv AS loading FROM x3 ORDER BY dim""".stripMargin,

    "q_vec_pca_scores" ->
      s"""WITH $pcaCte
         |SELECT u.vec_id, CAST(SUM(u.xi * x3.xv) AS BIGINT) AS score
         |FROM u JOIN x3 ON u.i = x3.i
         |GROUP BY u.vec_id ORDER BY vec_id""".stripMargin,

    // the shared PQ training chain; final assignment rows, exact ints
    "q_vec_pq" ->
      s"""WITH $pqCte
         |SELECT vec_id, sub, cid, CAST(d2 AS BIGINT) AS d2
         |FROM a2 WHERE rn = 1
         |ORDER BY vec_id, sub""".stripMargin,

    // the same chain + ADC shortlist + exact rerank: per-query LUT
    // against the final codebook, order-free exact integer subspace
    // sum → shortlist 50 → exact full-vector rerank → top-5
    "q_vec_ann_pq" ->
      s"""WITH $pqCte,
         |qv AS (
         |  SELECT vec_id AS q_id, sub, vs AS qs FROM sv WHERE vec_id < 10),
         |lut AS (
         |  SELECT q_id, sub, cid,
         |    list_inner_product(qs, qs) - (2.0 * list_inner_product(qs, cv))
         |      + list_inner_product(cv, cv) AS ld2
         |  FROM qv JOIN c1 USING (sub)),
         |cand AS (
         |  SELECT vec_id AS c_id, sub, cid FROM a2
         |  WHERE rn = 1 AND vec_id >= 10),
         |adc AS (
         |  SELECT q_id, c_id, CAST(SUM(ld2) AS BIGINT) AS adc
         |  FROM cand JOIN lut USING (sub, cid)
         |  GROUP BY q_id, c_id),
         |sl AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id
         |        ORDER BY adc, c_id) AS srn
         |    FROM adc) t WHERE srn <= 50),
         |rr AS (
         |  SELECT sl.q_id, sl.c_id,
         |    CAST(list_inner_product(q.vm, q.vm)
         |      - (2.0 * list_inner_product(q.vm, c.vm))
         |      + list_inner_product(c.vm, c.vm) AS BIGINT) AS d2
         |  FROM sl JOIN v q ON sl.q_id = q.vec_id
         |          JOIN v c ON sl.c_id = c.vec_id)
         |SELECT q_id, c_id, d2, rn FROM (
         |  SELECT q_id, c_id, d2,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY d2, c_id) AS BIGINT) AS rn
         |  FROM rr) t
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

    // the q_vec_kmeans CTE chain (v → c0 → a1 → b1 → c1 → a2 → b2)
    // extended with the IVF stages: final-assignment cell centroids
    // (cc), 2-nearest-cell probe per query, in-cell exact cosine top-5
    "q_vec_ann_ivf_det" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |                   x -> ROUND(x * 1000000)) AS vm,
        |    CAST(embedding AS DOUBLE[]) AS vv
        |  FROM embeddings),
        |c0 AS (
        |  SELECT vec_id AS cid, vm AS cv FROM v ORDER BY vec_id LIMIT 8),
        |a1 AS (
        |  SELECT vec_id, vm, cid,
        |    list_inner_product(vm, vm) - (2.0 * list_inner_product(vm, cv))
        |      + list_inner_product(cv, cv) AS d2
        |  FROM v CROSS JOIN c0),
        |b1 AS (
        |  SELECT vec_id, vm, cid FROM (
        |    SELECT vec_id, vm, cid,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM a1) t WHERE rn = 1),
        |c1 AS (
        |  SELECT cid, list(CAST(s AS DOUBLE) / n ORDER BY dim) AS cv
        |  FROM (
        |    SELECT cid, pos AS dim,
        |      SUM(CAST(mv AS BIGINT)) AS s, COUNT(*) AS n
        |    FROM (SELECT cid, unnest(vm) AS mv,
        |            generate_subscripts(vm, 1) AS pos
        |          FROM b1) u
        |    GROUP BY cid, pos) g
        |  GROUP BY cid),
        |a2 AS (
        |  SELECT vec_id, cid,
        |    list_inner_product(vm, vm) - (2.0 * list_inner_product(vm, cv))
        |      + list_inner_product(cv, cv) AS d2
        |  FROM v CROSS JOIN c1),
        |b2 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM a2) t WHERE rn = 1),
        |cc AS (
        |  SELECT cid, list(CAST(s AS DOUBLE) / n ORDER BY dim) AS cv
        |  FROM (
        |    SELECT b2.cid, pos AS dim,
        |      SUM(CAST(mv AS BIGINT)) AS s, COUNT(*) AS n
        |    FROM (SELECT vec_id, unnest(vm) AS mv,
        |            generate_subscripts(vm, 1) AS pos
        |          FROM v) u
        |    JOIN b2 USING (vec_id)
        |    GROUP BY b2.cid, pos) g
        |  GROUP BY cid),
        |q AS (
        |  SELECT vec_id AS q_id, vm AS qm, vv AS qv FROM v WHERE vec_id < 10),
        |probed AS (
        |  SELECT q_id, qv, cid FROM (
        |    SELECT q_id, qv, cid,
        |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
        |        list_inner_product(qm, qm) - (2.0 * list_inner_product(qm, cv))
        |          + list_inner_product(cv, cv), cid) AS cr
        |    FROM q CROSS JOIN cc) t WHERE cr <= 2),
        |cand AS (
        |  SELECT b2.cid, v.vec_id AS c_id, v.vv AS cv2
        |  FROM v JOIN b2 USING (vec_id) WHERE v.vec_id >= 10)
        |SELECT q_id, c_id, cell, cos4, rn FROM (
        |  SELECT q_id, c_id, probed.cid AS cell,
        |    ROUND(list_inner_product(qv, cv2)
        |      / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv2, cv2))), 4) AS cos4,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
        |      ROUND(list_inner_product(qv, cv2)
        |        / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv2, cv2))), 4) DESC,
        |      c_id) AS BIGINT) AS rn
        |  FROM probed JOIN cand ON probed.cid = cand.cid) t
        |WHERE rn <= 5
        |ORDER BY q_id, rn""".stripMargin,

    "q_vec_ann_lsh_md5" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (
         |  SELECT vec_id, v, CAST($bucketSql AS BIGINT) AS bucket FROM e),
         |keep AS (SELECT bucket FROM b GROUP BY bucket HAVING COUNT(*) <= 4096),
         |kb AS (SELECT b.* FROM b JOIN keep USING (bucket)),
         |p AS (
         |  SELECT l.vec_id AS a, r.vec_id AS b, l.bucket AS bucket,
         |    ROUND(list_inner_product(l.v, r.v)
         |      / (sqrt(list_inner_product(l.v, l.v)) * sqrt(list_inner_product(r.v, r.v))), 4) AS cos4
         |  FROM kb l JOIN kb r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
         |SELECT a, b, bucket, cos4 FROM p WHERE cos4 >= 0.2 ORDER BY a, b""".stripMargin,
    "q_vec_norm" ->
      s"""SELECT vec_id, label,
         |  ROUND(sqrt(list_inner_product($qvCast, $qvCast)), 4) AS l2_4
         |FROM embeddings
         |ORDER BY vec_id""".stripMargin,

    "q_vec_knn" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 10
        |), c AS (
        |  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id >= 10
        |), s AS (
        |  SELECT q_id, c_id,
        |    ROUND(list_inner_product(qv, cv)
        |      / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))), 4) AS cos4
        |  FROM c CROSS JOIN q
        |)
        |SELECT q_id, c_id, cos4, rn FROM (
        |  SELECT q_id, c_id, cos4,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos4 DESC, c_id) AS BIGINT) AS rn
        |  FROM s) t
        |WHERE rn <= 5
        |ORDER BY q_id, rn""".stripMargin,

    "q_dedup_embed" ->
      """WITH e AS (
        |  SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |)
        |SELECT a.vec_id AS a, b.vec_id AS b, a.label AS label,
        |  ROUND(list_inner_product(a.v, b.v)
        |    / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 4) AS cos4
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE ROUND(list_inner_product(a.v, b.v)
        |    / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 4) >= 0.3
        |ORDER BY a, b""".stripMargin,

    "q_vec_centroid" ->
      """SELECT label, CAST(pos - 1 AS BIGINT) AS dim,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
        |    / 1000000.0 / COUNT(*) AS mean_c
        |FROM (
        |  SELECT label, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings) t
        |GROUP BY label, pos
        |ORDER BY label, dim""".stripMargin,

    "q_vec_kmeans" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |                   x -> ROUND(x * 1000000)) AS vm
        |  FROM embeddings),
        |c0 AS (
        |  SELECT vec_id AS cid, vm AS cv FROM v ORDER BY vec_id LIMIT 8),
        |a1 AS (
        |  SELECT vec_id, vm, cid,
        |    list_inner_product(vm, vm) - (2.0 * list_inner_product(vm, cv))
        |      + list_inner_product(cv, cv) AS d2
        |  FROM v CROSS JOIN c0),
        |b1 AS (
        |  SELECT vec_id, vm, cid FROM (
        |    SELECT vec_id, vm, cid,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM a1) t WHERE rn = 1),
        |c1 AS (
        |  SELECT cid, list(CAST(s AS DOUBLE) / n ORDER BY dim) AS cv
        |  FROM (
        |    SELECT cid, pos AS dim,
        |      SUM(CAST(mv AS BIGINT)) AS s, COUNT(*) AS n
        |    FROM (SELECT cid, unnest(vm) AS mv,
        |            generate_subscripts(vm, 1) AS pos
        |          FROM b1) u
        |    GROUP BY cid, pos) g
        |  GROUP BY cid),
        |a2 AS (
        |  SELECT vec_id, cid,
        |    list_inner_product(vm, vm) - (2.0 * list_inner_product(vm, cv))
        |      + list_inner_product(cv, cv) AS d2
        |  FROM v CROSS JOIN c1)
        |SELECT vec_id, cid, ROUND(sqrt(d2) / 1000000.0, 4) AS dist4 FROM (
        |  SELECT vec_id, cid, d2,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |  FROM a2) t
        |WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,

    "q_sample_semantic" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |                   x -> ROUND(x * 1000000)) AS vm
        |  FROM embeddings),
        |c0 AS (
        |  SELECT vec_id AS cid, vm AS cv FROM v ORDER BY vec_id LIMIT 8),
        |a1 AS (
        |  SELECT vec_id, vm, cid,
        |    list_inner_product(vm, vm) - (2.0 * list_inner_product(vm, cv))
        |      + list_inner_product(cv, cv) AS d2
        |  FROM v CROSS JOIN c0),
        |b1 AS (
        |  SELECT vec_id, vm, cid FROM (
        |    SELECT vec_id, vm, cid,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM a1) t WHERE rn = 1),
        |c1 AS (
        |  SELECT cid, list(CAST(s AS DOUBLE) / n ORDER BY dim) AS cv
        |  FROM (
        |    SELECT cid, pos AS dim,
        |      SUM(CAST(mv AS BIGINT)) AS s, COUNT(*) AS n
        |    FROM (SELECT cid, unnest(vm) AS mv,
        |            generate_subscripts(vm, 1) AS pos
        |          FROM b1) u
        |    GROUP BY cid, pos) g
        |  GROUP BY cid),
        |a2 AS (
        |  SELECT vec_id, cid,
        |    list_inner_product(vm, vm) - (2.0 * list_inner_product(vm, cv))
        |      + list_inner_product(cv, cv) AS d2
        |  FROM v CROSS JOIN c1),
        |assign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM a2) t
        |  WHERE rn = 1)
        |SELECT cid, vec_id, rn FROM (
        |  SELECT cid, vec_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY cid
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rn
        |  FROM assign) s
        |WHERE rn <= 10
        |ORDER BY cid, rn""".stripMargin,

    // SQ8 quantization: scale = max|v|/127, q = FLOOR(v/scale + 0.5)
    // (round-half-up via floor — exact in both engines, unlike ROUND's
    // tie rule), error/saturation stats over the same IEEE sequences.
    "q_vec_quantize" ->
      s"""WITH $sq8Cte
         |SELECT vec_id, scale,
         |  array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)), ',') AS q_str,
         |  list_max(list_transform(generate_series(1, len(qv)),
         |    i -> abs(CAST(qv[i] AS DOUBLE) * scale - v[i]))) AS max_err,
         |  CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat
         |FROM qz ORDER BY vec_id""".stripMargin,

    "q_vec_ann_sq8" ->
      s"""WITH $sq8Cte,
         |qd AS (
         |  SELECT vec_id,
         |    list_transform(qv, x -> CAST(x AS DOUBLE)) AS qd
         |  FROM qz),
         |q AS (SELECT vec_id AS q_id, qd AS qv FROM qd WHERE vec_id < 10),
         |c AS (SELECT vec_id AS c_id, qd AS cv FROM qd WHERE vec_id >= 10),
         |sc AS (
         |  SELECT q_id, c_id,
         |    ROUND(list_inner_product(qv, cv)
         |      / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))), 4) AS cos4
         |  FROM c CROSS JOIN q)
         |SELECT q_id, c_id, cos4, rn FROM (
         |  SELECT q_id, c_id, cos4,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos4 DESC, c_id) AS BIGINT) AS rn
         |  FROM sc) t
         |WHERE rn <= 5
         |ORDER BY q_id, rn""".stripMargin,

    "q_multimodal_join" ->
      s"""SELECT doc_id, lang,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |  label,
         |  ROUND(sqrt(list_inner_product($qvCast, $qvCast)), 4) AS l2_4
         |FROM documents JOIN embeddings ON doc_id = vec_id
         |ORDER BY doc_id""".stripMargin
  )
}
