package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** Scale-path deduplication & ANN operators (LLM-data pipeline tier).
  *
  * These are the operators a 100 TB training-data pipeline actually
  * runs; the declared exact variants (q_dedup_exact / q_dedup_near)
  * verify semantics against DuckDB, while these hash-based forms are
  * the O(n·sig) shapes that replace the exact shingle self-join at
  * scale. They are deterministic (seeded xxhash64) but use Spark's
  * hash functions, which DuckDB cannot reproduce → declared rows-only
  * (no oracle), per the driver contract for non-SQL-expressible ops.
  *
  * Shapes:
  *  - MinHash: per doc, K = numPerm minimum xxhash64(shingle, seed)
  *    values → signature; LSH: split signature into bands, hash each
  *    band, group by (band_idx, band_hash) → candidate buckets; only
  *    bucket-mates are compared. Shuffle volume is O(n·bands), never
  *    O(n²).
  *  - SimHash: 64-bit signature from per-token hash bit votes; near-dup
  *    candidates = equal signature (or banded 16-bit chunks).
  *  - Embedding ANN: random-hyperplane LSH — sign bits of dot(v, rᵢ)
  *    for seeded pseudo-random hyperplanes → bucket join, cosine only
  *    within buckets.
  */
object Dedup {

  /** Distinct 3-gram word shingles per doc: (doc_id, lang, sh). */
  /** Shared shingle explode: one distinct row per (doc, shingle), with
    * `wrap` applied to the shingle string before the distinct (identity
    * for the string form; xxhash64 for the hash form).
    *
    * The token array is materialized into its own projection FIRST: the
    * transform() lambda below is evaluated interpreted (HOFs don't
    * codegen), so an expression referenced inside it re-evaluates per
    * element — leaving split() inline made it run once per shingle,
    * O(tokens²) per doc (measured 2× overall at sf0.1). A bound column
    * reference is a cheap per-element read. */
  private def shingleCol(docs: DataFrame, n: Int, outName: String,
                         wrap: Column => Column): DataFrame = {
    val toked = docs.select(col("doc_id"), col("lang"),
      split(col("text"), " ").as("toks"))
    val toks = col("toks")
    // docs shorter than n tokens contribute no shingles; without the
    // guard sequence(0, negative) counts DOWN and slice(toks, 0, n)
    // throws at runtime
    val idx = when(size(toks) >= n, sequence(lit(0), size(toks) - n))
      .otherwise(array())
    // per-doc distinct computed ROW-LOCALLY: doc_id is unique, so
    // distinct over (doc_id, lang, shingle) rows equals array_distinct
    // inside the row — which deletes the full-table distinct SHUFFLE
    // (exchange + sort/agg over every shingle) every dedup pipeline
    // paid. array_distinct is hash-set based (O(shingles) per row).
    toked.select(col("doc_id"), col("lang"),
        explode(array_distinct(transform(idx,
          i => wrap(concat_ws(" ", slice(toks, i + 1, lit(n))))))).as(outName))
  }

  private[graft] def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    shingleCol(docs, n, "sh", identity)

  /** Distinct 64-bit shingle hashes per doc: (doc_id, lang, h0). The
    * hash is applied BEFORE the distinct, so the dedup shuffle carries
    * 8-byte keys instead of shingle strings — the variant every
    * downstream consumer (MinHash, near-dup join) actually wants;
    * [[shingles]] keeps the string form for diagnostics/tests. Distinct
    * over hashes equals distinct over strings modulo 64-bit collisions
    * (negligible at any corpus size that fits a cluster).
    *
    * Runs the codegen'd one-pass
    * [[graft.expressions.ShingleHashes]] (token offsets → per-window
    * XXH64 over the text's own bytes → sort-unique; no token array, no
    * window strings, no interpreted lambda); set-equality with the
    * declarative [[shingleHashesHof]] form is property-tested in
    * TextExpressionsSpec. */
  private[graft] def shingleHashes(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      explode(graft.expressions.TextExpressions.shingle_hashes(col("text"), n))
        .as("h0"))

  /** Declarative HOF reference form of [[shingleHashes]]. */
  private[graft] def shingleHashesHof(docs: DataFrame, n: Int = 3): DataFrame =
    shingleCol(docs, n, "h0", xxhash64(_))

  /** MinHash signature: hash each shingle string to 64 bits ONCE, then
    * derive the numPerm permutations by re-hashing the long (integer
    * hashing is ~10× cheaper than string hashing; standard trick) and
    * take the per-permutation min over the doc's shingle set — one
    * aggregation, no joins. */
  def minHashSignatures(docs: DataFrame, numPerm: Int): DataFrame = {
    // r18: the minima come out of ONE kernel projection over the
    // per-doc shingle hash array (graft.expressions.MinHashXxSigs —
    // the identical hash(h0, LongType, hash(p, IntegerType, 42))
    // rehash as min(xxhash64(lit(p), h0)); minima are duplicate- and
    // order-invariant, law-pinned in MinHashAggSpec) instead of
    // exploding to a corpus-shingle row stream and hash-shuffling it
    // back to doc_id through a numPerm-min groupBy. The size filter
    // reproduces the explode's drop of null/short docs. The `sig`
    // alias is multi-referenced (numPerm element_at projections), so
    // CollapseProject cannot re-inline the kernel per column —
    // verified by plan (one minhashxxsigs per doc in the executed
    // plan; DedupScaleSpec pin).
    val arr = docs.select(col("doc_id"),
        graft.expressions.TextExpressions.shingle_hashes(col("text"), 3).as("hs"))
      .filter(col("hs").isNotNull && size(col("hs")) > 0)
    arr.select(col("doc_id"),
        graft.expressions.TextExpressions.minhash_xx_sigs(col("hs"), numPerm).as("sig"))
      .select(col("doc_id") +:
        (0 until numPerm).map(p => element_at(col("sig"), p + 1).as(s"h$p")): _*)
  }

  /** Exact-dedup pre-pass: byte-identical texts share every shingle and
    * hence every MinHash band, so N copies of one boilerplate page would
    * form one N²/2-pair bucket. Collapse each identical-text group to
    * its min-doc_id representative BEFORE hashing; the collapsed pairs
    * are exact duplicates, which the exact path (q_dedup_exact) already
    * reports. The rep-id aggregation shuffles only (md5, doc_id); the
    * semi-join then broadcasts repIds when it fits, else co-partitions
    * the corpus on doc_id — one corpus shuffle, the same price any
    * id-keyed filter pays. */
  private[graft] def exactCollapse(docs: DataFrame): DataFrame = {
    val repIds = docs.groupBy(md5(col("text")).as("tkey"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    docs.join(repIds, Seq("doc_id"), "left_semi")
  }

  /** (doc_id, sig, band, bhash) — one row per doc per band. */
  private[graft] def bandedSignatures(docs: DataFrame, numPerm: Int,
                                    bands: Int): DataFrame = {
    val rows = numPerm / bands
    val sig = minHashSignatures(docs, numPerm)
    val sigArr = array((0 until numPerm).map(p => col(s"h$p")): _*)
    sig.select(col("doc_id"), sigArr.as("sig"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(concat_ws(",", slice(sigArr, b * rows + 1, lit(rows))))
              .as("bhash")))).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band"), col("bk.bhash"))
  }

  /** LSH banding over MinHash signatures → candidate pairs with
    * estimated Jaccard = fraction of matching signature components.
    * bands*rowsPerBand must equal numPerm.
    *
    * Scale guards (the 100 TB path):
    *  - exact-collapse first (see [[exactCollapse]]) so identical docs
    *    never pile into one bucket;
    *  - any remaining (band, bhash) bucket with more than `maxBucket`
    *    members is dropped whole — in crawl data such buckets are
    *    near-identical boilerplate whose members the OTHER bands (or a
    *    dedicated template pass) still cover; pair work stays
    *    O(n · bands · maxBucket) instead of O(max-bucket²). Use
    *    [[hotBuckets]] to audit what was dropped. */
  def minHashCandidates(docs: DataFrame, numPerm: Int = 16, bands: Int = 4,
                        maxBucket: Int = 1000): DataFrame = {
    // cached pre-cap: feeds the bucket-size count AND both self-join
    // sides, so the signature pipeline runs once. (The cache includes
    // the soon-to-be-dropped hot rows — the price of computing sizes
    // and the join from ONE materialization; identical-plan cache()
    // calls reuse one entry via the cache manager, so repeated
    // invocations don't stack copies.)
    val banded0 = graft.Memo.track(
      bandedSignatures(exactCollapse(docs), numPerm, bands))
    // the cap guard must not itself be a funnel (the r3 stop-shingle
    // lesson, applied here too): a count() window partitioned by bucket
    // sorts a hot bucket's every row in ONE task — the exact blowup the
    // cap exists to prevent. groupBy is a partial+final aggregation
    // (hot buckets reduce map-side); the anti-join side is gated in
    // antiJoinHot.
    val hot = banded0.groupBy(col("band"), col("bhash"))
      .agg(count(lit(1)).as("_n")).filter(col("_n") > maxBucket)
      .select(col("band"), col("bhash"))
    val banded = antiJoinHot(banded0, hot, Seq("band", "bhash"))
    val a = banded.select(col("band"), col("bhash"),
      col("doc_id").as("a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bhash"),
      col("doc_id").as("b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bhash")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          bool => bool)).cast("double") / numPerm).as("est_jaccard"))
      .distinct()
  }

  /** Drop `base` rows whose key is in the above-cap set `hot`, without
    * either failure mode of the naive forms: a per-bucket count()
    * window funnels a hot bucket's rows into one sort task, and an
    * UNCONDITIONAL broadcast of `hot` becomes the failure point when
    * the above-cap set is itself huge — it is bounded only by
    * rows/maxBucket, so a degenerate 10¹¹-row corpus can push 10⁸ keys
    * into the broadcast and OOM the driver in exactly the scenario the
    * cap exists to survive. The gate counts `hot` (one aggregated
    * action over the caller's cached input — the tfIdfTopK
    * broadcast-gate pattern) and broadcasts only below
    * `maxBroadcastKeys`; above it the anti-join runs shuffled, where
    * AQE's skew split spreads the hot key partitions. */
  private[graft] def antiJoinHot(base: DataFrame, hot: DataFrame,
                                 keys: Seq[String],
                                 maxBroadcastKeys: Long = 4000000L): DataFrame = {
    val h = if (hot.count() <= maxBroadcastKeys) broadcast(hot) else hot
    base.join(h, keys, "left_anti")
  }

  /** Broadcast-Bloom join pre-filter (r15): drop `big` rows whose
    * LongType `keyCol` is definitely absent from `keys(keyCol)` BEFORE
    * the shuffle join — the runtime-filter shape Spark's own
    * InjectRuntimeFilter builds, made explicit so the decontamination
    * path carries it regardless of optimizer heuristics. At 100 TB the
    * corpus-side shingle stream dominates the decontam join's shuffle;
    * a ~1 MiB Bloom of the benchmark-side keys (benchmark suites are
    * tiny relative to any training corpus) cuts that traffic by the
    * miss rate — with ZERO semantic risk: a Bloom filter has no false
    * negatives over the exact longs it was built from, so every
    * dropped row could never have joined, and a false positive only
    * travels to the join and falls out there (law-pinned in
    * DedupScaleSpec). Build side: one distributed BloomFilterAggregate
    * pass referenced through a SCALAR SUBQUERY — exactly the
    * expression shape InjectRuntimeFilter builds. The first r15 draft
    * collected the filter eagerly and embedded the ~1 MiB byte array
    * as a plan LITERAL; that both ran a Spark job at query-COMPOSITION
    * time and, worse, multiplied the megabyte blob into every
    * downstream plan rendering (a 12-stage pipeline caching above it
    * OOM'd the test JVM in `treeString` — CachedRDDBuilder renders the
    * full nested plan per cache). The subquery form keeps the plan
    * string O(plan), defers the build to execution, and Spark's
    * subquery machinery materializes the one-row binary result once
    * per query run; every task then probes it codegen-side via
    * might_contain. An over-full filter (items > `estItems`) only
    * raises the FP rate — traffic, never correctness. Empty build
    * side → the aggregate yields NULL, might_contain(NULL, k) is NULL,
    * and the Filter drops every row — nothing could have joined. */
  private[graft] def bloomSemiFilter(big: DataFrame, keys: DataFrame,
                                     keyCol: String,
                                     estItems: Long = 1L << 20,
                                     numBits: Long = 1L << 23): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.GraftBridge
    val agg = GraftBridge.column(new BloomFilterAggregate(
      GraftBridge.expression(col(keyCol)), Literal(estItems), Literal(numBits))
      .toAggregateExpression())
    val sub = ScalarSubquery(GraftBridge.logicalPlan(keys.select(agg.as("bf"))))
    big.filter(GraftBridge.column(
      BloomFilterMightContain(sub, GraftBridge.expression(col(keyCol)))))
  }

  /** Audit companion to [[minHashCandidates]]: the (band, bhash) buckets
    * the cap dropped, with their member counts — the "dropped mass" a
    * production run would log/alert on. Recomputes the signature
    * pipeline (the audit is an occasional diagnostic, not part of the
    * hot path); share a cached `bandedSignatures` manually if auditing
    * every run. */
  def hotBuckets(docs: DataFrame, numPerm: Int = 16, bands: Int = 4,
                 maxBucket: Int = 1000): DataFrame =
    bandedSignatures(exactCollapse(docs), numPerm, bands)
      .groupBy(col("band"), col("bhash"))
      .agg(count(lit(1)).as("members"))
      .filter(col("members") > maxBucket)

  /** End-to-end corpus dedup: the docs to KEEP after (1) exact dedup —
    * one min-id representative per identical text — and (2) near-dedup —
    * greedy one-pass drop of the higher-id side of every MinHash-LSH
    * candidate pair at or above `estJaccardMin`. The greedy pass keeps
    * cluster minima without an iterative connected-components step
    * (chains may over-drop: if b≈a and c≈b, c drops even when c≉a —
    * the standard trade in production dedup; full CC would iterate a
    * label-propagation join to fixpoint). Returns the surviving rows
    * with all their columns; one aggregation + the capped LSH join —
    * no O(n²) stage anywhere. */
  def dedupCorpus(docs: DataFrame, numPerm: Int = 16, bands: Int = 4,
                  estJaccardMin: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    val drops = minHashCandidates(docs, numPerm, bands, maxBucket)
      .filter(col("est_jaccard") >= estJaccardMin)
      .select(col("b").as("doc_id")).distinct()
    exactCollapse(docs).join(drops, Seq("doc_id"), "left_anti")
  }

  /** Connected components over an undirected edge list (a, b).
    *
    * Two regimes, same result (the property spec proves them equal):
    *
    *  - |edges| ≤ `localEdgeCap` (integral ids): collect the edge list
    *    and union-find on the driver. A candidate graph that fits the
    *    cap (default 1M edges ≈ 16 MB) costs milliseconds locally,
    *    where the distributed loop pays several full job dispatches —
    *    the same bounded-driver-work trade as Ann.buildIndex's k-means
    *    sample. The edge list is already the REDUCED output of banded
    *    dedup, orders of magnitude smaller than the corpus.
    *  - above the cap (or non-integral ids): iterative min-label
    *    propagation — every node starts as its own label; each round
    *    takes the min of its label and its neighbors'; fixpoint =
    *    component minima. Converges in O(component diameter) rounds;
    *    each round is one join + one aggregation — the standard
    *    large-graph CC shape when a full GraphX/pregel dependency
    *    isn't warranted. Throws if `maxIter` rounds don't reach the
    *    fixpoint (silent partial labels would violate the
    *    cluster-minimum contract). The returned DataFrame is CACHED
    *    (it is the loop's fixpoint; recomputing it replays every
    *    round) — the caller owns the `unpersist()`. */
  def components(edges: DataFrame, maxIter: Int = 10,
                 localEdgeCap: Long = 1000000L): DataFrame = {
    // cache around the regime gate: the cap count and the local-path
    // collect (or the loop's symmetrization) would otherwise each
    // replay the candidate-generation lineage — the expensive part.
    // An (a, b) edge frame that is already cached (the memoized md5
    // candidates) is read from its cache and left to its owner:
    // unpersisting it here would drop the memo's copy.
    val e = edges.select(col("a"), col("b"))
    val owned = e.storageLevel == StorageLevel.NONE
    if (owned) e.cache()
    try {
      componentsOn(e, maxIter, localEdgeCap)
    } finally if (owned) e.unpersist()
  }

  private def componentsOn(e: DataFrame, maxIter: Int,
                           localEdgeCap: Long): DataFrame = {
    val integralIds = e.schema.fields.forall(f => f.dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    })
    if (integralIds && e.count() <= localEdgeCap) {
      val spark = e.sparkSession
      import spark.implicits._
      val pairs = e.select(col("a").cast("long"), col("b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      return unionFindMinLabels(pairs).toSeq.sorted.toDF("doc", "label")
    }
    // cache the SYMMETRIZED list: it is what every iteration joins
    // (finally-unpersisted so a mid-loop job failure can't leak it)
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b"))).cache()
    try {
      componentsLoop(sym, maxIter)
    } finally sym.unpersist()
  }

  private def componentsLoop(sym: DataFrame, maxIter: Int): DataFrame = {
    var labels = sym.select(col("a").as("doc")).distinct()
      .withColumn("label", col("doc")).cache()
    // every exceptional exit — the non-convergence throw below AND any
    // mid-round job failure — unpersists the round's cached labels; only
    // the success path returns with the fixpoint still cached (callers
    // read it, so a finally would be wrong)
    try {
      var changed = 1L
      var it = 0
      while (changed > 0 && it < maxIter) {
        val nbr = sym.join(labels.select(col("doc").as("b"), col("label")), "b")
          .groupBy(col("a").as("doc")).agg(min(col("label")).as("nl"))
        // carry the previous label through, so the convergence check is a
        // filter over the SAME cached round result — one action per round
        // instead of a second join+count against the old labels (measured:
        // the extra action per round doubled wall-clock on small graphs,
        // where job dispatch dominates)
        val next = labels.join(nbr, Seq("doc"), "left")
          .select(col("doc"), col("label").as("_old"),
            least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
          .cache()
        changed = next.filter(col("label") =!= col("_old")).count()
        labels.unpersist()
        labels = next
        it += 1
      }
      // wrong-but-silent is worse than loud: labels that stopped moving
      // before fixpoint are NOT component minima (a chain longer than
      // maxIter hops keeps propagating) — refuse to return them
      if (changed > 0)
        throw new IllegalStateException(
          s"components() did not converge in $maxIter rounds " +
            s"($changed labels still moving) — raise maxIter above the " +
            "largest component diameter")
      // re-cache the narrow projection (drops the `_old` convergence
      // column) and release the loop frame: the returned DataFrame is
      // then ITSELF the cached plan, so a caller's unpersist() actually
      // frees the blocks — unpersisting a projection OVER a cached plan
      // is a silent no-op. The count()
      // materializes from labels' cache blocks (one cache-to-cache
      // copy, once per call — not per round).
      val out = labels.select(col("doc"), col("label")).cache()
      // if the materialization itself fails, the freshly-registered out
      // cache must not be orphaned (the outer catch only knows labels)
      try out.count()
      catch { case t: Throwable => out.unpersist(); throw t }
      labels.unpersist()
      out
    } catch { case t: Throwable => labels.unpersist(); throw t }
  }

  /** Driver-local union-find with min-root union + path compression:
    * always attaching the larger root beneath the smaller makes every
    * final root its component's minimum id. Near-linear via
    * compression. */
  private[ops] def unionFindMinLabels(pairs: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keysIterator.map(k => k -> find(k)).toMap
  }

  /** Near-dup clusters over the capped MinHash-LSH candidate graph:
    * (doc_id, cluster) where cluster = min doc_id of the connected
    * component. The exact-CC alternative to [[dedupCorpus]]'s greedy
    * one-pass drop — use this when chain over-drops matter. */
  def dupClusters(docs: DataFrame, numPerm: Int = 16, bands: Int = 4,
                  estJaccardMin: Double = 0.5, maxBucket: Int = 1000,
                  maxIter: Int = 10): DataFrame =
    components(
      minHashCandidates(docs, numPerm, bands, maxBucket)
        .filter(col("est_jaccard") >= estJaccardMin)
        .select(col("a"), col("b")),
      maxIter)
      .select(col("doc").as("doc_id"), col("label").as("cluster"))

  /** 64-bit SimHash from token-level xxhash64 bit votes, weighted by
    * token frequency. Tokens are pre-aggregated to (doc, hash, count)
    * first, so the 64 vote sums run over distinct tokens per doc (≤
    * vocabulary size) instead of every occurrence — ~10× less input on
    * repetitive text, bit-identical votes. */
  def simHash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), xxhash64(col("tok")).as("h"))
      .agg(count(lit(1)).as("cnt"))
    val bitVotes = (0 until 64).map { i =>
      sum(col("cnt") * (shiftright(col("h"), i).bitwiseAND(1) * 2 - 1)).as(s"b$i")
    }
    toks.groupBy(col("doc_id")).agg(bitVotes.head, bitVotes.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(i =>
          when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash via the one-pass UDAF (expressions.SimHashAgg):
    * bit-identical to [[simHash]] (SimHashAggSpec) but ONE aggregation
    * over raw token occurrences — each occurrence votes ±1 per bit
    * directly, so the per-(doc, token) count pre-aggregation (a whole
    * extra shuffle) disappears. */
  def simHashAgg(docs: DataFrame): DataFrame =
    // r18: one kernel pass over the text bytes
    // (graft.expressions.SimHashText: split(" ") token boundaries,
    // xxhash64 per token slice, ±1 votes — vote sums are order-free
    // integers, law-pinned vs this former explode+UDAF form in
    // SimHashAggSpec) instead of exploding one row per TOKEN
    // OCCURRENCE and hash-shuffling the corpus token stream back to
    // doc_id. The null filter reproduces the explode's drop of
    // null-text docs.
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.expressions.TextExpressions.simhash_text(col("text")).as("simhash"))

  /** SimHash near-dup candidate pairs within Hamming distance ≤
    * `maxHamming`: split the 64-bit signature into `maxHamming + 1`
    * bands — by pigeonhole, a pair with ≤ maxHamming differing bits
    * must agree EXACTLY on at least one band — bucket-join per band
    * (capped, same hot-bucket guard as MinHash), then filter by the
    * true popcount distance. Equal-signature matching (the
    * q_dedup_simhash star form) is the degenerate maxHamming = 0 case;
    * this is the general operator crawl dedup actually runs
    * (Manku/Jain/Sarma's simhash dedup shape). */
  def simHashCandidates(docs: DataFrame, maxHamming: Int = 3,
                        maxBucket: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] (bands need ≥ 4 bits), got $maxHamming")
    val nBands = maxHamming + 1
    val width = 64 / nBands
    // exact-collapse first, for a stronger reason than MinHash: equal
    // texts have equal signatures in EVERY band, so a boilerplate group
    // either explodes quadratically in all bands at once or (above the
    // cap) is dropped from all bands simultaneously — the "other bands
    // still cover it" escape hatch doesn't exist here
    val sh = simHashAgg(exactCollapse(docs))
    val bands = (0 until nBands).map { i =>
      val lo = i * width
      val w = if (i == nBands - 1) 64 - lo else width // last takes remainder
      val mask = if (w == 64) -1L else (1L << w) - 1
      struct(lit(i).as("band"),
        shiftrightunsigned(col("simhash"), lo).bitwiseAND(mask).as("bval"))
    }
    // cached pre-cap: feeds the bucket-size count AND both join sides
    val banded0 = graft.Memo.track(sh
      .select(col("doc_id"), col("simhash"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.bval")))
    // no-funnel cap guard (see minHashCandidates): partial+final count,
    // gated anti-join — never a per-bucket window that would sort a hot
    // bucket in one task
    val hot = banded0.groupBy(col("band"), col("bval"))
      .agg(count(lit(1)).as("_n")).filter(col("_n") > maxBucket)
      .select(col("band"), col("bval"))
    val banded = antiJoinHot(banded0, hot, Seq("band", "bval"))
    val a = banded.select(col("band"), col("bval"),
      col("doc_id").as("a"), col("simhash").as("sig_a"))
    val b = banded.select(col("band"), col("bval"),
      col("doc_id").as("b"), col("simhash").as("sig_b"))
    a.join(b, Seq("band", "bval")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Random-hyperplane LSH bucket id for an embedding: sign bits of the
    * dot products against `nPlanes` seeded pseudo-random hyperplanes
    * (components derived from xxhash64(plane, dim) — deterministic, no
    * data shipping). */
  def hyperplaneBucket(emb: Column, nPlanes: Int): Column = {
    val planes = (0 until nPlanes).map { p =>
      // pseudo-random ±1 per (plane, dim) from the dim index hash
      val signedDot = aggregate(
        zip_with(emb, sequence(lit(0), size(emb) - 1), (x, i) =>
          when(xxhash64(lit(p), i).bitwiseAND(1) === 1, x).otherwise(-x)),
        lit(0.0), (acc, x) => acc + x)
      when(signedDot > 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    planes.reduce(_ + _)
  }

  /** Bucketed approximate cosine near-dup over embeddings: exact cosine
    * only within hyperplane buckets. Buckets larger than `maxBucket`
    * are dropped whole (same guard as [[minHashCandidates]] — with
    * random hyperplanes a bucket that big means a degenerate embedding
    * cluster; pair work stays O(n · maxBucket)). */
  def annCandidates(embeddings: DataFrame, nPlanes: Int = 8,
                    maxBucket: Int = 4096): DataFrame = {
    val emb = transform(col("embedding"), x => x.cast("double"))
    // cached pre-cap: feeds the bucket-size count AND both join sides
    val withB0 = graft.Memo.track(embeddings.select(col("vec_id"), emb.as("v"))
      .withColumn("bucket", hyperplaneBucket(col("v"), nPlanes)))
    // no-funnel cap guard (see minHashCandidates): partial+final count,
    // gated anti-join
    val hot = withB0.groupBy(col("bucket"))
      .agg(count(lit(1)).as("_n")).filter(col("_n") > maxBucket)
      .select(col("bucket"))
    val withB = antiJoinHot(withB0, hot, Seq("bucket"))
    val a = withB.select(col("bucket"), col("vec_id").as("a"), col("v").as("va"))
    val b = withB.select(col("bucket"), col("vec_id").as("b"), col("v").as("vb"))
    val dot = graft.expressions.VectorExpressions.dot_product(col("va"), col("vb"))
    a.join(b, "bucket").filter(col("a") < col("b"))
      .select(col("a"), col("b"), round(dot, 4).as("cos4")) // unit-norm vectors
  }

  /** Rows-only queries (deterministic but Spark-hash-based → no oracle). */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_minhash" -> { (s, dir) =>
      minHashCandidates(Tables.documents(s, dir), numPerm = 16, bands = 4)
        .filter(col("est_jaccard") >= 0.5)
        .orderBy(col("a"), col("b"))
    },
    // End-to-end near-dup clustering, driver-visible: exact connected
    // components over the capped MinHash-LSH candidate graph — the
    // operator a production pipeline actually ships (assign every doc
    // in a dup cluster its cluster id = component-min doc_id).
    // DedupScaleSpec proves components == union-find and that planted
    // near-dup pairs land in one cluster. One fixpoint per (session,
    // corpus) in graft.Memo: repeated invocations reuse it instead of
    // replaying every propagation round.
    "q_dedup_clusters" -> { (s, dir) =>
      graft.Memo.artifact(s, dir, "dup clusters")(dupClusters(Tables.documents(s, dir)))
        .orderBy(col("cluster"), col("doc_id"))
    },
    // Equal-signature is an EQUIVALENCE relation, so star pairs (group
    // representative = min doc_id, paired with every other member) carry
    // the same dedup clusters as all-pairs in O(n) output — N identical
    // boilerplate docs emit N-1 pairs instead of N²/2, with no join at
    // all. (For size-2 groups, star == all-pairs, so harness output is
    // unchanged.) This doesn't apply to MinHash banding, where bucket
    // co-membership is NOT transitive — there we cap instead.
    "q_dedup_simhash" -> { (s, dir) =>
      val w = Window.partitionBy(col("simhash"))
      simHashAgg(Tables.documents(s, dir))
        .withColumn("a", min(col("doc_id")).over(w))
        .filter(col("doc_id") =!= col("a"))
        .select(col("a"), col("doc_id").as("b"), col("simhash"))
        .orderBy(col("a"), col("b"))
    },
    // The GENERAL Hamming≤k path — the operator crawl dedup actually
    // runs (pigeonhole banding over signature quarters, capped bucket
    // join, popcount filter). q_dedup_simhash above grades only the
    // degenerate equal-signature form; this key exercises
    // simHashCandidates end-to-end (RecallSpec asserts the planted
    // near-dup pairs surface at maxHamming = 3).
    "q_dedup_simhash_k" -> { (s, dir) =>
      simHashCandidates(Tables.documents(s, dir), maxHamming = 3)
        .orderBy(col("a"), col("b"))
    },
    "q_vec_ann_lsh" -> { (s, dir) =>
      annCandidates(Tables.embeddings(s, dir), nPlanes = 8)
        .filter(col("cos4") >= 0.2)
        .orderBy(col("a"), col("b"))
    }
  )
}
