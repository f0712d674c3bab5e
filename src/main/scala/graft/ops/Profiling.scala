package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Det, Tables}
import Det._

/** Pipeline utilities every large-scale training-data job needs:
  * deterministic sampling and table profiling — both as declarative,
  * oracle-matched queries.
  *
  *  - Deterministic sampling: filter on a content-hash prefix of the
  *    primary key (md5 here because both engines compute identical
  *    digests — at 100 TB you'd use xxhash64 for speed). Unlike
  *    TABLESAMPLE / rand(), the sample is stable across runs, engines,
  *    partitionings and cluster sizes — reproducibility is the point.
  *  - Profiling: one aggregation pass computing row counts, key
  *    cardinalities, null counts, and value ranges — the
  *    `df.summary()` analog, written explicitly so it hash-matches.
  */
object Profiling {

  /** Data-quality expectations (the Deequ / Great-Expectations shape):
    * named row-level predicates evaluated in ONE aggregation pass —
    * each expectation becomes a conditional count, so 20 checks cost
    * the same scan as one. A predicate that evaluates NULL counts as a
    * VIOLATION (a NULL quantity failing a range check must not slip a
    * `viol == 0` gate). Returns a single row of violation counts. */
  def expect(df: DataFrame,
             expectations: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val aggs = expectations.map { case (name, pred) =>
      sum(when(pred, 0L).otherwise(1L)).cast("long").as(s"viol_$name")
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Deterministic STRATIFIED sampling: exactly `n` rows per stratum
    * (language, source, label...), chosen by content-hash rank — the
    * balanced-subset builder of every training-data pipeline
    * ("20k docs per language"), stable across engines, partitionings
    * and cluster sizes, unlike sampleBy's Bernoulli draw which is
    * neither exact-count nor reproducible cross-engine.
    *
    * Scale shape: a naive `row_number` over `partitionBy(stratum)`
    * funnels each ENTIRE stratum through one reducer task (5 language
    * strata at 100 TB ⇒ ~20 TB through one sort). Instead: a first
    * aggregation pass counts each stratum, a hash-prefix threshold
    * sized to `overselect`×n/cnt pre-filters to ~overselect·n rows per
    * stratum, and only that bounded survivor set is windowed. The
    * survivor set is downward-closed in the (md5, key) sort order — a
    * threshold on the leading 60 bits of the same md5 that orders the
    * window — so survivor-local ranks equal full-stratum ranks and the
    * result is EXACTLY the full-window top-n whenever a stratum keeps
    * ≥ min(n, cnt) survivors. Strata where the (binomially distributed,
    * mean overselect·n) draw undershoots — or with cnt ≤ overselect·n,
    * which skip the filter entirely — are handled by a declarative
    * fallback branch that windows those strata in full, so the output
    * is provably identical to the one-window form on every input, with
    * no driver-side action. */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String,
                       n: Int, overselect: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n > 0, s"sample size must be positive, got $n")
    require(overselect >= 2, s"overselect must be >= 2, got $overselect")
    val reserved = Seq("rn", "_stratum", "_cnt", "_gstratum", "_got", "_defstratum")
    reserved.foreach(r => require(!df.columns.contains(r),
      s"stratifiedSample reserves column name '$r'; rename the existing one first"))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    def top(in: DataFrame): DataFrame =
      in.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= n)

    val counts = stratumCounts(df, stratumCol)
    val survivors = survivorsWithCounts(df, stratumCol, keyCol, n, overselect, counts)
    // guard: strata whose survivor count undershot min(n, cnt) (strata
    // with zero survivors surface via the left join's null _got)
    val got = survivors.groupBy(col("_stratum").as("_gstratum"))
      .agg(count(lit(1)).cast("long").as("_got"))
    // got is stratum-bounded (one row per stratum — languages,
    // clusters), so broadcast it: unhinted, this left join planned a
    // SortMergeJoin whose two exchanges + sorts are pure overhead for
    // a frame the size of the stratum count (r17 optimization round)
    val deficient = counts
      .join(broadcast(got), col("_stratum") <=> col("_gstratum"), "left")
      .filter(coalesce(col("_got"), lit(0L)) < least(lit(n.toLong), col("_cnt")))
      .select(col("_stratum").as("_defstratum"))
    val good = top(survivors
      .join(broadcast(deficient), col(stratumCol) <=> col("_defstratum"), "left_anti")
      .drop("_stratum", "_cnt"))
    val fallback = top(df
      .join(broadcast(deficient), col(stratumCol) <=> col("_defstratum"), "left_semi"))
    good.unionByName(fallback)
  }

  /** Pass 1: stratum cardinalities — one row per stratum, tiny. */
  private def stratumCounts(df: DataFrame, stratumCol: String): DataFrame =
    df.groupBy(col(stratumCol).as("_stratum"))
      .agg(count(lit(1)).cast("long").as("_cnt"))

  /** The pre-filtered rows [[stratifiedSample]] feeds its window
    * (before the deficiency fallback), carrying `_stratum`/`_cnt`.
    * Kept separately callable as the test seam: DedupScaleSpec asserts
    * this stays bounded per stratum on a skewed fixture. */
  private[graft] def stratifiedSurvivors(df: DataFrame, stratumCol: String,
                                         keyCol: String, n: Int,
                                         overselect: Int = 4): DataFrame =
    survivorsWithCounts(df, stratumCol, keyCol, n, overselect,
      stratumCounts(df, stratumCol))

  /** [[stratifiedSurvivors]] with the counts aggregation passed in, so
    * [[stratifiedSample]] (which also needs counts for its deficiency
    * check) builds it once instead of twice. */
  private def survivorsWithCounts(df: DataFrame, stratumCol: String,
                                  keyCol: String, n: Int, overselect: Int,
                                  counts: DataFrame): DataFrame = {
    val cap = overselect.toLong * n
    // leading 60 bits of the SAME md5 the window orders by, as a long;
    // lexicographic hex order == numeric order, so {prefix60 < T} is a
    // prefix of each stratum's sort order (equal-prefix ties included
    // whole — the set stays downward-closed)
    val prefix60 = conv(substring(md5(col(keyCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val tMax = 1L << 60
    // null-safe join: a NULL stratum is a legal window group and must
    // survive the counts round-trip
    df.join(broadcast(counts), col(stratumCol) <=> col("_stratum"))
      // a NULL sort key sorts FIRST (md5(null) is null, ASC NULLS
      // FIRST): null-key rows are the smallest elements of their
      // stratum's order, so keeping them all preserves downward
      // closure — prefix60 is null for them and `null < T` would
      // silently DROP rows the reference window ranks at the very top
      .filter(col(keyCol).isNull || col("_cnt") <= cap ||
        prefix60 < (lit(tMax.toDouble) * cap / col("_cnt")).cast("long"))
  }

  /** The worst-group distinct count driving the gate, memoized per
    * (session, input plan, group, value column) in [[graft.Memo]]:
    * q_profile_mad probes the same (events, vm) pair twice per call
    * and q_profile_outliers probes it again — one distinct-count scan
    * serves them all within a session. */
  private def probeGate(ev: DataFrame, groupCol: String, valCol: String): Long =
    graft.Memo.over(ev, s"gate $groupCol $valCol") {
      val ndRow = ev.groupBy(col(groupCol))
        .agg(approx_count_distinct(col(valCol)).as("_nd"))
        .agg(max(col("_nd"))).head()
      if (ndRow.isNullAt(0)) 0L else ndRow.getLong(0)
    }

  /** THE default exact-percentile gate — the single constant every
    * gate-parameterized entry point below defaults to, so the graded
    * `exact_pct` surfacing can never drift from the branch
    * gatedPercentiles actually took through a default mismatch. */
  val DefaultExactDistinctMax: Long = 1000000L

  /** True iff [[gatedPercentiles]] on the same (input, group, value)
    * runs the EXACT percentile branch. Shares the memoized probe, so
    * calling it next to gatedPercentiles costs nothing extra. The
    * graded keys surface it as a literal `exact_pct` column whose
    * oracle side is hard-coded TRUE: the DuckDB oracles only ever
    * express the exact quantile_cont form, so if a future fixture
    * tier trips the gate, grading fails LOUDLY on this named column
    * instead of a mystery hash mismatch between approx and exact
    * values (ADVICE r5). CONTRACT: pass the SAME `exactDistinctMax`
    * you passed to gatedPercentiles/iqrFences — an asymmetric
    * override reports the wrong branch. */
  def exactGateHolds(ev: DataFrame, groupCol: String, valCol: String,
                     exactDistinctMax: Long = DefaultExactDistinctMax): Boolean =
    probeGate(ev, groupCol, valCol) <= exactDistinctMax

  /** Per-group interpolated percentiles with a CARDINALITY GATE —
    * the scale fix behind q_profile_outliers and q_profile_mad,
    * factored so the gate is testable on its own.
    *
    * Why a gate: Spark's exact `percentile` is a
    * TypedImperativeAggregate whose buffer is a value→count hash map —
    * its size grows with DISTINCT values per group, and a
    * continuous-domain column (micros of a double here) is effectively
    * distinct-per-row. At graded scale that map is ~20k entries; at
    * 100 TB one event_type's buffer would hold billions of entries ON
    * ONE EXECUTOR — an OOM, not a slowdown. So, in the
    * tfidf-broadcast-gate style (`Text.tfIdfTopK`): one cheap
    * `approx_count_distinct` pass (fixed-size HLL buffers) bounds the
    * worst group's cardinality; at or below `exactDistinctMax` the
    * exact interpolated `percentile` runs (the oracle-graded form —
    * ≤ ~100 MB buffer at the 1M default, ~50× above the graded tiers);
    * above it the values come from `approx_percentile`'s bounded
    * GK sketch (~`accuracy` entries regardless of input size), whose
    * rank error shifts a robust-fence threshold by at most the local
    * value spacing at rank ±n/10⁴ — noise against a 1.5·IQR or 3·MAD
    * fence. The gate count itself is one-sided-safe: HLL's ±2% error
    * is absorbed by the 50× margin, and a flip to approx is a
    * bounded-accuracy fallback, never a correctness cliff.
    *
    * `valCol` must be a plain column name (it is spliced into an
    * aggregate expression). Returns one row per group with one column
    * per `(p, name)`. PlanAuditSpec asserts the gate fires on a tiny
    * cap and that the default-gate fences equal the inline exact
    * form. */
  def gatedPercentiles(ev: DataFrame, groupCol: String, valCol: String,
                       ps: Seq[(Double, String)],
                       exactDistinctMax: Long = DefaultExactDistinctMax): DataFrame = {
    require(ev.columns.contains(valCol) && !valCol.exists(c => !c.isLetterOrDigit && c != '_'),
      s"gatedPercentiles needs a plain existing column name, got '$valCol'")
    require(ps.nonEmpty && ps.forall { case (p, _) => p >= 0.0 && p <= 1.0 },
      s"percentiles must be in [0,1], got ${ps.map(_._1)}")
    val maxNd = probeGate(ev, groupCol, valCol)
    val aggs = ps.map { case (p, name) =>
      if (maxNd <= exactDistinctMax) expr(s"percentile($valCol, $p)").as(name)
      else expr(s"approx_percentile($valCol, $p, 10000)").cast("double").as(name)
    }
    ev.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-group Tukey fences `(group, lo, hi)` off [[gatedPercentiles]]
    * quartiles — the q_profile_outliers fence step. */
  def iqrFences(ev: DataFrame, groupCol: String, valCol: String,
                exactDistinctMax: Long = DefaultExactDistinctMax): DataFrame = {
    val iqr = col("q3") - col("q1")
    gatedPercentiles(ev, groupCol, valCol,
        Seq(0.25 -> "q1", 0.75 -> "q3"), exactDistinctMax)
      .select(col(groupCol), (col("q1") - iqr * 1.5).as("lo"),
        (col("q3") + iqr * 1.5).as("hi"))
  }

  /** The 60-bit md5 row digest behind q_profile_checksum — ONE
    * definition (query, pipeline demo, and specs all reuse it, so a
    * digest-scheme change cannot silently de-sync replicas). Columns
    * must be integer/string-typed (float formatting differs across
    * engines — cents-encode doubles first).
    *
    * NULL-PROPAGATING (r11 NULL-tier find): every oracle mirrors this
    * digest as a SQL `||` chain, which nulls the whole digest when any
    * input is NULL — but concat_ws SKIPS null args, so a NULL text
    * produced digest("id") on the Spark side and NULL (sum-skipped) in
    * DuckDB, silently desyncing every fingerprint aggregate. concat
    * with explicit separators is byte-identical to concat_ws on
    * non-null inputs (all prior hashes unchanged) and NULL when any
    * input is — aggregating callers (SUM/bit_xor) skip it on both
    * engines. */
  def rowDigest(cols: Column*): Column = {
    require(cols.nonEmpty, "rowDigest needs at least one column")
    val joined =
      concat(cols.flatMap(c => Seq(lit("|"), c.cast("string"))).tail: _*)
    conv(substring(md5(joined), 1, 15), 16, 10).cast("long")
  }

  /** One-row `(n_rows, xor_sig)` XOR fingerprint of `df` over the
    * digest columns; an EMPTY input fingerprints as (0, 0) rather
    * than a NULL that crashes a downstream getLong. */
  def xorFingerprint(df: DataFrame, cols: Column*): DataFrame =
    df.select(rowDigest(cols: _*).as("d"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        coalesce(expr("bit_xor(d)"), lit(0L)).as("xor_sig"))

  /** DATA-DRIFT report between two corpus slices — the train/holdout
    * distribution check a pipeline runs before shipping a split (the
    * PSI report's exact twin): per feature bin, both slice counts and
    * the exact cross-multiplied proportion gap
    * `dq = c_a·N_b − c_b·N_a` — zero ⟺ identical proportions, sign =
    * drift direction, |dq| ranks drifted bins (PSI's ranking without
    * PSI's log — the colloc/fluency move; PSI itself is
    * Σ (p−q)·ln(p/q), monotone-aligned per bin with |dq| for fixed
    * totals). Overflow: |dq| ≤ c·N ≤ N² — safe to N ~ 3e9 rows per
    * slice; shard the report beyond that. Scale shape: one
    * partial+final hash aggregation per slice, a full outer join on
    * the bin key, two 1-row cross joins for the totals — no window,
    * no funnel. */
  def driftReport(a: DataFrame, b: DataFrame, binCol: Column): DataFrame = {
    def cnt(df: DataFrame, n: String) = df.select(binCol.as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as(n))
    val na = a.agg(count(lit(1)).as("n_a"))
    val nb = b.agg(count(lit(1)).as("n_b"))
    cnt(a, "c_a").join(cnt(b, "c_b"), Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
      .crossJoin(na).crossJoin(nb)
      .withColumn("dq", col("c_a") * col("n_b") - col("c_b") * col("n_a"))
      .select(col("bin"), col("c_a"), col("c_b"), col("dq"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Drift between the md5-split train and test slices over
    // (lang × 100-char n_chars band) bins — the split is the SAME
    // digest bucketing q_sample_split grades, so this key also pins
    // drift's composition with the production splitter. NULL n_chars
    // bins as -1 explicitly (concat_ws would SKIP the null and merge
    // bins across engines' skip rules).
    "q_profile_drift" -> { (s, dir) =>
      val split = TextAnalysis.hashSplit(Tables.documents(s, dir))
      val bin = concat(col("lang"), lit(":"),
        coalesce(floor(col("n_chars") / 100).cast("long"), lit(-1L))
          .cast("string"))
      driftReport(split.filter(col("split") === "train"),
          split.filter(col("split") === "test"), bin)
        .orderBy(col("bin"))
    },
    // 20 docs per language, content-hash ranked.
    "q_sample_stratified" -> { (s, dir) =>
      stratifiedSample(Tables.documents(s, dir), "lang", "doc_id", 20)
        .select(col("lang"), col("doc_id"), col("rn"))
        .orderBy(col("lang"), col("rn"))
    },

    // One-pass expectation suite over lineitem (all pass on the
    // harness data — the zero row IS the assertion) + an orphan count
    // via anti-join for the referential check.
    "q_profile_expect" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val checks = expect(li, Seq(
        "qty_range" -> col("l_quantity").between(0.0, 100.0),
        "price_positive" -> (col("l_extendedprice") > 0.0),
        "flag_domain" -> col("l_returnflag").isin("A", "N", "R"),
        "status_domain" -> col("l_linestatus").isin("F", "O"),
        "keys_nonnull" -> (col("l_orderkey").isNotNull && col("l_partkey").isNotNull)))
      val orphans = li.join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).cast("long").as("viol_orphan_orderkey"))
      checks.crossJoin(orphans)
    },

    // ~1/16 deterministic sample of lineitem keyed on the PK digest.
    "q_sample_det" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(substring(md5(concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string"))), 1, 1) === "0")
        .select(col("l_orderkey").as("okey"),
          col("l_linenumber").cast("long").as("lnum"),
          cents(col("l_quantity")).as("qty_cents"))
        // total order over output values ((okey, lnum) has dups)
        .orderBy(col("okey"), col("lnum"), col("qty_cents"))
    },

    // IQR (Tukey-fence) outlier detection (r4) — the numeric
    // data-quality staple. Two-pass de-funneled shape (the
    // q_climate_anomaly precedent): per-group quartiles via ONE
    // aggregation over exact integer micros (cardinality-gated, see
    // [[iqrFences]]), fences broadcast back onto the events scan —
    // never a window over a low-cardinality key. Determinism:
    // quantile interpolation at 0.25/0.75 over integers lands on a
    // .25 grain, ×1.5 lands on a .125 grain — all exactly
    // representable doubles, so the fence comparison is bit-identical
    // cross-engine (q_agg_percentile's proven rule). Graded tiers run
    // ~20k distinct micros per group — 50× under the exact gate, so
    // the oracle always compares against the exact interpolated form.
    "q_profile_outliers" -> { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("vm", micros(col("value")))
      ev.join(broadcast(iqrFences(ev, "event_type", "vm")), "event_type")
        .where(col("vm") < col("lo") || col("vm") > col("hi"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_outliers"),
          min(col("vm")).cast("long").as("min_out"),
          max(col("vm")).cast("long").as("max_out"))
        // which gate branch computed the fences — the oracle asserts
        // TRUE, so a gate flip at a bigger tier fails on THIS column
        .withColumn("exact_pct", lit(exactGateHolds(ev, "event_type", "vm")))
        .orderBy(col("event_type"))
    },

    // MAD (median-absolute-deviation) robust outliers (r5) — the
    // IQR key's heavy-tail-safe twin (quartiles break down past 25%
    // contamination; the median holds to 50%). Same de-funneled
    // two-pass-per-statistic shape over the same gated-percentile
    // machinery: median per group, |vm − med| via broadcast join,
    // median of those deviations, flag adev > 3·MAD. Determinism: vm is
    // exact integer micros; median interpolation lands on a .5 grain,
    // the deviation median on a .25 grain, ×3 stays exactly
    // representable — so the flag comparison is bit-identical
    // cross-engine (the q_profile_outliers rule, one level deeper).
    "q_profile_mad" -> { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("vm", micros(col("value")))
      val med = gatedPercentiles(ev, "event_type", "vm", Seq(0.5 -> "med"))
      // the deviation frame feeds THREE consumers (the adev gate
      // probe, the mad percentile, the final flag aggregation) — each
      // would re-run the full events scan AND the med percentile job
      // buried in its subtree (r17 optimization round, guide §2.4:
      // 3 passes → 1). Memoized per (session, dir) in graft.Memo so
      // spec parity suites reuse one cached copy; keyed on the dir, not
      // a 32-bit hash of the ev plan, whose collision across data dirs
      // would silently serve the wrong persisted deviation frame.
      // projected to the three columns downstream reads before the
      // cache — un-projected it would materialize the full event row
      // (props payload included) where the uncached plans pruned it
      val ad = graft.Memo.artifact(s, dir, "mad deviations") {
        ev.join(broadcast(med), "event_type")
          .withColumn("adev", abs(col("vm").cast("double") - col("med")))
          .select(col("event_type"), col("adev"), col("med"))
          .cache()
      }
      val mad = gatedPercentiles(ad, "event_type", "adev", Seq(0.5 -> "mad"))
      ad.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("adev") > col("mad") * 3.0, 1L).otherwise(0L))
            .cast("long").as("n_outliers"),
          min(col("med")).as("med"),
          min(col("mad")).as("mad"))
        // BOTH gates (vm median and adev median) must have run exact
        // for the always-exact oracle to be comparable
        .withColumn("exact_pct", lit(
          exactGateHolds(ev, "event_type", "vm") &&
          exactGateHolds(ad, "event_type", "adev")))
        .orderBy(col("event_type"))
    },

    // Order-independent table fingerprint (r5): the replica-
    // reconciliation primitive — XOR-fold a per-row digest so two
    // copies of a table compare with ONE aggregate each, on any
    // engine, under any row order or partitioning (exactly what a
    // 100 TB migration needs; row-by-row comparison is another full
    // shuffle). bit_xor is commutative/associative with no overflow
    // (a sum-fold needs widening at scale); the row digest is the
    // leading 60 bits of md5 over '|'-joined columns — integers and
    // strings only, because float FORMATTING differs across engines
    // (cents-encode doubles before including them). A NULL in any
    // digest column nulls that row's digest on BOTH engines (rowDigest
    // concat ≙ SQL `||`), and bit_xor/SUM skip it symmetrically —
    // coalesce to a sentinel first if NULL rows must be covered.
    "q_profile_checksum" -> { (s, dir) =>
      xorFingerprint(Tables.orders(s, dir),
        col("o_orderkey").cast("string"),
        col("o_custkey").cast("string"),
        col("o_orderpriority"))
    },

    "q_profile_stats" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .agg(
          count(lit(1)).cast("long").as("n_rows"),
          countDistinct(col("l_orderkey")).cast("long").as("nd_orderkey"),
          countDistinct(col("l_partkey")).cast("long").as("nd_partkey"),
          countDistinct(col("l_returnflag")).cast("long").as("nd_returnflag"),
          sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).cast("long").as("nulls_returnflag"),
          min(cents(col("l_quantity"))).cast("long").as("min_qty_cents"),
          max(cents(col("l_quantity"))).cast("long").as("max_qty_cents"),
          min(tstr(col("l_shipdate"))).as("min_ship"),
          max(tstr(col("l_shipdate"))).as("max_ship"))
    }
  )

  val oracle: Map[String, String] = Map(
    // the same digest bucketing as q_sample_split; DuckDB integer /
    // is float division, so FLOOR(...)::BIGINT mirrors Spark's
    // floor(col/100) exactly (n_chars ≪ 2^53)
    "q_profile_drift" ->
      """WITH s AS (
        |  SELECT lang || ':' || CAST(COALESCE(
        |      CAST(FLOOR(n_chars / 100) AS BIGINT), -1) AS VARCHAR) AS bin,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 100 AS bucket
        |  FROM documents),
        |a AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS c_a
        |      FROM s WHERE bucket < 90 GROUP BY 1),
        |b AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS c_b
        |      FROM s WHERE bucket >= 95 GROUP BY 1),
        |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a
        |       FROM s WHERE bucket < 90),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b
        |       FROM s WHERE bucket >= 95)
        |SELECT COALESCE(a.bin, b.bin) AS bin,
        |  COALESCE(c_a, CAST(0 AS BIGINT)) AS c_a,
        |  COALESCE(c_b, CAST(0 AS BIGINT)) AS c_b,
        |  CAST(COALESCE(c_a, 0) * n_b - COALESCE(c_b, 0) * n_a
        |    AS BIGINT) AS dq
        |FROM a FULL JOIN b ON a.bin = b.bin CROSS JOIN na CROSS JOIN nb
        |ORDER BY bin""".stripMargin,
    "q_sample_stratified" ->
      """SELECT lang, doc_id, rn FROM (
        |  SELECT lang, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |  FROM documents) t
        |WHERE rn <= 20
        |ORDER BY lang, rn""".stripMargin,

    "q_profile_expect" ->
      """SELECT
        |  CAST(SUM(CASE WHEN (l_quantity BETWEEN 0.0 AND 100.0) THEN 0 ELSE 1 END) AS BIGINT) AS viol_qty_range,
        |  CAST(SUM(CASE WHEN (l_extendedprice > 0.0) THEN 0 ELSE 1 END) AS BIGINT) AS viol_price_positive,
        |  CAST(SUM(CASE WHEN (l_returnflag IN ('A','N','R')) THEN 0 ELSE 1 END) AS BIGINT) AS viol_flag_domain,
        |  CAST(SUM(CASE WHEN (l_linestatus IN ('F','O')) THEN 0 ELSE 1 END) AS BIGINT) AS viol_status_domain,
        |  CAST(SUM(CASE WHEN (l_orderkey IS NOT NULL AND l_partkey IS NOT NULL) THEN 0 ELSE 1 END) AS BIGINT) AS viol_keys_nonnull,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |    AS viol_orphan_orderkey
        |FROM lineitem""".stripMargin,

    "q_sample_det" ->
      """SELECT l_orderkey AS okey, CAST(l_linenumber AS BIGINT) AS lnum,
        |  CAST(ROUND(l_quantity*100) AS BIGINT) AS qty_cents
        |FROM lineitem
        |WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 1) = '0'
        |ORDER BY okey, lnum, qty_cents""".stripMargin,

    "q_profile_outliers" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ROUND(value*1000000) AS BIGINT) AS vm
        |  FROM events),
        |f AS (
        |  SELECT event_type,
        |    quantile_cont(vm, 0.25) - 1.5 * (quantile_cont(vm, 0.75) - quantile_cont(vm, 0.25)) AS lo,
        |    quantile_cont(vm, 0.75) + 1.5 * (quantile_cont(vm, 0.75) - quantile_cont(vm, 0.25)) AS hi
        |  FROM ev GROUP BY event_type)
        |SELECT ev.event_type,
        |  CAST(count(*) AS BIGINT) AS n_outliers,
        |  CAST(min(vm) AS BIGINT) AS min_out,
        |  CAST(max(vm) AS BIGINT) AS max_out,
        |  TRUE AS exact_pct
        |FROM ev JOIN f ON ev.event_type = f.event_type
        |WHERE vm < lo OR vm > hi
        |GROUP BY ev.event_type
        |ORDER BY ev.event_type""".stripMargin,

    "q_profile_checksum" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  COALESCE(bit_xor(CAST('0x' || substr(md5(
        |    CAST(o_orderkey AS VARCHAR) || '|' ||
        |    CAST(o_custkey AS VARCHAR) || '|' ||
        |    o_orderpriority), 1, 15) AS BIGINT)), 0) AS xor_sig
        |FROM orders""".stripMargin,

    "q_profile_mad" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ROUND(value*1000000) AS BIGINT) AS vm
        |  FROM events),
        |med AS (
        |  SELECT event_type, quantile_cont(vm, 0.5) AS med
        |  FROM ev GROUP BY event_type),
        |ad AS (
        |  SELECT ev.event_type, abs(CAST(vm AS DOUBLE) - med) AS adev, med
        |  FROM ev JOIN med ON ev.event_type = med.event_type),
        |mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM ad GROUP BY event_type)
        |SELECT ad.event_type,
        |  CAST(SUM(CASE WHEN adev > mad * 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  MIN(ad.med) AS med,
        |  MIN(mad.mad) AS mad,
        |  TRUE AS exact_pct
        |FROM ad JOIN mad ON ad.event_type = mad.event_type
        |GROUP BY ad.event_type
        |ORDER BY ad.event_type""".stripMargin,

    "q_profile_stats" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nd_orderkey,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_partkey,
        |  CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS nd_returnflag,
        |  CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_returnflag,
        |  CAST(MIN(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS min_qty_cents,
        |  CAST(MAX(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS max_qty_cents,
        |  MIN(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')) AS min_ship,
        |  MAX(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')) AS max_ship
        |FROM lineitem""".stripMargin
  )
}
