package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Det, Tables}
import Det._

/** SURVEY §2.9 families A (scan/projection/filter) and C (aggregation).
  *
  * Every query: pure `(SparkSession, sfDir) => DataFrame`, built-in
  * Catalyst expressions only (whole-stage codegen'd), ends in a total
  * ORDER BY (§2.8). Aggregations are declarative `groupBy.agg` so Spark
  * plans partial (map-side) + final aggregation — the shape that holds
  * at 100 TB; filters precede projections so Catalyst pushes them into
  * the parquet scan.
  */
object Relational {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A. Scan / projection / filter --------------------------------
    "q_scan_project" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .select(
          col("l_orderkey").as("okey"),
          col("l_linenumber").cast("long").as("lnum"),
          col("l_returnflag").as("rflag"),
          cents(col("l_quantity")).as("qty_cents"),
          tstr(col("l_shipdate")).as("ship_ts"))
        // (l_orderkey, l_linenumber) is NOT unique in the harness data
        // (118k dup pairs at sf0.1) — the sort must cover every output
        // column to be a total order over row values
        .orderBy(col("okey"), col("lnum"), col("qty_cents"),
          col("rflag"), col("ship_ts"))
        .limit(100)
    },

    // Filter written before the projection so Catalyst pushes both the
    // predicate and the 2-column read schema into the parquet scan.
    "q_scan_pushdown" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")
          && col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    "q_filter_pred" -> { (s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderstatus").isin("F", "P")
          && (col("o_orderpriority").like("1-%") || col("o_orderpriority").like("2-%"))
          && col("o_totalprice").between(10000.0, 200000.0)
          && !(col("o_custkey") % 7 === 0))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("price_cents"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    },

    // CASE bands / NULLIF+COALESCE / GREATEST+LEAST / unit conversion
    // (bcdp R12 analog: value*k+b rescaling) — all per-row expressions,
    // deterministic across engines (identical IEEE ops per row).
    "q_project_expr" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .withColumn("rev_c4",
          cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
        .select(
          col("l_orderkey").as("okey"),
          col("l_linenumber").cast("long").as("lnum"),
          when(col("rev_c4") < 500000000L, "low")
            .when(col("rev_c4") < 2000000000L, "mid")
            .otherwise("high").as("band"),
          coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("flag_or_none"),
          greatest(cents(col("l_quantity")), lit(2500L)).as("qty_floor_c"),
          least(cents(col("l_discount")), lit(5L)).as("disc_cap_c"),
          round(col("l_quantity") * 1.8 + 32, 2).as("qty_f"))
        // total order over all output values ((okey, lnum) has dups)
        .orderBy(col("okey"), col("lnum"), col("band"), col("flag_or_none"),
          col("qty_floor_c"), col("disc_cap_c"), col("qty_f"))
    },

    // ---- C. Aggregation ------------------------------------------------
    "q_agg_global" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .agg(
          count(lit(1)).cast("long").as("cnt"),
          sum(cents(col("l_quantity"))).cast("long").as("sum_qty_cents"),
          sum(cents(col("l_extendedprice"))).cast("long").as("sum_base_cents"),
          min(tstr(col("l_shipdate"))).as("min_ship"),
          max(tstr(col("l_shipdate"))).as("max_ship"))
        .select(col("cnt"), col("sum_qty_cents"), col("sum_base_cents"),
          (col("sum_base_cents").cast("double") / 100.0 / col("cnt")).as("avg_price"),
          col("min_ship"), col("max_ship"))
    },

    // TPC-H Q1 shape. Money in exact integer cents end-to-end; averages
    // derived from the integer sums so both engines divide identical
    // exact integers (§2.8 rule 3).
    "q_agg_groupby" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(cents(col("l_quantity"))).cast("long").as("sum_qty_cents"),
          sum(cents(col("l_extendedprice"))).cast("long").as("sum_base_cents"),
          sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .cast("long").as("sum_disc_c4"),
          sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
            * (lit(100L) + cents(col("l_tax")))).cast("long").as("sum_charge_c6"),
          count(lit(1)).cast("long").as("cnt"))
        .select(
          col("l_returnflag"), col("l_linestatus"),
          col("sum_qty_cents"), col("sum_base_cents"),
          col("sum_disc_c4"), col("sum_charge_c6"),
          (col("sum_qty_cents").cast("double") / 100.0 / col("cnt")).as("avg_qty"),
          (col("sum_base_cents").cast("double") / 100.0 / col("cnt")).as("avg_price"),
          col("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // DISTINCT aggregates (Expand-based two-phase distinct in Spark).
    "q_agg_distinct" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).cast("long").as("nd_part"),
          countDistinct(col("l_suppkey")).cast("long").as("nd_supp"),
          sum_distinct(cents(col("l_quantity"))).cast("long").as("sumd_qty_cents"))
        .orderBy(col("l_returnflag"))
    },

    "q_agg_having" -> { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).cast("long").as("n_orders"))
        .filter(col("n_orders") > 8)
        .orderBy(col("o_custkey"))
    },

    "q_agg_rollup" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },

    "q_agg_cube" -> { (s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },

    "q_agg_gsets" -> { (s, dir) =>
      Tables.customer(s, dir)
        .groupingSets(
          Seq(Seq(col("c_mktsegment")), Seq(col("c_nationkey")), Seq()),
          col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("c_mktsegment").asc_nulls_first,
          col("c_nationkey").asc_nulls_first)
    },

    // Real-valued statistical aggregates: round-4 both sides (§2.8 rule 3
    // residual-risk class; values are O(10)-O(1e4) with ~1e-12 relative
    // FP noise, far inside the 4-dp grid).
    "q_agg_stats" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          r4(stddev_samp(col("l_quantity"))).as("sd_qty"),
          r4(var_samp(col("l_quantity"))).as("var_qty"),
          r4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qp"),
          r4(covar_samp(col("l_quantity"), col("l_discount"))).as("cov_qd"),
          count(lit(1)).cast("long").as("cnt"))
        .orderBy(col("l_returnflag"))
    },

    // Correlated scalar subquery through the SQL entry point (exercises
    // Catalyst's RewriteCorrelatedScalarSubquery decorrelation). The
    // inner AVG runs over exact integer cents whose per-customer double
    // sums stay < 2^53 → identical in both engines. The table is named
    // with the parquet.`path` scheme so the query fn stays PURE — no
    // createOrReplaceTempView mutating shared session state (the same
    // impurity the r4 lateral fix removed).
    "q_subq_correlated" -> { (s, dir) =>
      s.sql(
        s"""SELECT o_orderkey, o_custkey,
           |  CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_cents
           |FROM parquet.`$dir/orders.parquet` o
           |WHERE CAST(ROUND(o_totalprice*100) AS BIGINT) >
           |  2 * (SELECT AVG(CAST(ROUND(i.o_totalprice*100) AS BIGINT))
           |       FROM parquet.`$dir/orders.parquet` i
           |       WHERE i.o_custkey = o.o_custkey)
           |ORDER BY o_orderkey""".stripMargin)
    },

    // Pivot: event_type counts fanned into columns. The oracle uses
    // portable conditional aggregation; Spark's pivot leaves NULL for
    // absent combinations → COALESCE to 0 to match COUNT(CASE ...).
    "q_agg_pivot" -> { (s, dir) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = Tables.events(s, dir)
        .withColumn("ubin", expr("user_id DIV 10"))
        .groupBy(col("ubin"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      p.select(col("ubin") +:
          types.map(t => coalesce(col(t), lit(0L)).cast("long").as(t)): _*)
        .orderBy(col("ubin"))
    },

    // Interpolated percentiles over exact integer cents at binary-exact
    // quantiles (0.25/0.5/0.75): a + f·(b−a) with f a power-of-two
    // fraction and a,b integers is exact in both engines — no rounding
    // needed, the doubles are equal by construction.
    "q_agg_percentile" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .withColumn("qc", cents(col("l_quantity")))
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(qc, 0.25)").as("p25"),
          expr("percentile(qc, 0.5)").as("p50"),
          expr("percentile(qc, 0.75)").as("p75"),
          count(lit(1)).cast("long").as("cnt"))
        .orderBy(col("l_returnflag"))
    },

    // HLL sketch differs across engines → declared no-oracle (◦); exact
    // companion column carried for eyeballing.
    "q_agg_approx_hll" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_linestatus"))
        .agg(
          approx_count_distinct(col("l_partkey")).cast("long").as("approx_nd_part"),
          countDistinct(col("l_partkey")).cast("long").as("exact_nd_part"))
        .orderBy(col("l_linestatus"))
    },

    // Weighted mean with EXACT integer weights (user_id) — the shape of
    // the climate area-weighted reduction (ClimateOps.spatialMeanWeighted
    // with cos-lat quantized to integers): both weighted sum and weight
    // total are exact integer aggregations, one double division at the
    // end. Magnitude budget: micros ≤ 5e8 × weight ≤ 150 × 1e5 rows ≈
    // 7.5e15 « Long.Max.
    // NULLIF guard: a group whose every weight is 0 has an UNDEFINED
    // weighted average — declared NULL on both engines (adversarial-
    // tier find, r10: the unguarded form throws under Spark ANSI and
    // silently yields NULL-by-zero-division nowhere else).
    "q_agg_weighted" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(sum(micros(col("value")) * col("user_id")).cast("long").as("wsum"),
          sum(col("user_id")).cast("long").as("wtot"))
        .select(col("event_type"), col("wsum"), col("wtot"),
          (col("wsum").cast("double") / nullif(col("wtot"), lit(0)) / 1000000.0)
            .as("wavg"))
        .orderBy(col("event_type"))
    },

    // Hash-verified companion to q_agg_approx_hll: the same grouping
    // with only the exact distinct count, so the HLL family contributes
    // an oracle-green row too (the sketch key stays rows-only).
    "q_agg_hll_exact" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_linestatus"))
        .agg(countDistinct(col("l_partkey")).cast("long").as("exact_nd_part"))
        .orderBy(col("l_linestatus"))
    },

    // Count-Min heavy hitters (r4): one-pass custom sketch aggregate
    // (fixed 80 KB buffer through partial/final agg, cardinality-
    // independent — the 100 TB alternative to shuffling every distinct
    // term) + a pure built-in estimate expression over the broadcast
    // 1-row sketch. rows-only by nature (the sketch isn't
    // SQL-expressible); CmsSpec proves estimate ≥ exact everywhere and
    // partial-merge == single-pass; q_text_topterms is the
    // oracle-green exact companion over the same term set.
    "q_agg_cms" -> { (s, dir) =>
      import graft.expressions.CountMinAgg.{cms_sketch, cms_estimate}
      val terms = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("term"))
        .select(col("term"), xxhash64(col("term")).as("h"))
      val sketch = terms.agg(cms_sketch(col("h"), depth = 5, width = 2048).as("sk"))
      val top = terms.groupBy(col("term"), col("h"))
        .agg(count(lit(1)).cast("long").as("exact"))
        .orderBy(col("exact").desc, col("term")).limit(20)
      top.crossJoin(broadcast(sketch))
        .select(col("term"), col("exact"),
          cms_estimate(col("sk"), col("h"), depth = 5, width = 2048).as("cms_est"))
        .orderBy(col("exact").desc, col("term"))
    },

    // Linear-regression aggregates (r4): the OLS family both engines
    // ship (regr_slope/intercept/r2/avgx/avgy/count). FP-accumulated →
    // round-4 like q_agg_stats' corr/covar (same moment-sum stability
    // argument, verified cross-engine on this data).
    "q_agg_regr" -> { (s, dir) =>
      val y = col("l_extendedprice")
      val x = col("l_quantity")
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          round(regr_slope(y, x), 4).as("slope"),
          round(regr_intercept(y, x), 4).as("icept"),
          round(regr_r2(y, x), 4).as("r2"),
          round(regr_avgx(y, x), 4).as("avgx"),
          round(regr_avgy(y, x), 4).as("avgy"),
          regr_count(y, x).cast("long").as("n"))
        .orderBy(col("l_returnflag"))
    },

    // Salted two-phase aggregation GRADED (r5): Skew.saltedSum — the
    // hot-group-key fix (a skewed key funnels its whole group through
    // one task; the salt spreads it over 16, the final pass re-folds)
    // — proven equal to the plain groupBy in SkewSpec under a planted
    // skew, and here hash-matched against DuckDB's plain GROUP BY.
    // The per-row salt is nondeterministic but provably irrelevant:
    // the sums ride decimal(38,0) through both phases (exact, order-
    // free, overflow-safe — the q_agg_moments rule), so the output is
    // identical for every salt assignment; the final cast back to long
    // is safe because Σ|value_micros| at any fixture tier is ≪ 2⁶³.
    "q_agg_salted" -> { (s, dir) =>
      graft.ops.Skew.saltedSum(Tables.events(s, dir),
          Seq(col("event_type")), micros(col("value")), 16, out = "sum_vm")
        .withColumn("sum_vm", col("sum_vm").cast("long"))
        .orderBy(col("event_type"))
    },

    // Higher-moment statistics (r5): skewness/kurtosis. Both engines
    // SHIP these but with DIFFERENT estimators (Spark: population
    // m3/m2^1.5; DuckDB: bias-corrected sample g1) — so the graded
    // form derives POPULATION moments from EXACT integer power sums:
    // qc^k fits a long for k ≤ 4 (qc ≤ 5100 ⇒ qc⁴ ≤ 6.8e14), the sums
    // ride decimal(38,0) because a 600k-row s4 total (~1e20) overflows
    // BIGINT (DuckDB's SUM(BIGINT) widens to HUGEINT on its own), and
    // the double derivation is the IDENTICAL fully-parenthesized
    // expression on both sides — σ³ as sqrt(v)·v, never pow(v, 1.5)
    // (sqrt is correctly-rounded IEEE; pow is a libm call with no
    // such guarantee).
    "q_agg_moments" -> { (s, dir) =>
      val qc = cents(col("l_quantity"))
      val sums = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), qc.as("p1"), (qc * qc).as("p2"),
          (qc * qc * qc).as("p3"), (qc * qc * qc * qc).as("p4"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("p1").cast("decimal(38,0)")).as("s1"),
          sum(col("p2").cast("decimal(38,0)")).as("s2"),
          sum(col("p3").cast("decimal(38,0)")).as("s3"),
          sum(col("p4").cast("decimal(38,0)")).as("s4"))
      val n = col("n").cast("double")
      val m = col("s1").cast("double") / n
      val a2 = col("s2").cast("double") / n
      val a3 = col("s3").cast("double") / n
      val a4 = col("s4").cast("double") / n
      val v = a2 - (m * m)
      val skew = (a3 - (lit(3.0) * m * a2) + (lit(2.0) * (m * m * m))) /
        (sqrt(v) * v)
      val kurt = (a4 - (lit(4.0) * m * a3) + (lit(6.0) * (m * m) * a2) -
        (lit(3.0) * (m * m * m * m))) / (v * v)
      sums.select(col("l_returnflag"), col("n"),
          r4(m).as("mean_c"), r4(v).as("var_c"),
          r4(skew).as("skew"), r4(kurt).as("kurt"))
        .orderBy(col("l_returnflag"))
    },

    // Histogram binning (r4): width_bucket over 20 equal bins. DuckDB
    // has no width_bucket, so the oracle is the FLOOR equivalence.
    // Determinism caveat: Spark's WidthBucket computes
    // (numBucket·(v−min)/(max−min)).toLong + 1 — multiply THEN divide,
    // two FP roundings — while the oracle computes FLOOR(v/30000.0),
    // so edge agreement is NOT a same-expression argument. For THESE
    // constants it was verified by brute force over every cent-grid
    // double in [0, 600000): zero disagreements. Reusing this pattern
    // with other min/max/numBucket or non-2dp inputs requires the same
    // re-validation (off-by-one bucket flips at edges otherwise).
    "q_agg_histogram" -> { (s, dir) =>
      Tables.orders(s, dir)
        .select(width_bucket(col("o_totalprice"),
          lit(0.0), lit(600000.0), lit(20)).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("bucket"))
    },

    // argmax/argmin + predicate-aggregate family (r4): max_by/min_by
    // break ties ARBITRARILY in both engines, so the ordering key is
    // made UNIQUE — price_cents·10⁶ + orderkey (orderkey < 10⁶ at every
    // tested SF; at a larger SF widen the multiplier) — making the
    // picked row deterministic. The bound is ENFORCED by InvariantsSpec
    // ("argmax ordering key stays unique") against every fixture tier,
    // so a fixture regeneration that breaks it fails loudly instead of
    // flaking the hash compare. count_if / bool_and / bool_or are
    // plain predicate aggregates, same names both engines.
    "q_agg_argmax" -> { (s, dir) =>
      val ord = cents(col("o_totalprice")) * lit(1000000L) + col("o_orderkey")
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(
          max_by(col("o_orderkey"), ord).cast("long").as("biggest_order"),
          min_by(col("o_orderkey"), ord).cast("long").as("smallest_order"),
          count_if(col("o_orderpriority") === "1-URGENT").cast("long").as("n_urgent"),
          bool_and(col("o_totalprice") > 0.0).as("all_pos"),
          bool_or(cents(col("o_totalprice")) > 40000000L).as("any_jumbo"))
        .orderBy(col("o_custkey"))
    },

    // String aggregation + deterministic mode (r4). listagg emitted as
    // array_sort(collect_list) ∘ array_join over the distinct-value
    // aggregate — identical to DuckDB's string_agg(… ORDER BY …) and
    // order-deterministic where raw collect_list is not. Mode uses the
    // classic two-level form (per-value counts → max count → min value
    // among the tied) instead of Spark's mode(), whose tie-break
    // differs across engines; both joins here are over the
    // ≤|status×priority| = 15-row aggregate, so the orders scan is the
    // only big stage at any scale. `c` is cached: three branches reuse
    // it, and uncached each would re-scan and re-shuffle orders. The
    // cache lives until Memo.clear(): Spark's cache manager dedupes by
    // logical plan, so repeated invocations share one ~15-row entry
    // rather than accreting.
    "q_agg_listagg" -> { (s, dir) =>
      val c = graft.Memo.track(Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).cast("long").as("cnt")))
      val mode = c.groupBy(col("o_orderstatus")).agg(max(col("cnt")).as("mx"))
        .join(c, Seq("o_orderstatus")).where(col("cnt") === col("mx"))
        .groupBy(col("o_orderstatus")).agg(min(col("o_orderpriority")).as("mode_prio"))
      c.groupBy(col("o_orderstatus"))
        .agg(array_join(array_sort(collect_list(col("o_orderpriority"))), ",").as("prio_list"),
          count(lit(1)).cast("long").as("n_prios"),
          sum(col("cnt")).cast("long").as("n_rows"))
        .join(mode, Seq("o_orderstatus"))
        .orderBy(col("o_orderstatus"))
    }
  )

  val oracle: Map[String, String] = Map(
    "q_scan_project" ->
      """SELECT l_orderkey AS okey, CAST(l_linenumber AS BIGINT) AS lnum,
        |  l_returnflag AS rflag,
        |  CAST(ROUND(l_quantity*100) AS BIGINT) AS qty_cents,
        |  strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_ts
        |FROM lineitem
        |ORDER BY okey, lnum, qty_cents, rflag, ship_ts
        |LIMIT 100""".stripMargin,

    "q_scan_pushdown" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_filter_pred" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_cents, o_orderpriority
        |FROM orders
        |WHERE o_orderstatus IN ('F','P')
        |  AND (o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%')
        |  AND o_totalprice BETWEEN 10000.0 AND 200000.0
        |  AND NOT (o_custkey % 7 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    "q_project_expr" ->
      """SELECT l_orderkey AS okey, CAST(l_linenumber AS BIGINT) AS lnum,
        |  CASE WHEN CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) < 500000000 THEN 'low'
        |       WHEN CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) < 2000000000 THEN 'mid'
        |       ELSE 'high' END AS band,
        |  COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS flag_or_none,
        |  GREATEST(CAST(ROUND(l_quantity*100) AS BIGINT), 2500) AS qty_floor_c,
        |  LEAST(CAST(ROUND(l_discount*100) AS BIGINT), 5) AS disc_cap_c,
        |  ROUND(l_quantity*1.8 + 32, 2) AS qty_f
        |FROM lineitem
        |ORDER BY okey, lnum, band, flag_or_none, qty_floor_c, disc_cap_c, qty_f""".stripMargin,

    "q_agg_global" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_price,
        |  MIN(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')) AS min_ship,
        |  MAX(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')) AS max_ship
        |FROM lineitem""".stripMargin,

    "q_agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_c4,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) * (100 + CAST(ROUND(l_tax*100) AS BIGINT))) AS BIGINT) AS sum_charge_c6,
        |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_price,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_agg_distinct" ->
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_part,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_supp,
        |  CAST(SUM(DISTINCT CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sumd_qty_cents
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_agg_having" ->
      """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders
        |GROUP BY o_custkey
        |HAVING COUNT(*) > 8
        |ORDER BY o_custkey""".stripMargin,

    "q_agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_agg_gsets" ->
      """SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(GROUPING(c_mktsegment, c_nationkey) AS BIGINT) AS gid
        |FROM customer
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        |ORDER BY gid, c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""".stripMargin,

    "q_subq_correlated" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_cents
        |FROM orders o
        |WHERE CAST(ROUND(o_totalprice*100) AS BIGINT) >
        |  2 * (SELECT AVG(CAST(ROUND(i.o_totalprice*100) AS BIGINT))
        |       FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q_agg_pivot" ->
      """SELECT user_id // 10 AS ubin,
        |  CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        |  CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
        |  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
        |  CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        |  CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
        |FROM events
        |GROUP BY 1
        |ORDER BY ubin""".stripMargin,

    "q_agg_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(CAST(ROUND(l_quantity*100) AS BIGINT), 0.25) AS p25,
        |  quantile_cont(CAST(ROUND(l_quantity*100) AS BIGINT), 0.5) AS p50,
        |  quantile_cont(CAST(ROUND(l_quantity*100) AS BIGINT), 0.75) AS p75,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_agg_stats" ->
      """SELECT l_returnflag,
        |  ROUND(CAST(STDDEV_SAMP(l_quantity) AS DOUBLE), 4) AS sd_qty,
        |  ROUND(CAST(VAR_SAMP(l_quantity) AS DOUBLE), 4) AS var_qty,
        |  ROUND(CAST(CORR(l_quantity, l_extendedprice) AS DOUBLE), 4) AS corr_qp,
        |  ROUND(CAST(COVAR_SAMP(l_quantity, l_discount) AS DOUBLE), 4) AS cov_qd,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // q_agg_approx_hll: intentionally no oracle (sketches differ across engines)

    "q_agg_weighted" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(ROUND(value*1000000) AS BIGINT) * user_id) AS BIGINT) AS wsum,
        |  CAST(SUM(user_id) AS BIGINT) AS wtot,
        |  CAST(SUM(CAST(ROUND(value*1000000) AS BIGINT) * user_id) AS DOUBLE)
        |    / NULLIF(SUM(user_id), 0) / 1000000.0 AS wavg
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_agg_hll_exact" ->
      """SELECT l_linestatus,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_nd_part
        |FROM lineitem
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,

    "q_agg_regr" ->
      """SELECT l_returnflag,
        |  ROUND(CAST(regr_slope(l_extendedprice, l_quantity) AS DOUBLE), 4) AS slope,
        |  ROUND(CAST(regr_intercept(l_extendedprice, l_quantity) AS DOUBLE), 4) AS icept,
        |  ROUND(CAST(regr_r2(l_extendedprice, l_quantity) AS DOUBLE), 4) AS r2,
        |  ROUND(CAST(regr_avgx(l_extendedprice, l_quantity) AS DOUBLE), 4) AS avgx,
        |  ROUND(CAST(regr_avgy(l_extendedprice, l_quantity) AS DOUBLE), 4) AS avgy,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_agg_salted" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(ROUND(value*1000000) AS BIGINT)) AS BIGINT) AS sum_vm
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_agg_moments" ->
      """WITH s AS (
        |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(qc) AS s1, SUM(qc*qc) AS s2,
        |    SUM(qc*qc*qc) AS s3, SUM(qc*qc*qc*qc) AS s4
        |  FROM (SELECT l_returnflag,
        |          CAST(ROUND(l_quantity*100) AS BIGINT) AS qc
        |        FROM lineitem) t
        |  GROUP BY l_returnflag),
        |d AS (
        |  SELECT l_returnflag, n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS a2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS a3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS a4
        |  FROM s)
        |SELECT l_returnflag, n,
        |  ROUND(m, 4) AS mean_c,
        |  ROUND(a2 - (m*m), 4) AS var_c,
        |  ROUND((a3 - (3.0*m*a2) + (2.0*(m*m*m)))
        |        / (sqrt(a2 - (m*m)) * (a2 - (m*m))), 4) AS skew,
        |  ROUND((a4 - (4.0*m*a3) + (6.0*(m*m)*a2) - (3.0*(m*m*m*m)))
        |        / ((a2 - (m*m)) * (a2 - (m*m))), 4) AS kurt
        |FROM d
        |ORDER BY l_returnflag""".stripMargin,

    "q_agg_histogram" ->
      """SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT CASE WHEN o_totalprice < 0.0 THEN 0
        |                  WHEN o_totalprice >= 600000.0 THEN 21
        |                  ELSE CAST(FLOOR(o_totalprice / 30000.0) AS BIGINT) + 1
        |             END AS bucket
        |      FROM orders) t
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,

    "q_agg_argmax" ->
      """SELECT o_custkey,
        |  CAST(max_by(o_orderkey, CAST(ROUND(o_totalprice*100) AS BIGINT) * 1000000 + o_orderkey) AS BIGINT) AS biggest_order,
        |  CAST(min_by(o_orderkey, CAST(ROUND(o_totalprice*100) AS BIGINT) * 1000000 + o_orderkey) AS BIGINT) AS smallest_order,
        |  CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
        |  bool_and(o_totalprice > 0.0) AS all_pos,
        |  bool_or(CAST(ROUND(o_totalprice*100) AS BIGINT) > 40000000) AS any_jumbo
        |FROM orders
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,

    "q_agg_listagg" ->
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |m AS (
        |  SELECT c.o_orderstatus, min(c.o_orderpriority) AS mode_prio
        |  FROM c
        |  JOIN (SELECT o_orderstatus, max(cnt) AS mx
        |        FROM c GROUP BY 1) x
        |    ON c.o_orderstatus = x.o_orderstatus AND c.cnt = x.mx
        |  GROUP BY 1)
        |SELECT g.o_orderstatus, g.prio_list, g.n_prios, g.n_rows,
        |  m.mode_prio
        |FROM (SELECT o_orderstatus,
        |        string_agg(o_orderpriority, ',' ORDER BY o_orderpriority) AS prio_list,
        |        CAST(count(*) AS BIGINT) AS n_prios,
        |        CAST(sum(cnt) AS BIGINT) AS n_rows
        |      FROM c GROUP BY 1) g
        |JOIN m ON g.o_orderstatus = m.o_orderstatus
        |ORDER BY g.o_orderstatus""".stripMargin
  )
}
