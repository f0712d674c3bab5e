package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.scalatest.funsuite.AnyFunSuite

/** Blanket scale-regression net over the ENTIRE declared contract: no
  * key's physical plan may contain a CartesianProduct, ever — except
  * the one key whose SEMANTICS are a cross join (q_join_cross, a
  * declared 5×25 product) — and no key may plan a GLOBAL window (empty
  * partition spec → Spark moves the whole input to ONE partition)
  * except the two declared dimension-table quantile keys. PlanAuditSpec
  * pins precise shapes for the load-bearing keys; this sweep catches
  * the silent catastrophe class on every OTHER key: a future edit that
  * drops a join predicate (or a partitionBy) turns an O(n) shuffle
  * into an O(n²) product or a single-task sort — invisible at
  * sf0.001, fatal at 100 TB. Plans are built ONCE per key (and for
  * construction-eager keys, their prep jobs run) at the smallest tier;
  * nothing is fully executed.
  *
  * BroadcastNestedLoopJoin is NOT globally banned: the watermark /
  * quantile / vocabulary 1-row-scalar broadcasts are legitimate BNLJs
  * (bounded side provably ≤ a few rows). Those are individually
  * shape-pinned in PlanAuditSpec; banning them here would just force
  * noisier equivalents. But the SET of keys that plan one is a
  * contract, allowlisted below (r11) exactly like the single-partition
  * exchanges: a lost equi-predicate turns a hash join into a BNLJ
  * without ever producing a CartesianProduct, and only the allowlist
  * catches that O(n·m) degeneration on the other 130 keys.
  */
class GlobalPlanSweepSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    // constructing every key caches the dimension tables AND registers
    // tracked operator caches; the CacheManager is shared across every
    // suite on this SparkContext (cache lookups match by analyzed
    // plan), so drain on teardown rather than leak cached plans into
    // whoever runs next
    Memo.clear()
    spark.catalog.clearCache()
    super.afterAll()
  }

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  // q_stream_upsert: constructing it runs the whole 4-batch streaming
  // replay and its returned plan is just the final snapshot read — the
  // cost buys no coverage here (its join shape is pinned in
  // UpsertSinkSpec).
  private val unbuilt = Set("q_stream_upsert")

  // Built once, shared by every sweep below: QueryExecution is lazy,
  // so each check forces only the plan stage it needs.
  private lazy val plans: Seq[(String, QueryExecution)] =
    SparkEntry.queries.toSeq.collect {
      case (name, fn) if !unbuilt(name) =>
        name -> fn(spark, dir).queryExecution
    }

  /** One engine for the three physical-plan-fragment allowlist sweeps
    * (cartesian / single-partition exchange / nested-loop join): scan
    * every key's executedPlan for `fragment`, assert hits ⊆ `allowed`
    * (r11 review find — three hand-copied blocks consolidated). The
    * matching audit tools are graft.tools.{SinglePart,Bnlj}Probe. */
  private def assertFragmentAllowlisted(fragment: String,
                                        allowed: Set[String],
                                        what: String): Unit = {
    val offenders = plans.collect {
      case (name, qe) if !allowed(name) &&
        qe.executedPlan.toString.contains(fragment) => name
    }
    assert(offenders.isEmpty,
      s"keys grew an undeclared $what: ${offenders.mkString(", ")}")
  }

  test("no key's plan contains a CartesianProduct (declared cross join excepted)") {
    assertFragmentAllowlisted("CartesianProduct", Set("q_join_cross"),
      "cartesian product")
  }

  test("no key plans a global single-partition Window (declared dimension-table quantiles excepted)") {
    // q_win_ntile / q_win_percentrank: a total order over customer IS
    // the semantics (comment-argued at the operator: fine at dimension
    // size, a range-partitioned quantile at 100 TB). Everything else
    // must keep a partition spec on every window — losing one is the
    // WindowExec "No Partition Defined" funnel. Checked on the
    // optimized LOGICAL plan: one walk covers the whole tree with no
    // AQE wrapper in the way, and no physical planning re-runs.
    val globalByDesign = Set("q_win_ntile", "q_win_percentrank")
    val offenders = plans.collect {
      case (name, qe) if !globalByDesign(name) &&
        qe.optimizedPlan.collectFirst {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
        }.nonEmpty => name
    }
    assert(offenders.isEmpty,
      s"plans grew a global single-partition window: ${offenders.mkString(", ")}")
  }

  test("single-partition exchanges stay within the declared bounded-reduction set") {
    // The r10 SinglePartProbe audit found exactly 16 keys planning an
    // `Exchange SinglePartition`, each argued bounded (single-row
    // global aggregates, scalar watermark/threshold gates, ≤15-row hot
    // sets, the two declared global-window quantile keys). A blanket
    // ban was rejected then — there is no structural signal separating
    // a bounded reduction from a funnel — but the SET is a contract:
    // this sweep makes the probe's finding standing, so a future edit
    // that collapses some other key's shuffle into one partition (the
    // classic lost-distribution regression: a coalesce(1), a global
    // orderBy feeding an agg, a window losing its partitionBy AFTER
    // the optimizer) names itself here instead of surfacing at the
    // driver as a mystery slowdown. A NEW name must be argued bounded
    // in a comment and added; a DISAPPEARED name is fine (tighter plan,
    // subset assertion only).
    val allowed = Set(
      "q_agg_cms", "q_agg_global",                       // 1-row global aggs
      "q_climate_ensemble", "q_climate_pipeline",        // scalar ensemble stats
      "q_profile_checksum", "q_profile_expect", "q_profile_stats",
      "q_stream_session_closed", "q_stream_sliding_closed",
      "q_stream_tumbling_closed", "q_stream_watermark",  // scalar watermark gates
      "q_stream_join_left_closed",                       // r17: same 1-row wm gate
      "q_text_boilerplate",                              // ≤15-row hot-line set
      // r15: the decontam Bloom pre-filter's build side — a 1-row
      // BloomFilterAggregate inside the runtime-filter SCALAR SUBQUERY
      // (the InjectRuntimeFilter shape); bounded by numBits/8 ≈ 1 MiB
      "q_text_decontam", "q_text_decontam_apply",
      // r15: the k-means centroid fold — collect_list of ≤k (cid, cv)
      // rows into the ONE broadcast row the projection-argmin probes
      // (replaced the per-vector row_number window; bounded by k=8)
      "q_sample_semantic", "q_vec_ann_ivf_det", "q_vec_kmeans",
      "q_text_heavyhitters",                             // global top-k fold
      "q_text_tfidf",                                    // vocabulary gate
      // r17: 1-row scalar gates by construction — the LM's vocabulary
      // size V (one count_distinct row), the EOF chain's day count n
      // and global |a| max (one row each), and the drift report's two
      // slice totals. Each is a single-row aggregate cross-joined
      // into a projection, the watermark-gate shape.
      "q_text_lm_fluency", "q_climate_eof_pc", "q_profile_drift",
      "q_win_ntile", "q_win_percentrank")                // declared global windows
    assertFragmentAllowlisted("Exchange SinglePartition", allowed,
      "single-partition exchange")
  }

  test("nested-loop joins stay within the declared bounded-broadcast set") {
    // The r11 BnljProbe audit: exactly 19 keys plan a
    // BroadcastNestedLoopJoin, every one with a bounded broadcast side
    // — 1-row scalar gates (cms/expect/watermark/closed-stream), ≤15-row
    // hot sets (boilerplate), bounded vocab/top-k (tfidf/heavyhitters),
    // ≤k centroid / ≤50 query-vector broadcasts (vec family, semantic
    // sample), the bounded target grid (regrid idw/nearest), and the
    // two keys whose SEMANTICS are non-equi (cross, range). A dropped
    // equi-predicate on any OTHER key degenerates its hash join to a
    // BNLJ — never a CartesianProduct, so the cartesian sweep stays
    // silent — and this allowlist names it. New names must be argued
    // bounded; disappeared names are fine (subset assertion).
    val allowed = Set(
      "q_agg_cms", "q_profile_expect",                       // 1-row gates
      "q_climate_regrid_idw", "q_climate_regrid_nearest",    // bounded grid
      "q_join_cross", "q_join_range",                        // non-equi semantics
      "q_sample_semantic", "q_vec_kmeans", "q_vec_knn",      // ≤k centroids /
      "q_vec_ann_ivf", "q_vec_ann_ivf_det", "q_vec_ann_sq8", //  ≤50 queries
      "q_stream_session_closed", "q_stream_sliding_closed",
      "q_stream_tumbling_closed", "q_stream_watermark",      // scalar watermarks
      "q_stream_join_left_closed",                           // r17: 1-row wm gate
      "q_text_boilerplate", "q_text_heavyhitters", "q_text_tfidf",
      // r17: the same 1-row scalar gates as the single-partition
      // allowlist — V / n / amax / slice totals broadcast as one-row
      // BNLJs into projections; every broadcast side is provably one
      // row by construction
      "q_text_lm_fluency", "q_climate_eof_pc", "q_profile_drift")
    assertFragmentAllowlisted("BroadcastNestedLoopJoin", allowed,
      "nested-loop join")
  }

  test("every oracled key tops out in a global Sort (the §2.8 rule-1 emission order)") {
    // The driver hashes VALUES but the stability proof (and the
    // roundtrip sinks) depend on every dump being emitted in one
    // deterministic total order — which each query declares as a final
    // global orderBy. That discipline lived only in convention (and in
    // tools/stability_check.py's empirical proof); this pins it
    // structurally on the ANALYZED plan, where the optimizer can't
    // have collapsed the sort. Limit/Project wrappers are transparent:
    // topk keys sort THEN limit, and a trailing select doesn't disturb
    // row order.
    import org.apache.spark.sql.catalyst.plans.logical._
    @annotation.tailrec
    def topSort(p: LogicalPlan): Boolean = p match {
      case s: Sort        => s.global
      case l: GlobalLimit => topSort(l.child)
      case l: LocalLimit  => topSort(l.child)
      case pr: Project    => topSort(pr.child)
      case _              => false
    }
    // a provably single-row result (global aggregate, or a join of
    // such — the profile keys' 1×1 crossJoin shape) has nothing to
    // order; requiring a sort there would only add a no-op exchange
    def singleRow(p: LogicalPlan): Boolean = p match {
      case a: Aggregate => a.groupingExpressions.isEmpty
      case j: Join      => singleRow(j.left) && singleRow(j.right)
      case pr: Project  => singleRow(pr.child)
      case _            => false
    }
    val oracled = SparkEntry.oracleSql.keySet
    val offenders = plans.collect {
      case (name, qe) if oracled(name) && !topSort(qe.analyzed) &&
        !singleRow(qe.analyzed) => name
    }
    assert(offenders.isEmpty,
      s"oracled keys without a final global orderBy: ${offenders.mkString(", ")}")
  }
}
