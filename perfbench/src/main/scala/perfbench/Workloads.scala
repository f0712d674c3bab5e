package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap

/** The three workloads, built from the per-module `queries` maps (not
  * from `SparkEntry.queries`, whose `q_scan_project` entry is wrapped
  * in the md5-family warm-up). Together they must hold every key of
  * `SparkEntry.queries` exactly once; `check` says where they do not.
  * A run measures the workload's `measured` keys, about half of them. */
object Workloads {
  type Query = (SparkSession, String) => DataFrame

  val modules: ListMap[String, Map[String, Query]] = ListMap(
    "Relational" -> graft.ops.Relational.queries,
    "Joins" -> graft.ops.Joins.queries,
    "Windows" -> graft.ops.Windows.queries,
    "Functions" -> graft.ops.Functions.queries,
    "Profiling" -> graft.ops.Profiling.queries,
    "Text" -> graft.ops.Text.queries,
    "TextAnalysis" -> graft.ops.TextAnalysis.queries,
    "Dedup" -> graft.ops.Dedup.queries,
    "Vectors" -> graft.ops.Vectors.queries,
    "Ann" -> graft.ops.Ann.queries,
    "Multimodal" -> graft.ops.Multimodal.queries,
    "Climate" -> graft.ops.Climate.queries,
    "Streaming" -> graft.ops.Streaming.queries,
    "Sources" -> graft.sources.Sources.queries)

  val workloads: ListMap[String, Seq[String]] = ListMap(
    "relational" -> Seq("Relational", "Joins", "Windows", "Functions", "Profiling"),
    "llm_pipeline" -> Seq("Text", "TextAnalysis", "Dedup", "Vectors", "Ann", "Multimodal"),
    "climate_io" -> Seq("Climate", "Streaming", "Sources"))

  /** Problems with a partition of `all` into workloads of modules: a
    * module in no or several workloads, a key in several modules, a key
    * of `all` in none, or a key that is not in `all`. Empty when every
    * key runs in exactly one workload. */
  def check(workloads: Map[String, Seq[String]], moduleKeys: Map[String, Set[String]],
            all: Set[String]): Seq[String] = {
    val placed = workloads.toSeq.flatMap { case (w, ms) => ms.map(_ -> w) }
    val moduleErrors = moduleKeys.keys.toSeq.sorted.flatMap { m =>
      placed.count(_._1 == m) match {
        case 1 => Nil
        case n => Seq(s"module $m is in $n workloads")
      }
    } ++ placed.map(_._1).distinct.filterNot(moduleKeys.contains)
      .map(m => s"workload module $m has no queries map")
    val owners = moduleKeys.toSeq.flatMap { case (m, ks) => ks.map(_ -> m) }.groupBy(_._1)
    val overlaps = owners.collect { case (k, ms) if ms.size > 1 =>
      s"key $k is in modules ${ms.map(_._2).sorted.mkString(", ")}"
    }.toSeq.sorted
    val run = placed.map(_._1).distinct.flatMap(m => moduleKeys.getOrElse(m, Set.empty)).toSet
    val missing = (all -- run).toSeq.sorted.map(k => s"key $k is in no workload")
    val extra = (owners.keySet -- all).toSeq.sorted
      .map(k => s"key $k is not in SparkEntry.queries")
    moduleErrors ++ overlaps ++ missing ++ extra
  }

  /** The keys a run measures: every other key of each module in name
    * order, starting with the first, as the modules stood when the
    * benchmark was fixed. A run of every key, a cold and a warm pass in
    * a fresh JVM, takes 60 to 85 s per workload on 4 cores, too long for
    * the runs a comparison of two versions needs. The list is fixed, so
    * that a key added later does not shift the sample between the two. */
  val measured: ListMap[String, Seq[String]] = ListMap(
    "relational" -> Seq(
      "q_agg_approx_hll", "q_agg_cms", "q_agg_distinct", "q_agg_groupby", "q_agg_having",
      "q_agg_hll_exact", "q_agg_moments", "q_agg_pivot", "q_agg_rollup", "q_agg_stats",
      "q_filter_pred", "q_fn_array", "q_fn_date", "q_fn_map", "q_fn_string", "q_fn_url",
      "q_join_anti", "q_join_asof_fwd", "q_join_asof_tol", "q_join_cross", "q_join_inner",
      "q_join_lateral", "q_join_multiway", "q_join_right", "q_limit_topk", "q_merge_scd2",
      "q_profile_checksum", "q_profile_expect", "q_profile_outliers", "q_sample_det",
      "q_scan_project", "q_set_except_all", "q_set_intersect_all", "q_set_union_all",
      "q_subq_correlated", "q_win_fill", "q_win_ntile", "q_win_range_frame", "q_win_running",
      "q_win_sliding", "q_win_value"),
    "llm_pipeline" -> Seq(
      "q_dedup_clusters", "q_dedup_clusters_md5", "q_dedup_embed", "q_dedup_minhash_md5",
      "q_dedup_simhash", "q_dedup_simhash_md5", "q_dedup_substring", "q_multimodal_decode",
      "q_multimodal_encode", "q_multimodal_frames_md5", "q_pack_bpe", "q_pack_sharded",
      "q_sample_semantic", "q_text_boilerplate", "q_text_clean", "q_text_decontam",
      "q_text_entropy", "q_text_fingerprint", "q_text_lang", "q_text_langid", "q_text_pii",
      "q_text_redact", "q_text_stats", "q_text_topterms", "q_vec_ann_ivf", "q_vec_ann_lsh",
      "q_vec_ann_lsh_md5", "q_vec_ann_sq8", "q_vec_kmeans", "q_vec_norm", "q_vec_pca_scores",
      "q_vec_quantize"),
    "climate_io" -> Seq(
      "q_climate_anomaly", "q_climate_climatology", "q_climate_detrend", "q_climate_eof",
      "q_climate_interp_na", "q_climate_pipeline", "q_climate_pipeline_nc", "q_climate_qmap",
      "q_climate_regrid_bilinear", "q_climate_regrid_idw", "q_climate_resample",
      "q_climate_season", "q_climate_spell", "q_climate_zonal", "q_source_catalog",
      "q_source_csv_roundtrip", "q_source_dsv2_agg_grouped", "q_source_dsv2_stream",
      "q_source_grid_subset", "q_source_jsonl_roundtrip", "q_source_orc_roundtrip",
      "q_source_zarr_roundtrip", "q_stream_dedup", "q_stream_join_left_closed",
      "q_stream_session_closed", "q_stream_sliding_closed", "q_stream_tumbling_closed",
      "q_stream_watermark"))

  /** Problems with a sample of measured keys: a key that is not in its
    * workload, or a module of the workload with no measured key. */
  def checkSample(workloads: Map[String, Seq[String]], moduleKeys: Map[String, Set[String]],
                  sample: Map[String, Seq[String]]): Seq[String] =
    workloads.toSeq.sortBy(_._1).flatMap { case (w, ms) =>
      val keys = sample.getOrElse(w, Nil)
      val outside = keys.filterNot(k => ms.exists(m => moduleKeys.getOrElse(m, Set.empty)(k)))
        .map(k => s"measured key $k is not in workload $w")
      val unmeasured = ms.filterNot(m => keys.exists(moduleKeys.getOrElse(m, Set.empty)))
        .map(m => s"module $m has no measured key in workload $w")
      outside ++ unmeasured
    }

  /** `check` and `checkSample` over the real modules and `SparkEntry.queries`. */
  def guard(): Seq[String] = {
    val moduleKeys = modules.map { case (m, q) => m -> q.keySet }
    check(workloads, moduleKeys, graft.SparkEntry.queries.keySet) ++
      checkSample(workloads, moduleKeys, measured)
  }

  /** The workload's measured (module, key, query) triples in the order
    * the seed gives: a seeded shuffle of the keys sorted by name. */
  def keys(workload: String, seed: Long): Seq[(String, String, Query)] = {
    val sample = measured(workload).toSet
    val sorted = workloads(workload).flatMap(m => modules(m).toSeq.collect {
      case (k, q) if sample(k) => (m, k, q)
    }).sortBy(_._2)
    new scala.util.Random(seed).shuffle(sorted)
  }
}
