package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape pins — the properties that make the same code
  * scale to 100 TB. Each assertion names the plan feature it guards:
  * losing it wouldn't fail correctness tests, only blow up at scale,
  * so it must be guarded explicitly. */
class PlanAuditSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters and projection reach the parquet scan (pushdown + pruning)") {
    // raw read, not Tables: a cached relation hides the scan
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 45.0)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$p")
  }

  test("q_source_grid_subset: GridBounds atoms reach the netcdf scan as PushedFilters, no residual Filter") {
    // the bounded grid read's pruning is Catalyst pushdown: every
    // lat/lon atom of GridBounds.predicate (infinite ends included) is
    // accepted as exact, so the physical plan filters nothing itself
    val p = plan(SparkEntry.queries("q_source_grid_subset")(spark, dir))
    assert(p.contains("PushedFilters: ["), s"no netcdf scan pushdown:\n$p")
    for (atom <- Seq("GreaterThanOrEqual(lat,5.0)", "LessThanOrEqual(lat,Infinity)",
                     "GreaterThanOrEqual(lon,-Infinity)", "LessThanOrEqual(lon,125.0)"))
      assert(p.contains(atom), s"$atom not pushed:\n$p")
    assert(!p.contains("Filter ("), s"expected no residual Filter:\n$p")
  }

  test("q_source_zarr_subset: GridBounds atoms reach the netcdf scan as PushedFilters, no residual Filter") {
    // the Zarr store is one member of the same scan: its bounded read
    // prunes through the pushed atoms, not a Filter above the scan
    val p = plan(SparkEntry.queries("q_source_zarr_subset")(spark, dir))
    assert(p.contains("PushedFilters: ["), s"no netcdf scan pushdown:\n$p")
    assert(p.contains("grid.zarr"), s"not a scan of the Zarr store:\n$p")
    for (atom <- Seq("GreaterThanOrEqual(lat,5.0)", "LessThanOrEqual(lat,Infinity)",
                     "GreaterThanOrEqual(lon,-Infinity)", "LessThanOrEqual(lon,125.0)"))
      assert(p.contains(atom), s"$atom not pushed:\n$p")
    assert(!p.contains("Filter ("), s"expected no residual Filter:\n$p")
  }

  test("small-side joins broadcast (no shuffle of the fact table)") {
    val p = plan(SparkEntry.queries("q_join_broadcast")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("order-by-limit plans as TakeOrderedAndProject (no full sort)") {
    val p = plan(SparkEntry.queries("q_limit_topk")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"full sort planned:\n$p")
  }

  test("expression pipeline stays inside whole-stage codegen") {
    val p = compiledPlan(SparkEntry.queries("q_project_expr")(spark, dir))
    // codegen'd operators print with the "*(n)" stage prefix: the key's
    // own Project (the one computing the CASE band) must carry it
    assert(inCodegen(p, " AS band#"), s"the key's Project is outside codegen:\n$p")
  }

  test("groupBy aggregates map-side first (partial + final HashAggregate)") {
    val p = plan(SparkEntry.queries("q_agg_groupby")(spark, dir))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation:\n$p")
  }

  test("banded interval join plans as an equi-join, never a nested loop") {
    // the whole point of the banding rewrite: a big-big interval join
    // must not fall back to BroadcastNestedLoopJoin (fact × fact)
    val p = plan(SparkEntry.queries("q_join_interval")(spark, dir))
    assert(!p.contains("BroadcastNestedLoop"), s"interval join is a nested loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"no hash-keyed join:\n$p")
  }

  test("no graded query windows over a low-cardinality partition key") {
    // the r2-verdict funnel class: Window.partitionBy(hour) has 24
    // groups → 1/24th of the table through ONE sort task at scale.
    // q_climate_anomaly now uses groupBy+broadcast; this pins it.
    val p = plan(SparkEntry.queries("q_climate_anomaly")(spark, dir))
    assert(!p.contains("Window"), s"anomaly regressed to a window funnel:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"hourly means not broadcast:\n$p")
  }

  test("qmap rank windows partition by the FULL group key (r16 verdict #8: " +
    "group count scales with input, no per-group sort funnel)") {
    // quantileMap's per-side rank windows are its only sorts; the
    // graded key deliberately carries (event_type × 50 bands) so no
    // single group funnels. This pins that every Window in the plan
    // keeps `band` (the input-scaling component) in its partition
    // spec — dropping it to event_type alone (5 groups) would pass
    // correctness and die at decade scale.
    val p = plan(SparkEntry.queries("q_climate_qmap")(spark, dir))
    val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.nonEmpty, s"qmap lost its rank windows:\n$p")
    winLines.foreach(l => assert(l.contains("band"),
      s"a qmap window dropped `band` from its partition spec: $l"))
  }

  test("bucketed co-located join: SortMergeJoin with ZERO Exchange (r17 — " +
    "the pre-paid-shuffle layout; losing it re-shuffles both facts per query)") {
    val j = sources.Sources.bucketedJoin(spark, dir)
    val p = plan(j)
    assert(p.contains("SortMergeJoin"), s"bucketed join lost SMJ:\n$p")
    // typed detection (ops.Bucketing walks AQE/reuse/subquery wrappers),
    // not string matching
    assert(ops.Bucketing.isShuffleFree(j),
      s"bucketed join shuffles — the bucket layout is being ignored:\n$p")
    // and the rewrite lost no rows vs the base tables' join
    val base = Tables.orders(spark, dir).join(Tables.lineitem(spark, dir),
      col("o_orderkey") === col("l_orderkey"))
    assert(j.count() == base.count())
  }

  test("colloc top-k fuses into TakeOrdered and broadcasts the unigram joins " +
    "(r17 — losing either re-sorts or re-shuffles the bigram table per query)") {
    val p = plan(SparkEntry.queries("q_text_colloc")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"colloc full-sorts:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"a unigram-count join stopped broadcasting:\n$p")
  }

  test("spell + sessionize windows partition by their full series keys " +
    "(r17 — the qmap group-cardinality contract)") {
    val ps = plan(SparkEntry.queries("q_climate_spell")(spark, dir))
    ps.linesIterator.filter(_.contains("Window")).foreach(l =>
      assert(l.contains("band"), s"a spell window dropped `band`: $l"))
    val pz = plan(SparkEntry.queries("q_win_sessionize")(spark, dir))
    pz.linesIterator.filter(_.contains("Window")).foreach(l =>
      assert(l.contains("user_id"), s"a sessionize window lost user_id: $l"))
  }

  test("tfidf vocabulary gate: oversized vocab drops the broadcast HINT, same result") {
    val docs = Tables.documents(spark, dir)
    val small = ops.Text.tfIdfTopK(docs, k = 3) // vocab ≤ default 1M → hinted broadcast
    assert(plan(small).contains("BroadcastHashJoin"),
      s"small vocab should broadcast:\n${plan(small)}")
    // Above the gate the hint is dropped; Catalyst then picks the join
    // from size stats. Simulate the at-scale outcome (dft over the
    // autoBroadcastJoinThreshold) by disabling auto-broadcast: the
    // un-hinted dft join must become a shuffled join on term, while the
    // still-hinted corpus-count broadcast is unaffected by the conf.
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val forced = ops.Text.tfIdfTopK(docs, k = 3, broadcastVocabMax = 1L)
      val forcedP = plan(forced)
      assert(!forcedP.contains("BroadcastHashJoin"),
        s"dft join still broadcasts with the hint dropped:\n$forcedP")
      assert(forcedP.contains("SortMergeJoin") || forcedP.contains("ShuffledHashJoin"),
        s"no shuffled join on term:\n$forcedP")
      val a = small.orderBy("doc_id", "rn").collect().toSeq
      val b = forced.orderBy("doc_id", "rn").collect().toSeq
      assert(a == b, "gate changed tfidf results")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("lateral top-k decorrelates with a map-side partial WindowGroupLimit") {
    // the nation key has only 25 values — without the PARTIAL group
    // limit (≤k rows per group per input partition BEFORE the
    // exchange) the decorrelated window would funnel each nation's
    // customers through one sort task at scale
    val p = plan(SparkEntry.queries("q_join_lateral")(spark, dir))
    // single-line match: an unrelated operator printing "Partial"
    // elsewhere in the plan must not satisfy this pin
    assert(p.linesIterator.exists(l =>
        l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"no map-side group limit:\n$p")
  }

  test("runtime bloom filter: selective dim side injects a fact-scan reduction") {
    // the at-scale semi-join reduction: a filtered small side builds a
    // bloom filter that prunes the fact scan BEFORE the shuffle. Local
    // inputs are below the application-side threshold, so lower it (and
    // force a shuffle join — a broadcast join subsumes the filter).
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set(keys(0), "true")
      spark.conf.set(keys(1), "0")
      spark.conf.set(keys(2), "-1")
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val o = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(o, li("l_orderkey") === o("o_orderkey"))
      assert(j.queryExecution.optimizedPlan.toString.toLowerCase.contains("bloom"),
        "no runtime bloom filter injected")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("decontam apply is an anti-join, and SimHash k-banding never nests loops") {
    // the removal path must stay a hash anti-join on doc_id (one
    // id-keyed pass over the corpus); the Hamming≤k candidate join must
    // stay an equi-join on (band, bval) — a theta/nested-loop fallback
    // is the O(n²) failure both operators exist to avoid
    val pa = plan(SparkEntry.queries("q_text_decontam_apply")(spark, dir))
    assert(pa.contains("LeftAnti"), s"apply step lost its anti-join:\n$pa")
    val pk = plan(SparkEntry.queries("q_dedup_simhash_k")(spark, dir))
    assert(!pk.contains("BroadcastNestedLoop") && !pk.contains("CartesianProduct"),
      s"simhash banding degenerated to an all-pairs join:\n$pk")
  }

  test("map-family and argmax keys aggregate partial+final with no window") {
    // both are two-level aggregations; a Window sneaking in (e.g. a
    // collect-then-rank rewrite) would funnel per-user rows at scale
    val pm = plan(SparkEntry.queries("q_fn_map")(spark, dir))
    assert(!pm.contains("Window"), s"q_fn_map grew a window:\n$pm")
    val px = plan(SparkEntry.queries("q_agg_argmax")(spark, dir))
    assert(!px.contains("Window"), s"q_agg_argmax grew a window:\n$px")
    assert("HashAggregate".r.findAllIn(px).size >= 2,
      s"argmax lost its partial aggregation:\n$px")
  }

  test("custom codegen expressions don't break the codegen span") {
    // cosine_sim casts its inputs itself; a `transform` lambda here
    // would be CodegenFallback and keep the Project out of every span
    val e = Tables.embeddings(spark, dir)
    val df = e.select(graft.expressions.VectorExpressions.cosine_sim(
      col("embedding"), col("embedding")).as("c"))
    assert(compiledPlan(df).contains("*("))
  }

  test("CMS sketch aggregates partial+final (fixed buffer, no term shuffle)") {
    // the 100 TB claim: the sketch side ships one 80 KB buffer per
    // partition through ObjectHashAggregate partial/final — losing the
    // partial (e.g. a SortAggregate fallback forced by a non-mergeable
    // rewrite) would shuffle raw term rows instead
    import graft.expressions.CountMinAgg.cms_sketch
    val terms = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .select(xxhash64(col("term")).as("h"))
    val p = plan(terms.agg(cms_sketch(col("h"), 5, 2048).as("sk")))
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"cms_sketch lost its partial ObjectHashAggregate:\n$p")
    // and the graded key broadcasts the 1-row sketch, never shuffling it
    val pk = plan(SparkEntry.queries("q_agg_cms")(spark, dir))
    assert(pk.contains("BroadcastNestedLoopJoin") || pk.contains("BroadcastExchange"),
      s"q_agg_cms sketch side not broadcast:\n$pk")
  }

  test("detrend and MAD keys stay two-pass broadcast shapes; url dedup aggregates partial+final") {
    // the r5 keys must keep the de-funneled anomaly shape: per-group
    // statistics via partial+final aggregation, broadcast back — a
    // Window over event_type (5 groups) would funnel 20% of the table
    // through one sort task at scale
    val pd = plan(SparkEntry.queries("q_climate_detrend")(spark, dir))
    assert(!pd.contains("Window"), s"detrend grew a window funnel:\n$pd")
    assert(pd.contains("BroadcastHashJoin"), s"trend fit not broadcast:\n$pd")
    val pm = plan(SparkEntry.queries("q_profile_mad")(spark, dir))
    assert(!pm.contains("Window"), s"MAD grew a window funnel:\n$pm")
    assert(pm.contains("BroadcastHashJoin"), s"median/MAD not broadcast:\n$pm")
    val pu = plan(SparkEntry.queries("q_dedup_url")(spark, dir))
    assert(!pu.contains("Window") && !pu.contains("Join"),
      s"url dedup grew a window or join:\n$pu")
    assert("HashAggregate".r.findAllIn(pu).size >= 2,
      s"url dedup lost its partial aggregation:\n$pu")
  }

  test("outlier quartile gate: high cardinality swaps exact percentile for a bounded sketch") {
    // exact Percentile's buffer is a value→count map (size ∝ distinct
    // values per group — unbounded on a continuous domain at 100 TB);
    // iqrFences gates it on an approx_count_distinct pre-pass. Assert
    // both gate outcomes and, below the gate, equality with the
    // inline exact form (the tfidf-gate test's shape).
    val ev = Tables.events(spark, dir).withColumn("vm", Det.micros(col("value")))
    val exact = ops.Profiling.iqrFences(ev, "event_type", "vm")
    val pe = exact.queryExecution.analyzed.toString
    assert(!pe.contains("approx_percentile"),
      s"default gate should keep the exact percentile:\n$pe")
    assert(pe.contains("percentile"), s"no percentile aggregate at all:\n$pe")
    val forced = ops.Profiling.iqrFences(ev, "event_type", "vm", exactDistinctMax = 1L)
    val pf = forced.queryExecution.analyzed.toString
    assert(pf.contains("approx_percentile"), s"gate did not fire on a 1-distinct cap:\n$pf")
    val iqr = col("q3") - col("q1")
    val inline = ev.groupBy(col("event_type"))
      .agg(expr("percentile(vm, 0.25)").as("q1"),
        expr("percentile(vm, 0.75)").as("q3"))
      .select(col("event_type"), (col("q1") - iqr * 1.5).as("lo"),
        (col("q3") + iqr * 1.5).as("hi"))
    val a = exact.orderBy("event_type").collect().toSeq
    val b = inline.orderBy("event_type").collect().toSeq
    assert(a == b, "gated exact fences differ from the inline exact form")
  }

  test("r6 graded twins keep their scale shapes: capped anti-joins, broadcast probes, no cartesian") {
    // the md5 dedup twins' cap must be the production anti-join (a
    // dropped cap silently reverts to the uncapped O(n²) hazard);
    // inspect the un-memoized builder — the shipped key returns the
    // cached result whose plan is an InMemory scan
    val sh = ops.Dedup.shingles(Tables.documents(spark, dir))
      .select(col("doc_id"), col("sh"))
    val pm = plan(ops.Text.minHashCandidatesMd5From(ops.Text.hashShingles(sh)))
    assert(pm.contains("LeftAnti"), s"minhash md5 cap anti-join missing:\n$pm")
    assert(!pm.contains("CartesianProduct"), s"minhash md5 went cartesian:\n$pm")
    val ps = plan(ops.Text.simHashPairsMd5From(ops.Text.hashShingles(sh)))
    assert(ps.contains("LeftAnti"), s"simhash md5 cap anti-join missing:\n$ps")
    assert(!ps.contains("CartesianProduct"), s"simhash md5 went cartesian:\n$ps")
    // ANN twins: k-row centroid/plane structures ride broadcasts; the
    // candidate joins are equi-joins — never a cartesian pair scan
    val pl = plan(SparkEntry.queries("q_vec_ann_lsh_md5")(spark, dir))
    assert(!pl.contains("CartesianProduct"), s"ann lsh md5 went cartesian:\n$pl")
    assert(pl.contains("LeftAnti"), s"ann lsh md5 cap anti-join missing:\n$pl")
    val pi = plan(SparkEntry.queries("q_vec_ann_ivf_det")(spark, dir))
    assert(!pi.contains("CartesianProduct"), s"ann ivf det went cartesian:\n$pi")
    assert(pi.contains("BroadcastNestedLoopJoin") || pi.contains("BroadcastHashJoin"),
      s"ivf probe lost its broadcast centroid join:\n$pi")
    // ensemble alignment: the member-count total is a 1-row broadcast
    // cross, the common-cell filter a semi join — no shuffle of the
    // union by anything but the cell key
    val pe = plan(SparkEntry.queries("q_climate_ensemble")(spark, dir))
    assert(pe.contains("LeftSemi"), s"alignMembers lost its semi join:\n$pe")
    assert(!pe.contains("CartesianProduct"), s"ensemble went cartesian:\n$pe")
  }

  test("climate pipeline chain keeps its 100 TB shape (r8 verdict #6)") {
    // the 9-stage load→homogenize→subset→season→regrid→resample→
    // convert→align→anomaly composition: each property here is one
    // that correctness tests can't see but scale would punish
    val p = plan(SparkEntry.queries("q_climate_pipeline")(spark, dir))
    // 1. no unbounded join anywhere in the chain — alignMembers' member
    //    count is a 1-ROW broadcast cross (BroadcastHashJoin Cross),
    //    never a nested-loop or cartesian pair scan
    assert(!p.contains("CartesianProduct"), s"pipeline went cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pipeline grew a nested-loop join:\n$p")
    // 2. alignMembers runs over the CACHED pre-align grid: its reads
    //    (per-cell counts + semi base — the r11 declaredMembers form
    //    has NO member-count read at all, one fewer than inference)
    //    must be InMemoryTableScans of the few-thousand-row reduced
    //    grid, not re-executions of both members' full event scans
    assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
      s"pre-align grid not cached — alignMembers re-executes the member build:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"common-cell join not broadcast:\n$p")
    assert(p.contains("LeftSemi"), s"alignMembers lost its semi join:\n$p")
    // 3. the events scans are column-pruned: the chain needs only
    //    event_id/ts/user_id/value — props (the wide column) must
    //    never reach a scan
    val scans = p.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.nonEmpty && scans.forall(!_.contains("props")),
      s"pipeline scan reads the wide props column:\n$p")
    // 4. member build + regrid + resample aggregate map-side first
    assert(p.contains("partial_count(distinct"),
      s"member-count agg lost its partial phase:\n$p")
    // 5. the terminal anomaly window partitions by the FULL cell key
    //    (dataset, month, lat, lon) — not a month-only funnel that
    //    would drag every cell through ≤12 sort tasks at scale
    val winSpec = p.linesIterator.find(_.contains("windowspecdefinition"))
    assert(winSpec.exists(l => l.contains("lat") && l.contains("lon")),
      s"anomaly window regressed to a low-cardinality partition key:\n$p")
    // 6. shuffle budget: 17 Exchange nodes in the tree STRING — the
    //    printed count triple-counts the cached subtree (each of the 3
    //    InMemoryTableScans prints its InMemoryRelation's cachedPlan;
    //    those shuffles execute ONCE, on materialization). A later
    //    edit that breaks aggregate fusion or the align-boundary cache
    //    shows up here as a count jump, not as a slow night at 100 TB.
    val nShuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") || l.contains("Exchange rangepartitioning")
        || l.contains("Exchange SinglePartition"))
    assert(nShuffles <= 17, s"pipeline shuffle count grew to $nShuffles (>17):\n$p")
  }

  test("q_stream_tumbling_closed: watermark scalar broadcasts, agg is partial+final") {
    val p = plan(SparkEntry.queries("q_stream_tumbling_closed")(spark, dir))
    // the watermark is a 1-row broadcast onto the windowed agg — the
    // closed-window filter must never shuffle the agg a second time
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"watermark scalar not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"watermark join went cartesian:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"tumbling agg lost its partial phase:\n$p")
  }

  test("closed session/sliding keys: watermark scalar broadcasts, no re-shuffle") {
    // same contract as the tumbling_closed pin: the 1-row watermark
    // joins onto the aggregate as a broadcast, never a cartesian, and
    // the closed filter must not cost a second shuffle of the agg
    Seq("q_stream_session_closed", "q_stream_sliding_closed").foreach { k =>
      val p = plan(SparkEntry.queries(k)(spark, dir))
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$k watermark scalar not broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$k watermark join went cartesian:\n$p")
    }
    // the sliding agg keeps its partial phase (session agg rides a
    // window, so the partial+final pin applies to sliding only)
    val ps = plan(SparkEntry.queries("q_stream_sliding_closed")(spark, dir))
    assert("HashAggregate".r.findAllIn(ps).size >= 2,
      s"sliding agg lost its partial phase:\n$ps")
  }

  test("PII keys are one-scan partial+final aggregation / pure projection") {
    val pd = plan(SparkEntry.queries("q_text_pii")(spark, dir))
    assert(!pd.contains("Window") && !pd.contains("Join"),
      s"q_text_pii grew a window or join:\n$pd")
    assert("HashAggregate".r.findAllIn(pd).size >= 2,
      s"q_text_pii lost its partial aggregation:\n$pd")
    val pr = plan(SparkEntry.queries("q_text_redact")(spark, dir))
    assert(!pr.contains("Join"), s"q_text_redact grew a join:\n$pr")
  }

  test("sequence packing: the (key, seq_id) aggregate reuses the window's shuffle") {
    // the scale property: ONE hash exchange on the pack key feeds the
    // running-sum window AND the per-sequence aggregate (grouping keys
    // (lang, seq_id) ⊇ partitioning key lang, so Catalyst plans the
    // partial+final agg without a second hash exchange); the only other
    // exchange is the terminal presentation orderBy's range partition
    val df = SparkEntry.queries("q_pack_sequences")(spark, dir)
    val ex = ops.Bucketing.shuffleExchanges(df)
    assert(ex.size == 2, s"packing plan grew a shuffle:\n${plan(df)}")
    assert(!plan(df).contains("Join"), s"packing grew a join:\n${plan(df)}")
    // the graded production form keeps the SAME 2-shuffle shape — the
    // md5 shard key is a pure projection, so sharding must not add an
    // exchange (1024-way sharding with an extra shuffle per shard
    // round-trip would be a 100 TB regression)
    val dfs = SparkEntry.queries("q_pack_sharded")(spark, dir)
    assert(ops.Bucketing.shuffleExchanges(dfs).size == 2,
      s"sharded packing plan grew a shuffle:\n${plan(dfs)}")
    assert(!plan(dfs).contains("Join"),
      s"sharded packing grew a join:\n${plan(dfs)}")
  }

  test("hash split: join-free, window-free, partial+final aggregate only") {
    // the split itself is a pure projection; the graded summary adds
    // one agg exchange + the orderBy range exchange, nothing else
    val df = SparkEntry.queries("q_sample_split")(spark, dir)
    val p = plan(df)
    assert(!p.contains("Join") && !p.contains("Window"),
      s"split plan grew a join/window:\n$p")
    assert(ops.Bucketing.shuffleExchanges(df).size == 2,
      s"split plan grew a shuffle:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"split lost its partial aggregation:\n$p")
  }

  test("SQ8 quantization is a pure projection; quantized search broadcasts the query side") {
    // quantize: no join, no window, no aggregation — the only exchange
    // is the terminal presentation orderBy's range partition
    val dfq = SparkEntry.queries("q_vec_quantize")(spark, dir)
    val pq = plan(dfq)
    assert(!pq.contains("Join") && !pq.contains("Window"),
      s"quantize plan grew a join/window:\n$pq")
    assert(ops.Bucketing.shuffleExchanges(dfq).size == 1,
      s"quantize plan grew a shuffle beyond the output sort:\n$pq")
    // search: the 10-query side must broadcast (knn's pinned shape) —
    // a non-broadcast cartesian here would shuffle the candidate
    // stream at 100 TB. Assert on the SIDE, not mere presence of a
    // BroadcastExchange: a regression that broadcasts the large
    // candidate stream would still contain one (r9 advice)
    val exec = SparkEntry.queries("q_vec_ann_sq8")(spark, dir)
      .queryExecution.executedPlan
    val ps = exec.toString
    assert(!ps.contains("CartesianProduct"), s"sq8 search degenerated:\n$ps")
    val bx = exec.collect {
      case b if b.getClass.getSimpleName.startsWith("BroadcastExchange") => b
    }
    assert(bx.nonEmpty, s"sq8 search lost its broadcast:\n$ps")
    bx.foreach { b =>
      val names = b.output.map(_.name)
      assert(names.contains("q_id") && !names.contains("c_id"),
        s"sq8 search broadcasts the wrong side (${names.mkString(",")}):\n$ps")
    }
  }

  test("r17 rewrites can't silently regress (r18, VERDICT r17 #8): one " +
    "events pass for the member splits and bilinear scatter; lm_fluency " +
    "keeps the merge-hinted stream join") {
    import org.apache.spark.sql.execution.FormattedMode
    def formatted(key: String): String =
      SparkEntry.queries(key)(spark, dir)
        .queryExecution.explainString(FormattedMode)
    def eventsScans(p: String): Int =
      "events\\.parquet".r.findAllIn(p).size
    // pre-r17 shapes: ensemble/pipeline 2 scans (filter+groupBy per
    // member + union), bilinear 4 (corner self-join); the r17 rewrites
    // are one aggregate each — a revert doubles/quadruples the count
    for (k <- Seq("q_climate_ensemble", "q_climate_pipeline",
                  "q_climate_regrid_bilinear")) {
      val p = formatted(k)
      assert(eventsScans(p) == 1,
        s"$k reads the events table ${eventsScans(p)}× (r17 rewrite reverted?):\n$p")
    }
    // q_profile_mad: one scan in the memoized deviation-cache build +
    // one for the exact-gate probe — the pre-r17 shape had 3
    Memo.clear() // count the cache BUILD's scan too
    val pm = formatted("q_profile_mad")
    assert(eventsScans(pm) <= 2,
      s"q_profile_mad reads the events table ${eventsScans(pm)}×:\n$pm")
    Memo.clear()
    // lm_fluency: the corpus-sized bigram stream must keep its ONE
    // merge-hinted join — the pre-r17 plan had zero SortMergeJoin
    // (the planner broadcast the exploded corpus side, an OOM at
    // crawl scale)
    val pl = formatted("q_text_lm_fluency")
    assert(pl.contains("SortMergeJoin"),
      s"lm_fluency lost its merge-hinted stream join:\n$pl")
  }
}
