package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5.2 cross-query invariants on sf0.001 — structural relations
  * that must hold between independent query results. */
class InvariantsSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("bench iteration order pins the unwrapped warm-up key q_scan_project first") {
    // SparkEntry pins q_scan_project first (JVM/codegen/table warm-up);
    // a refactor that silently reverts to plain alphabetical order
    // would smear that cost onto an arbitrary key again. The key is the
    // module's own function — no side-effect builds ride inside it —
    // and the rest follow in name order.
    val keys = SparkEntry.queries.keys.toSeq
    assert(keys.head == "q_scan_project")
    assert(keys.tail == keys.tail.sorted)
    assert(SparkEntry.queries("q_scan_project") eq ops.Relational.queries("q_scan_project"))
  }

  test("every declared query has either an oracle or a documented skip") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == Set("q_agg_approx_hll", "q_agg_cms", "q_dedup_minhash",
      "q_dedup_simhash", "q_dedup_simhash_k", "q_dedup_clusters",
      "q_vec_ann_lsh", "q_vec_ann_ivf",
      "q_text_fingerprint", "q_multimodal_decode", "q_multimodal_frames"))
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty)
  }

  test("the driver's entry flagship returns rows") {
    // the one contract line no other suite pins: the driver smoke-runs
    // SparkEntry.entry at sf0.001 and requires rows > 0
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("argmax ordering key stays unique (orderkey below the 10^6 multiplier)") {
    // q_agg_argmax's determinism rests on price_cents·10⁶ + o_orderkey
    // being collision-free, which requires o_orderkey < 10⁶. Assert it
    // on every fixture tier the harness grades, so a fixture scale-up
    // fails HERE instead of flaking the max_by tie-break downstream.
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val mx = Tables.orders(spark, d).agg(max("o_orderkey")).head().getLong(0)
      assert(mx < 1000000L, s"$d: max o_orderkey $mx breaks the uniqueness bound")
    }
  }

  test("semi ⊎ anti partitions customers") {
    val total = Tables.customer(spark, dir).count()
    assert(q("q_join_semi").count() + // has urgent order
      Tables.customer(spark, dir).join(
        Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti").count() == total)
  }

  test("rollup grand-total row equals global count") {
    val rollup = q("q_agg_rollup")
    val grand = rollup.filter(col("gid") === 3).select("cnt").head().getLong(0)
    assert(grand == Tables.lineitem(spark, dir).count())
  }

  test("union_all bag count = sum of both sides") {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT").count()
    val building = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").count()
    assert(q("q_set_union_all").count() == urgent + building)
  }

  test("running window final value equals the group total") {
    val running = q("q_win_running")
    val finalPerCust = running.groupBy("o_custkey")
      .agg(max("running_n").as("final_n"))
    val direct = Tables.orders(spark, dir).groupBy("o_custkey")
      .agg(count(lit(1)).as("n"))
    val bad = finalPerCust.join(direct, "o_custkey")
      .filter(col("final_n") =!= col("n")).count()
    assert(bad == 0)
  }

  test("topk-per-group is a prefix of the ranked output") {
    assert(q("q_win_topk_group").count() ==
      q("q_win_rank").filter(col("rn") <= 3).count())
  }

  test("k-means: a Lloyd iteration never increases total distortion") {
    // the textbook convergence law — assignment and recompute are both
    // distortion-non-increasing, so 2 iterations ≤ 1. The slack must
    // scale with the fixture AND cover both sides: each dist4 carries
    // up to 5e-5 rounding, so each dist4² is off by ≤ 2·dist·5e-5 ≈
    // 2e-4 (unit vectors ⇒ dist ≤ 2); i1 can read LOW by 2e-4·n while
    // i2 reads HIGH by the same, so the bound on measured i2−i1 is
    // 4e-4·n
    val e = Tables.embeddings(spark, dir)
    def inertia(iters: Int): Double =
      ops.Vectors.kmeansAssignments(e, k = 8, iters = iters)
        .agg(sum(col("dist4") * col("dist4"))).head().getDouble(0)
    val i1 = inertia(1)
    val i2 = inertia(2)
    val slack = 4e-4 * e.count()
    assert(i2 <= i1 + slack, s"distortion rose across an iteration: $i1 -> $i2")
    val m = ops.Vectors.kmeansAssignments(e, 8, 2)
    assert(m.count() == e.count(), "a vector is unassigned or double-assigned")
    assert(m.select("cid").distinct().count() <= 8)
  }

  test("rowDigest: byte-compatible with concat_ws on non-null inputs, NULL-propagating otherwise") {
    // the two claims of the r11 digest fix, pinned: (a) for non-null
    // inputs the interleaved-concat digest is bit-identical to the old
    // concat_ws form (every historical hash unchanged); (b) ANY null
    // input nulls the digest — matching the oracles' `||` chains, so
    // SUM/bit_xor skip the row identically on both engines
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)](
      (1L, "alpha"), (2L, ""), (3L, "with|pipe"), (4L, null),
      (5L, "café 中文"), (6L, " padded ")
    ).toDF("id", "s")
    val oldForm = conv(substring(md5(
      concat_ws("|", col("id").cast("string"), col("s"))), 1, 15), 16, 10)
      .cast("long")
    val got = df.select(col("id"), col("s"),
      ops.Profiling.rowDigest(col("id"), col("s")).as("d"), oldForm.as("old"))
      .collect()
    got.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(2),
        s"NULL input must null the digest (id=${r.getLong(0)})")
      else {
        assert(!r.isNullAt(2) && r.getLong(2) == r.getLong(3),
          s"digest diverged from the historical concat_ws bytes (id=${r.getLong(0)})")
      }
    }
    intercept[IllegalArgumentException](ops.Profiling.rowDigest())
  }

  test("table checksum is row-order and partitioning independent") {
    // the whole point of the XOR fold: any replica layout fingerprints
    // identically — recompute via the shared helper over a reshuffled,
    // re-ordered copy
    val ref = q("q_profile_checksum").head()
    val shuffled = ops.Profiling.xorFingerprint(
        Tables.orders(spark, dir)
          .repartition(7, col("o_custkey"))
          .sortWithinPartitions(col("o_orderkey").desc),
        col("o_orderkey").cast("string"),
        col("o_custkey").cast("string"),
        col("o_orderpriority"))
      .head()
    assert(ref == shuffled, s"checksum not layout-independent: $ref vs $shuffled")
    // and the empty-input fingerprint is (0, 0), not a NULL crash
    val empty = ops.Profiling.xorFingerprint(
        Tables.orders(spark, dir).filter(lit(false)),
        col("o_orderkey").cast("string"))
      .head()
    assert(empty.getLong(0) == 0L && empty.getLong(1) == 0L)
  }

  test("merge upsert obeys the row-count law and op partition") {
    // |result| = |base| − deletes + inserts, and the src flags
    // partition the output exactly as planted
    val base = Tables.part(spark, dir)
    val nBase = base.count()
    val nDel = base.filter(col("p_partkey") % 10 === 0).count()
    val nUpd = base.filter(col("p_partkey") % 10 >= 1 &&
      col("p_partkey") % 10 <= 3).count()
    val nIns = base.filter(col("p_partkey") % 10 === 7).count()
    val m = q("q_merge_upsert")
    assert(m.count() == nBase - nDel + nIns)
    assert(m.filter(col("src") === "D").count() == 0, "a delete survived")
    assert(m.filter(col("src") === "I").count() == nIns)
    assert(m.filter(col("src") === "U").count() == nUpd)
    assert(m.filter(col("src") === "=").count() == nBase - nDel - nUpd)
  }

  test("moments key agrees with Spark's population skewness/kurtosis") {
    // the key derives moments from exact integer power sums BECAUSE
    // the engines' built-ins disagree (population vs bias-corrected
    // sample estimators) — Spark's skewness/kurtosis ARE population
    // forms, so they must match ours to FP noise; kurtosis is offset
    // by 3 (Spark reports excess kurtosis)
    val got = q("q_agg_moments").collect()
      .map(r => r.getString(0) -> (r.getDouble(4), r.getDouble(5))).toMap
    val ref = Tables.lineitem(spark, dir)
      .withColumn("qc", Det.cents(col("l_quantity")))
      .groupBy(col("l_returnflag"))
      .agg(skewness(col("qc")).as("sk"), kurtosis(col("qc")).as("ku"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    got.foreach { case (flag, (sk, ku)) =>
      assert(math.abs(sk - ref(flag)._1) < 1e-3, s"$flag skew: $sk vs ${ref(flag)._1}")
      assert(math.abs(ku - (ref(flag)._2 + 3.0)) < 1e-3,
        s"$flag kurt: $ku vs excess ${ref(flag)._2}")
    }
  }

  test("forward as-of never matches earlier; backward never later") {
    // direction check on the second-truncated output strings (the
    // fixed-width format compares chronologically): a strictly-later
    // micros match can truncate to an EQUAL second string, so equality
    // is allowed — only an inverted match is a bug
    val fwd = q("q_join_asof_fwd")
      .filter(col("signup_ts").isNotNull && col("signup_ts") < col("purchase_ts"))
      .count()
    assert(fwd == 0, "a forward as-of match precedes its purchase")
    val bwd = q("q_join_asof")
      .filter(col("signup_ts").isNotNull && col("signup_ts") > col("purchase_ts"))
      .count()
    assert(bwd == 0, "a backward as-of match follows its purchase")
  }

  test("detrend residuals are OLS-orthogonal: zero mean per group") {
    // sum of OLS residuals is exactly 0 by the normal equations; the
    // graded key rounds each residual to 4 dp, so the per-group MEAN
    // can drift by at most the rounding half-grain (5e-5) — a 1e-3
    // bound catches a wrong slope/intercept by orders of magnitude
    val bad = q("q_climate_detrend").groupBy(col("event_type"))
      .agg(avg(col("resid")).as("m"))
      .filter(abs(col("m")) > 1e-3).count()
    assert(bad == 0, "a group's residual mean is far from 0 — bad fit")
  }

  test("url dedup groups are 3-4 strong and never a unique-path singleton") {
    // ids 4g..4g+3 plant 4 variants of page g; at most one of any 4
    // consecutive ids is ≡0 (mod 5) and diverted to a unique path, so
    // every surviving group has 3 or 4 members — and no '/only' URL
    // (the planted singletons) may appear in a group
    val d = q("q_dedup_url")
    val sizes = d.select("n_dups").distinct().collect().map(_.getLong(0)).toSet
    assert(sizes.nonEmpty && sizes.subsetOf(Set(3L, 4L)), s"group sizes: $sizes")
    assert(d.filter(col("canon").contains("/only")).count() == 0,
      "a planted singleton survived the HAVING bar")
  }

  test("MAD outliers: nonnegative spread, flagged minority per group") {
    val rows = q("q_profile_mad").collect()
    assert(rows.length == 5) // one per event_type
    val total = Tables.events(spark, dir).count() / 5 // ~balanced types
    rows.foreach { r =>
      assert(r.getAs[Double]("mad") >= 0.0 && r.getAs[Double]("med") >= 0.0)
      assert(r.getAs[Long]("n_outliers") < total,
        s"${r.getString(0)}: outliers not a minority")
    }
  }

  test("ensemble alignment keeps exactly the common cells, non-vacuously") {
    // q_climate_ensemble's alignMembers must equal a direct
    // intersection of the two members' cell sets — and must actually
    // drop something (cells observed by only one member exist at
    // every tier), or the align stage is vacuous
    val ev = Tables.events(spark, dir)
      .withColumn("time", Det.tstr(date_trunc("day", col("ts"))))
      .withColumn("lat", floor(col("user_id") / 10).cast("long"))
      .withColumn("lon", hour(col("ts")).cast("long"))
    def cells(par: Int) = ev.filter(col("event_id") % 2 === par)
      .select("time", "lat", "lon").distinct()
    val common = cells(0).join(cells(1), Seq("time", "lat", "lon")).count()
    val out = q("q_climate_ensemble")
    assert(out.count() == common, "aligned rows != |ma cells ∩ mb cells|")
    assert(common < cells(0).count() + cells(1).count() - common,
      "alignment dropped nothing — the align stage is vacuous here")
    // and the bias column is the member difference, by reconstruction
    val bad = out.filter(abs(col("va") - col("vb") - col("bias")) > 1e-12).count()
    assert(bad == 0, "bias != va - vb somewhere")
  }

  test("boilerplate removal drops exactly the universal header per doc") {
    // header df = n (removed: 5n > n); footer df ≈ n/7 (kept: 5n/7 < n);
    // own-text df ≥ 1 but never > n/5 at any fixture tier — so every
    // doc must lose exactly one line, and none may vanish entirely
    val b = q("q_text_boilerplate")
    assert(b.count() == Tables.documents(spark, dir).count())
    assert(b.filter(col("n_removed") =!= 1L).count() == 0,
      "a doc lost more (or less) than the universal header")
  }

  test("embedding norms are ~1 (unit vectors)") {
    val norms = q("q_vec_norm").agg(min("l2_4"), max("l2_4")).head()
    assert(norms.getDouble(0) > 0.99 && norms.getDouble(1) < 1.01)
  }

  test("watermark drops exactly the last hour's events") {
    val e = Tables.events(spark, dir)
    val total = e.count()
    val kept = q("q_stream_watermark").agg(sum("cnt")).head().getLong(0)
    assert(kept < total) // something was late
    val maxTs = e.agg(max("ts")).head().getTimestamp(0)
    val late = e.filter(col("ts") > lit(maxTs) - expr("INTERVAL 1 HOUR")).count()
    assert(kept + late == total)
  }

  test("dedup keeps exactly one row per (user, event_type)") {
    val d = q("q_stream_dedup")
    assert(d.count() == d.select("user_id", "event_type").distinct().count())
    assert(d.count() == Tables.events(spark, dir)
      .select("user_id", "event_type").distinct().count())
  }

  test("exact-dup groups all share identical text") {
    // mini-docs fixture: two exact dups, one near-dup pair, one unrelated
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h", "en", "src0", 15L),
      (2L, "a b c d e f g h", "en", "src1", 15L), // exact dup of 1
      (3L, "a b c d e f g x", "en", "src2", 15L), // near dup
      (4L, "z z z z z z z z", "de", "src3", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val groups = docs.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("canonical"), count(lit(1)).as("members"))
      .filter(col("members") > 1).collect()
    assert(groups.length == 1 && groups(0).getAs[Long]("canonical") == 1L)
  }

  test("minhash signatures of identical texts are identical") {
    import spark.implicits._
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6", "en"),
      (2L, "w1 w2 w3 w4 w5 w6", "en"),
      (3L, "q1 q2 q3 q4 q5 q6", "en")).toDF("doc_id", "text", "lang")
    val sig = ops.Dedup.minHashSignatures(docs, 8).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toSeq).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("batch sessionization (r17): sessions partition every user's events, " +
    "intra-session gaps <= 30 min, inter-session gaps > 30 min") {
    val dir = "/root/testdata/sf0.001"
    val sessions = SparkEntry.queries("q_win_sessionize")(spark, dir).collect()
    val events = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).sorted }
    // Σ n_events reconstructs every user's event count (partition law)
    val perUser = sessions.groupBy(_.getLong(0))
    assert(perUser.keySet == events.keySet)
    perUser.foreach { case (u, ss) =>
      assert(ss.map(_.getLong(2)).sum == events(u).length)
      val sorted = ss.sortBy(_.getLong(1)) // by sid
      // session spans never overlap and boundary gaps exceed 30 min
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getLong(3) - a.getLong(4) > 1800000000L,
            s"user $u: sessions ${a.getLong(1)} and ${b.getLong(1)} " +
              "are separated by <= 30 min — not maximal")
        case _ => ()
      }
      // within a session every consecutive gap is <= 30 min: re-derive
      // from the raw events falling inside each [t_first, t_last]
      sorted.foreach { s0 =>
        val inside = events(u)
          .filter(t => t >= s0.getLong(3) && t <= s0.getLong(4))
        assert(inside.length == s0.getLong(2))
        inside.sliding(2).foreach {
          case Array(a, b) => assert(b - a <= 1800000000L)
          case _ => ()
        }
      }
    }
  }
}
