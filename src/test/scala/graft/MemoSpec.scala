package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The one memo ([[Memo]]): plan-keyed entries hit on structurally
  * equal inputs built independently — as the graded keys build theirs
  * on every call — and miss on a changed parameter or input; `clear()`
  * releases every frame the memo persisted. */
class MemoSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = {
    Memo.clear()
    super.afterAll()
  }

  private val dir = "/root/testdata/sf0.001"

  // each call builds a new plan object over the memoized base table
  private def emb(): DataFrame = Tables.embeddings(spark, dir).filter(col("vec_id") >= 0)
  private def docs(): DataFrame = Tables.documents(spark, dir).filter(col("doc_id") >= 0)
  private def eofInput(events: DataFrame = Tables.events(spark, dir)): DataFrame =
    events.groupBy(unix_date(to_date(col("ts"))).cast("long").as("t"),
        (col("user_id") % 10).cast("long").as("i"))
      .agg(sum((col("value") * 1000000.0).cast("long")).as("x"))

  test("plan-keyed memos hit on equal plans and miss on anything else") {
    import ops.Vectors.{kmeansAssignments, pcaLoadings, pqModel}
    import ops.ClimateOps.eofLoadings
    import ops.Text.tfIdfTopK
    val narrower = col("vec_id") >= 1

    val km = kmeansAssignments(emb(), k = 8)
    assert(kmeansAssignments(emb(), k = 8) eq km)
    assert(kmeansAssignments(Tables.embeddings(spark, dir), k = 8) ne km)
    assert(kmeansAssignments(emb(), k = 7) ne km)
    assert(kmeansAssignments(emb().filter(narrower), k = 8) ne km)

    val tf = tfIdfTopK(docs(), k = 3)
    assert(tfIdfTopK(docs(), k = 3) eq tf)
    assert(tfIdfTopK(docs(), k = 2) ne tf)
    assert(tfIdfTopK(docs().filter(col("doc_id") >= 1), k = 3) ne tf)

    val pq = pqModel(emb())
    assert(pqModel(emb()) eq pq)
    assert(pqModel(emb(), k = 8) ne pq)
    assert(pqModel(emb().filter(narrower)) ne pq)

    val pca = pcaLoadings(emb())
    assert(pca.nonEmpty)
    assert(pcaLoadings(emb()) eq pca)
    assert(pcaLoadings(emb(), iters = 2) ne pca)
    assert(pcaLoadings(emb().filter(narrower)) ne pca)

    val eof = eofLoadings(eofInput())
    assert(eof._2.nonEmpty)
    assert(eofLoadings(eofInput()) eq eof)
    assert(eofLoadings(eofInput(), iters = 2) ne eof)
    assert(eofLoadings(eofInput(Tables.events(spark, dir).filter(col("user_id") > 0))) ne eof)
  }

  test("the gate count: a second exactGateHolds on an equal plan launches no Spark job") {
    val sc = spark.sparkContext
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    // the jobs started since the last call: a marker job flushes the
    // asynchronous listener bus, which delivers events in order
    def jobsSinceLast(): Seq[String] = {
      val marker = s"marker-${java.util.UUID.randomUUID()}"
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      Iterator.continually(started.poll(60, TimeUnit.SECONDS))
        .takeWhile { d => assert(d != null, "marker job never reported"); d != marker }
        .toSeq
    }
    // a literal unique to this run: no earlier probe can have keyed it
    val tag = java.util.UUID.randomUUID().toString
    def ev(): DataFrame = Tables.events(spark, dir)
      .withColumn("vm", (col("value") * 1000000.0).cast("long"))
      .withColumn("tag", lit(tag))
    sc.addSparkListener(listener)
    try {
      jobsSinceLast()
      val first = ops.Profiling.exactGateHolds(ev(), "event_type", "vm")
      assert(jobsSinceLast().nonEmpty, "the first probe should run the distinct-count job")
      assert(ops.Profiling.exactGateHolds(ev(), "event_type", "vm") == first)
      assert(jobsSinceLast().isEmpty, "an equal plan re-ran the gate probe")
      ops.Profiling.exactGateHolds(ev().filter(col("user_id") > 0), "event_type", "vm")
      assert(jobsSinceLast().nonEmpty, "a filtered input must probe afresh")
    } finally sc.removeSparkListener(listener)
  }

  test("Memo.clear() releases every held and tracked frame; keys rebuild after it") {
    val sc = spark.sparkContext
    // suites share this SparkContext: start from no cached plan at all,
    // so no frame another suite left cached can share a plan with an
    // entry built here
    Memo.clear()
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    val keys = Seq("q_dedup_clusters", "q_text_tfidf", "q_text_decontam",
      "q_vec_kmeans", "q_vec_ann_ivf", "q_climate_pipeline", "q_profile_mad",
      "q_dedup_minhash_md5", "q_dedup_clusters_md5", "q_dedup_simhash_md5",
      "q_vec_ann_lsh_md5")
    def run(k: String) = SparkEntry.queries(k)(spark, dir).collect().toSeq
    val rows = keys.map(k => k -> run(k)).toMap
    // a direct md5 builder call: its pre-cap band table is tracked
    // outside any entry
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.expressions.TextExpressions.shingle_digests(col("text"), 3).as("hs"))
      .select(col("doc_id"), explode(col("hs")).as("h"))
    ops.Text.minHashCandidatesMd5From(sh, maxBucket = 7L).count()
    val km = ops.Vectors.kmeansAssignments(Tables.embeddings(spark, dir), k = 8)
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty, "vacuous: the builds persisted nothing")

    Memo.clear()
    assert(sc.getPersistentRDDs.keySet == before,
      s"still persisted: ${sc.getPersistentRDDs.values.map(_.name.take(120)).mkString("; ")}")
    assert(ops.Vectors.kmeansAssignments(Tables.embeddings(spark, dir), k = 8) ne km)
    for (k <- keys) assert(run(k) == rows(k), s"$k changed after a clear")
    Memo.clear()
  }
}
