package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Smoke + shape checks for the end-to-end curation pipeline demo: the
  * stages must be monotonically non-increasing (each is a filter over
  * the previous), the output non-empty, and the written parquet must
  * agree with the reported sample count. */
class PipelineDemoSpec extends AnyFunSuite with SparkSuite {
  // one literal for BOTH the demo input and the embeddings cross-check
  // below — two copies could drift to different tiers (r9 advice)
  private val dir = "/root/testdata/sf0.001"

  test("training-data pipeline runs end-to-end, stages only shrink, output lands") {
    val out = Files.createTempDirectory("graft_pipe").toString
    val all = tools.TrainingDataPipelineDemo.run(spark, dir, out)
    assert(all.map(_._1) ==
      Seq("input", "quality_gated", "boilerplate_cleaned", "decontaminated",
        "deduped", "pii_redacted", "sampled", "split_train",
        "packed_sequences", "semantic_clusters", "xor_fingerprint",
        "sq8_vectors"))
    // the first eight entries are FILTER stages (split_train is the
    // 90% bulk subset of the sample); the last four are audit
    // metadata (sequence count, cluster count, replica digest, SQ8
    // store rows) outside the shrink law
    val stages = all.take(8)
    val counts = stages.map(_._2)
    // redaction masks in place — it must never drop or add rows
    assert(stages(5)._2 == stages(4)._2,
      s"pii_redacted changed the row count: $stages")
    // single-line fixture: boilerplate removal must be a pass-through
    // (no text crosses the 20% document-frequency bar)
    assert(stages(2)._2 == stages(1)._2,
      s"boilerplate stage dropped single-line docs: $stages")
    assert(counts.head > 0 && counts.last > 0, s"empty pipeline: $stages")
    // decontamination starts from the corpus SPLIT (benchmark tenth
    // held out), so every stage after input is ≤ its predecessor
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"a stage grew: $stages")
    val nSeqs = all(8)._2
    val clusters = all(9)._2
    assert(clusters >= 1 && clusters <= 4, s"cluster audit off: $clusters")
    import org.apache.spark.sql.functions._
    val written = spark.read.parquet(s"$out/corpus")
    // the corpus is written AFTER the split projection: full sample
    // row count, every row carrying a split tag
    assert(written.count() == stages(6)._2)
    assert(written.columns.contains("split"))
    assert(written.filter(col("split") === "train").count() == stages(7)._2)
    // packing partitions by lang: every language with train docs yields
    // at least one sequence, and no sequence can outnumber the docs
    val trainLangs = written.filter(col("split") === "train")
      .select("lang").distinct().count()
    assert(nSeqs >= trainLangs && nSeqs <= stages(7)._2,
      s"sequence count outside [$trainLangs train langs, ${stages(7)._2} train docs]: $nSeqs")
    // the digest must be LAYOUT-independent, not merely re-runnable:
    // recompute via the shared helper over a reshuffled, re-ordered
    // copy of the read-back corpus (re-running the identical plan
    // would prove nothing)
    val again = ops.Profiling.xorFingerprint(
        written.repartition(5, col("lang"))
          .sortWithinPartitions(col("doc_id").desc),
        col("doc_id").cast("string"), col("lang"))
      .head().getLong(1)
    assert(again == all(10)._2, "replica digest not layout-independent")
    // the sample is per-language capped at 20
    val maxPerLang = written.groupBy(col("lang")).count()
      .agg(max("count")).head().getLong(0)
    assert(maxPerLang <= 20)
    // the SQ8 vector store persists in the 1-byte packed element type
    // and covers EXACTLY the curated corpus' vectors: every vec_id is
    // a written doc_id (the semi-join held) and nothing sampled with a
    // vector was dropped — pinned against the INDEPENDENT corpus
    // parquet, not the store's own reported count
    val sq8 = spark.read.parquet(s"$out/emb_sq8")
    assert(all(11)._2 > 0 && sq8.count() == all(11)._2)
    val corpusIds = written.select(col("doc_id").as("vec_id"))
    assert(sq8.join(corpusIds, Seq("vec_id"), "left_anti").count() == 0,
      "SQ8 store contains vectors outside the written corpus")
    val missing = Tables.embeddings(spark, dir)
      .join(corpusIds, Seq("vec_id"), "left_semi")
      .join(sq8.select("vec_id"), Seq("vec_id"), "left_anti").count()
    assert(missing == 0, s"$missing corpus vectors missing from the SQ8 store")
    assert(sq8.schema("qb").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.ByteType)
  }
}
