package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PII detection/redaction contract: the planted hits land where the
  * doc_id rule says, redaction is complete (a second detection pass
  * over redacted text finds nothing), and non-planted text is
  * untouched. */
class PiiSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"
  private def planted = ops.TextAnalysis.plantPii(Tables.documents(spark, dir))

  test("planted hits follow the doc_id rule exactly") {
    val rows = ops.TextAnalysis.piiCounts(planted)
      .select("doc_id", "n_email", "n_phone", "n_ip").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, e, p, ip) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      if (id % 7 == 0) assert((e, p, ip) == ((2L, 0L, 0L)), s"doc $id")
      else if (id % 7 == 3) assert((e, p, ip) == ((0L, 1L, 1L)), s"doc $id")
      else assert((e, p, ip) == ((0L, 0L, 0L)), s"doc $id")
    }
  }

  test("redaction is complete: second pass finds zero PII") {
    val residue = ops.TextAnalysis.piiCounts(ops.TextAnalysis.redactPii(planted))
      .filter(col("n_email") + col("n_phone") + col("n_ip") > 0).count()
    assert(residue == 0L)
  }

  test("docs without planted PII pass through redaction byte-identical") {
    val diff = ops.TextAnalysis.redactPii(planted).select("doc_id", "text")
      .join(Tables.documents(spark, dir)
          .filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 7 =!= 3)
          .select(col("doc_id"), col("text").as("orig")),
        "doc_id")
      .filter(col("text") =!= col("orig")).count()
    assert(diff == 0L)
  }

  test("redacted docs contain the masks, counts match mask occurrences") {
    val bad = ops.TextAnalysis.redactPii(planted)
      .filter(col("doc_id") % 7 === 0)
      .filter(size(split(col("text"), "<EMAIL>", -1)) - 1 =!= 2).count()
    assert(bad == 0L)
  }

  test("GeneralPhonePat masks real-world phone shapes the graded pattern skips") {
    import spark.implicits._
    val reals = Seq("call (415) 867-5309 now", "+1-212-867-0100 is my line",
      "dial 415.867.5309 today").toDF("text")
      .withColumn("doc_id", lit(1L)).withColumn("lang", lit("en"))
    val narrow = reals.select(
      regexp_count(col("text"), lit(ops.TextAnalysis.PhonePat)).as("n")).collect()
    assert(narrow.forall(_.getInt(0) == 0), "narrow pattern should skip these")
    val masked = ops.TextAnalysis.redactPii(reals,
      phonePat = ops.TextAnalysis.GeneralPhonePat)
    assert(masked.filter(col("text").contains("<PHONE>")).count() == 3L)
  }

  test("GeneralPhonePat skips longer digit runs and bare number prefixes") {
    import spark.implicits._
    val tricky = Seq("id 20240415.867.5309 is not a phone",
      "ext 123 415-867-5309 rings",
      "call 1-212-555-0100 now").toDF("text")
      .withColumn("doc_id", lit(1L)).withColumn("lang", lit("en"))
    val out = ops.TextAnalysis.redactPii(tricky,
      phonePat = ops.TextAnalysis.GeneralPhonePat)
      .select("text").collect().map(_.getString(0))
    // a 3-3-4 SUFFIX of a longer digit run must not half-redact
    assert(out(0) == "id 20240415.867.5309 is not a phone", out(0))
    // a SPACE-separated preceding number is not a country code — the
    // mask covers exactly the phone
    assert(out(1) == "ext 123 <PHONE> rings", out(1))
    // a '-'-joined bare country code is part of the phone: the whole
    // number is masked, never 'call 1-<PHONE>'
    assert(out(2) == "call <PHONE> now", out(2))
  }
}
