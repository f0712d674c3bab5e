package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.{TextExpressions, TextKernels}
import org.apache.spark.unsafe.types.UTF8String

/** The codegen'd BpeTokenCount must be value-identical to the HOF
  * `aggregate(transform(split(...)))` reference semantics — on the
  * fixture corpus, on adversarial edge strings, and on seeded random
  * unicode soup. Also pins that the graded keys actually run the
  * native expression inside a codegen span. */
class TextExpressionsSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  test("kernel matches the split/ceil model on edge strings") {
    val cases = Seq(
      "", " ", "   ", "a", "abc", "abcd", "abcde", "a b", "a  b",
      " lead", "trail ", "  both  ", "exactly4 five5", "ü", "üüüüü",
      "héllo wörld", "日本語のテスト 多字節", "a\tb", "mixed 日本 ascii é")
    cases.foreach { s =>
      val model = s.split(" ", -1).map { t =>
        val cp = t.codePointCount(0, t.length)
        (cp + 3L) / 4L
      }.sum
      val got = TextKernels.bpeCount(UTF8String.fromString(s), 4)
      assert(got == model, s"mismatch on '$s': got $got, model $model")
    }
  }

  test("native expression equals the HOF reference on the fixture corpus") {
    val docs = Tables.documents(spark, dir)
    val diff = docs.select(
        TextExpressions.bpe_token_count(col("text")).as("native"),
        ops.TextAnalysis.tokEstimateHof.as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
  }

  test("native expression equals the HOF reference on random unicode soup") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdefgh 1234  ,.! üé日本ク "
    val rows = (1 to 500).map { _ =>
      (0 until rnd.nextInt(80)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val df = rows.toDF("text")
    val diff = df.select(
        TextExpressions.bpe_token_count(col("text")).as("native"),
        ops.TextAnalysis.tokEstimateHof.as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
  }

  test("graded token keys run the native expression inside codegen") {
    val p = compiledPlan(SparkEntry.queries("q_text_tokens_est")(spark, dir))
    assert(p.toLowerCase.contains("bpetokencount"),
      s"tokens_est no longer runs the native expression:\n$p")
    assert(inCodegen(p, "bpetokencount("),
      s"the operator running the native expression is outside codegen:\n$p")
    val pp = SparkEntry.queries("q_pack_sequences")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(pp.toLowerCase.contains("bpetokencount"),
      s"packing no longer runs the native expression:\n$pp")
  }

  test("winnow fingerprint equals the HOF reference on the fixture corpus") {
    val docs = Tables.documents(spark, dir)
    val native = ops.TextAnalysis.fingerprints(docs)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toSeq
    val hof = ops.TextAnalysis.fingerprintsHof(docs)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toSeq
    assert(native == hof)
  }

  test("winnow fingerprint equals the HOF reference on adversarial and random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val alphabet = "ab  cd 12 üé日 ,. "
    val edge = Seq("", " ", "    ", "one", "one two",
      "exactly eight tokens in this very short doc",
      "now nine tokens so there are two sliding windows here",
      "a  b   c  double  and  triple  spaces  between  tokens  here  now")
    val rows = edge ++ (1 to 300).map(_ =>
      (0 until rnd.nextInt(120)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = rows.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    val native = ops.TextAnalysis.fingerprints(df)
      .orderBy("doc_id").collect().map(r => r.getSeq[Long](1)).toSeq
    val hof = ops.TextAnalysis.fingerprintsHof(df)
      .orderBy("doc_id").collect().map(r => r.getSeq[Long](1)).toSeq
    assert(native == hof)
  }

  test("winnow fingerprint: NULL text is NULL in BOTH forms (r11 NULL-tier law)") {
    // the native expression null-propagates via nullSafeEval; the HOF
    // form used to fingerprint NULL as [hash("")] because greatest()
    // skips null args — the fixed when-guard must keep the two forms
    // in parity on NULL input, and md5 grading twin included
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)](
      (1L, null), (2L, "present text here")).toDF("doc_id", "text")
    for (fp <- Seq(ops.TextAnalysis.fingerprints(df),
                   ops.TextAnalysis.fingerprintsHof(df),
                   ops.TextAnalysis.fingerprintsMd5(df))) {
      val rows = fp.orderBy("doc_id").collect()
      assert(rows(0).isNullAt(1), "NULL text must fingerprint as NULL")
      assert(!rows(1).isNullAt(1), "non-null text must keep its fingerprint")
    }
  }

  test("shingle hash set equals the declarative reference on fixture and edge strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val alphabet = "xy z 12  w üé日 "
    val edge = Seq("", " ", "one", "one two", "one two three",
      "a  b   c double  spaces", "exactly three tokens")
    val synth = (edge ++ (1 to 300).map(_ =>
      (0 until rnd.nextInt(100)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString))
      .zipWithIndex.map { case (s, i) => (i.toLong, "en", s) }
      .toDF("doc_id", "lang", "text")
    Seq(synth, Tables.documents(spark, dir)).foreach { df =>
      val native = ops.Dedup.shingleHashes(df)
        .groupBy("doc_id").agg(sort_array(collect_list("h0")).as("hs"))
        .orderBy("doc_id").collect().map(_.getSeq[Long](1)).toSeq
      val hof = ops.Dedup.shingleHashesHof(df)
        .groupBy("doc_id").agg(sort_array(collect_list("h0")).as("hs"))
        .orderBy("doc_id").collect().map(_.getSeq[Long](1)).toSeq
      assert(native == hof)
      // docs with < 3 tokens contribute NO rows in both forms — so the
      // grouped comparison above can't silently pass on a missing doc
      assert(native.nonEmpty)
    }
  }

  test("shingle DIGEST set equals the declarative md5 reference on fixture " +
    "and edge strings (r17: the one-pass kernel must reproduce " +
    "conv(substring(md5(shingle),1,15),16,10) exactly)") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val alphabet = "xy z 12  w üé日 "
    val edge = Seq("", " ", "one", "one two", "one two three",
      "a  b   c double  spaces", "exactly three tokens")
    val synth = (edge ++ (1 to 300).map(_ =>
      (0 until rnd.nextInt(100)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString))
      .zipWithIndex.map { case (s, i) => (i.toLong, "en", s) }
      .toDF("doc_id", "lang", "text")
    Seq(synth, Tables.documents(spark, dir)).foreach { df =>
      val native = df.select(col("doc_id"),
          explode(TextExpressions.shingle_digests(col("text"), 3)).as("h"))
        .groupBy("doc_id").agg(sort_array(collect_list("h")).as("hs"))
        .orderBy("doc_id").collect().map(_.getSeq[Long](1)).toSeq
      val declarative = ops.Text.hashShingles(ops.Dedup.shingles(df))
        .groupBy("doc_id").agg(sort_array(collect_list("h")).as("hs"))
        .orderBy("doc_id").collect().map(_.getSeq[Long](1)).toSeq
      assert(native == declarative)
      assert(native.nonEmpty)
    }
  }

  test("binary byte sum equals the declarative hex/conv reference on " +
    "random, empty and NULL payloads (r18: the frames_md5 pool kernel)") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val rows: Seq[(Long, Array[Byte])] =
      Seq((0L, Array.emptyByteArray), (1L, null)) ++
        (2 to 300).map { i =>
          val b = new Array[Byte](rnd.nextInt(64))
          rnd.nextBytes(b)
          (i.toLong, b)
        }
    val df = rows.toDF("id", "b")
    // the r17-refuted declarative form: per-byte conv over the hex
    // string. Compared on EVERY row: on an empty binary
    // sequence(0, length-1) = sequence(0, -1) degenerates to [0, -1]
    // and the reference yields NULL, which the kernel reproduces; the
    // graded query's frames are always 4 bytes.
    val hexs = lower(hex(col("b")))
    val declarative = aggregate(
      transform(sequence(lit(0), length(col("b")) - 1),
        i => conv(hexs.substr(i * 2 + 1, lit(2)), 16, 10).cast("long")),
      lit(0L), (a, x) => a + x)
    val diff = df.select(col("id"),
        TextExpressions.binary_byte_sum(col("b")).as("native"),
        declarative.as("decl"))
      .filter(!(col("native") <=> col("decl"))).count()
    assert(diff == 0)
    // NULL propagates; an empty frame is NULL, codegen'd and interpreted
    val nulls = df.filter(col("b").isNull)
      .select(TextExpressions.binary_byte_sum(col("b"))).collect()
    assert(nulls.forall(_.isNullAt(0)))
    val empty = df.filter(col("b").isNotNull && length(col("b")) === 0)
      .select(TextExpressions.binary_byte_sum(col("b"))).collect()
    assert(empty.nonEmpty && empty.forall(_.isNullAt(0)))
    val emptyFrame = org.apache.spark.sql.catalyst.expressions.Literal(
      Array.emptyByteArray)
    assert(graft.expressions.BinaryByteSum(emptyFrame).eval() == null)
    // kernel-level spot checks
    assert(TextKernels.byteSum(Array[Byte](0, -1, 127, -128)) == 0L + 255 + 127 + 128)
    assert(TextKernels.byteSum(Array.emptyByteArray) == 0L)
  }

  test("q_multimodal_frames_md5 runs BinaryByteSum; no conv-in-lambda re-hex " +
    "(the r17 CollapseProject trap, VERDICT r17 #2)") {
    val p = SparkEntry.queries("q_multimodal_frames_md5")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("binarybytesum"),
      s"frames_md5 no longer runs the native byte-sum kernel:\n$p")
    assert(!p.toLowerCase.contains("lambdafunction(conv"),
      s"per-byte re-hex is back inside a lambda:\n$p")
  }

  test("r18 BigramStats kernel == the two-aggregation reference on fixture, " +
    "edge and random corpora (exact, divisions included)") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val alphabet = "ab  cd 12 üé日 ,. x"
    val edge = Seq(null, "", " ", "one", "one two", "a a a a a",
      "x y x y x y", "a  b   a  b", "trail ", " lead")
    val synth = (edge ++ (1 to 300).map(_ =>
      (0 until rnd.nextInt(120)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    def reference(docs: org.apache.spark.sql.DataFrame) = {
      val toked = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      val idx = when(size(col("toks")) >= 2, sequence(lit(0), size(col("toks")) - 2))
        .otherwise(array())
      toked.select(col("doc_id"),
          explode(transform(idx,
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(2))))).as("g"))
        .groupBy(col("doc_id"), col("g"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).cast("long").as("n_2grams"),
          count(lit(1)).cast("long").as("nd_2grams"),
          max(col("cnt")).cast("long").as("top_cnt"))
        .select(col("doc_id"), col("n_2grams"), col("nd_2grams"),
          ((col("n_2grams") - col("nd_2grams")).cast("double") / col("n_2grams"))
            .as("dup_frac"),
          (col("top_cnt").cast("double") / col("n_2grams")).as("top_frac"))
    }
    def viaKernel(docs: org.apache.spark.sql.DataFrame) =
      docs.filter(col("text").isNotNull &&
          (length(col("text")) -
            length(regexp_replace(col("text"), " ", ""))) >= 1)
        .select(col("doc_id"),
          TextExpressions.bigram_stats(col("text")).as("st"))
        .select(col("doc_id"),
          col("st.n").as("n_2grams"), col("st.nd").as("nd_2grams"),
          ((col("st.n") - col("st.nd")).cast("double") / col("st.n")).as("dup_frac"),
          (col("st.top").cast("double") / col("st.n")).as("top_frac"))
    Seq(synth, Tables.documents(spark, dir)).foreach { docs =>
      val ref = reference(docs).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSeq
      val got = viaKernel(docs).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSeq
      assert(got == ref)
      assert(ref.nonEmpty)
    }
    // the plan evaluates the kernel once (multi-referenced alias) and
    // shuffles nothing before the presentation sort
    val p = SparkEntry.queries("q_text_repetition")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("bigramstats".r.findAllIn(p.toLowerCase).size == 1,
      s"BigramStats re-inlined by CollapseProject:\n$p")
    assert(!p.contains("HashAggregate"), s"repetition still aggregates:\n$p")
  }

  test("q_text_fingerprint runs the native winnow expression") {
    val p = SparkEntry.queries("q_text_fingerprint")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("winnowfingerprint"),
      s"fingerprint key no longer runs the native expression:\n$p")
  }

  test("SQL registration works") {
    TextExpressions.register(spark)
    val n = spark.sql("SELECT bpe_token_count('hello world wide') AS n")
      .head().getLong(0)
    assert(n == 5L) // ceil(5/4) + ceil(5/4) + ceil(4/4)
  }
}
