package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ground-truth checks for the two multimodal rows-only keys: the
  * plumbing (schema, batch shape, frame math, pooling math) AND the
  * BMP/WAV decoders are real — byte-level golden fixtures assert
  * actual pixel/sample values; only codec-library formats (JPEG/MP4)
  * remain behind the documented opaque fallback. */
class MultimodalSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("mediaTable is total over NULL docs: empty opaque payload, not a dead task") {
    // r11 NULL-tier law: the tuple encoder's primitive Long slot threw
    // NOT_NULL_ASSERT_VIOLATION on NULL text/n_chars — a null document
    // must become an EMPTY payload row (id ≡ 2 mod 3 is the opaque
    // branch; 0/1 synthesize BMP/WAV regardless of text)
    val tmp = java.nio.file.Files.createTempDirectory("graft_mmnull")
    Seq[(java.lang.Long, String, String, String, java.lang.Long)](
      (2L, null, "en", "src0", null),
      (5L, "real text", "en", "src1", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(tmp.resolve("documents.parquet").toString)
    val media = ops.Multimodal.mediaTable(spark, tmp.toString)
      .orderBy("media_id").collect()
    assert(media.length == 2)
    assert(media(0).getAs[Array[Byte]]("payload").isEmpty,
      "NULL doc must carry an empty opaque payload")
    assert(media(1).getAs[Array[Byte]]("payload").nonEmpty)
  }

  test("decode emits exactly one feature row per media row, n_bytes = payload size") {
    val media = ops.Multimodal.mediaTable(spark, dir)
    val feats = ops.Multimodal.decodeFeatures(spark, media).toDF()
    assert(feats.count() == media.count())
    // the opaque third of the table carries the UTF-8 text; n_chars
    // counts characters, so bytes ≥ chars there
    val bad = feats.join(Tables.documents(spark, dir)
        .select(col("doc_id").as("media_id"), col("n_chars")), "media_id")
      .filter(col("media_id") % 3 === 2)
      .filter(col("n_bytes") < col("n_chars")).count()
    assert(bad == 0)
    // and each modality appears with its mime
    val mimes = media.select("meta.mime").distinct().collect().map(_.getString(0)).toSet
    assert(mimes == Set("image/bmp", "audio/wav", "application/octet-stream"))
  }

  test("opaque fallback is deterministic byte-fold: known payload → known feature") {
    val media = Seq((1L, "ab".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val f = ops.Multimodal.decodeFeatures(spark, media).head().feature
    assert(math.abs(f(0) - 'a'.toInt / 255.0f) < 1e-6)
    assert(math.abs(f(1) - 'b'.toInt / 255.0f) < 1e-6)
    assert(f.drop(2).forall(_ == 0.0f))
  }

  test("opaque text starting with 'BM' falls back to histogram, never throws") {
    // "BMW recalls..." passes the 2-byte magic sniff but is not a BMP —
    // the decoder must stay total and use the opaque branch
    val payload = "BMW recalls model year".getBytes("UTF-8")
    val media = Seq((9L, payload)).toDF("media_id", "payload")
    val f = ops.Multimodal.decodeFeatures(spark, media).head().feature
    val exp = new Array[Float](8)
    payload.zipWithIndex.foreach { case (b, i) => exp(i % 8) += (b & 0xff) / 255.0f }
    assert(f.toSeq == exp.toSeq)
  }

  test("BMP golden fixture: hand-written bytes decode to exact pixels") {
    import graft.sources.MediaCodec
    // 2×2, 24bpp, bottom-up, rows padded 6→8 bytes. Top-down pixels:
    // (0,0) red, (1,0) green, (0,1) blue, (1,1) white — so the FILE
    // stores the blue/white row first.
    def i32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def i16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val bytes: Array[Byte] =
      Array[Byte]('B', 'M') ++ i32(54 + 16) ++ i32(0) ++ i32(54) ++
        i32(40) ++ i32(2) ++ i32(2) ++ i16(1) ++ i16(24) ++ i32(0) ++
        i32(16) ++ i32(2835) ++ i32(2835) ++ i32(0) ++ i32(0) ++
        // bottom row: blue (B,G,R = FF,00,00), white + 2 pad bytes
        Array[Byte](-1, 0, 0, -1, -1, -1, 0, 0) ++
        // top row: red (00,00,FF), green (00,FF,00) + 2 pad bytes
        Array[Byte](0, 0, -1, 0, -1, 0, 0, 0)
    val bmp = MediaCodec.decodeBmp(bytes)
    assert(bmp.width == 2 && bmp.height == 2)
    assert(bmp.pixels.toSeq == Seq(0xff0000, 0x00ff00, 0x0000ff, 0xffffff))
  }

  test("adversarial BMP header: width*3 Int overflow rejects cleanly, decode falls back") {
    import graft.sources.MediaCodec
    // width = 800M: width*3 overflows Int to a negative row size; before
    // the Long-arithmetic fix the truncation require passed vacuously
    // and allocation threw NegativeArraySizeException — a FATAL escape
    // from decode()'s totality catch under the old 2-exception list
    def i32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def i16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val crafted: Array[Byte] =
      Array[Byte]('B', 'M') ++ i32(70) ++ i32(0) ++ i32(54) ++
        i32(40) ++ i32(800000000) ++ i32(1) ++ i16(1) ++ i16(24) ++ i32(0) ++
        i32(16) ++ i32(2835) ++ i32(2835) ++ i32(0) ++ i32(0) ++
        new Array[Byte](16)
    val e = intercept[IllegalArgumentException](MediaCodec.decodeBmp(crafted))
    assert(e.getMessage.contains("truncated"))
    // and the pipeline-level decoder stays total: opaque fallback
    val media = Seq((7L, crafted)).toDF("media_id", "payload")
    val f = ops.Multimodal.decodeFeatures(spark, media).head().feature
    assert(f.length == 8)
  }

  test("BMP round-trip: encode → decode is identity (odd width exercises padding)") {
    import graft.sources.MediaCodec
    val px = Array.tabulate(3 * 2)(i => (i * 37 + 11) * 0x010203 & 0xffffff)
    val bmp = MediaCodec.decodeBmp(MediaCodec.encodeBmp(3, 2, px))
    assert(bmp.width == 3 && bmp.height == 2 && bmp.pixels.toSeq == px.toSeq)
  }

  test("WAV golden fixture: hand-written RIFF bytes decode to exact samples") {
    import graft.sources.MediaCodec
    def i32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def i16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val bytes: Array[Byte] =
      "RIFF".getBytes("US-ASCII") ++ i32(36 + 8) ++ "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ i32(16) ++ i16(1) ++ i16(1) ++
        i32(8000) ++ i32(16000) ++ i16(2) ++ i16(16) ++
        "data".getBytes("US-ASCII") ++ i32(8) ++
        i16(1000) ++ i16(-1000) ++ i16(32767) ++ i16(-32768)
    val wav = MediaCodec.decodeWav(bytes)
    assert(wav.sampleRate == 8000 && wav.channels == 1)
    assert(wav.samples.toSeq == Seq[Short](1000, -1000, 32767, -32768))
  }

  test("q_multimodal_encode golden literals: doc_id=5 md5s pin the exact byte streams") {
    // The four expected md5s were derived OUTSIDE this codebase (a
    // spec-literal python reconstruction: struct.pack'd BMP/WAV headers
    // + md5(b"5") digest content, hashed over the lowercase hex image)
    // — so this pins both the encoder's byte stream and the key's
    // digest-to-pixel/sample layout against an independent build. A
    // drift in encoder bytes, header fields, row order, padding, or the
    // digest mapping fails here with a named literal.
    val row = graft.SparkEntry.queries("q_multimodal_encode")(spark, dir)
      .filter(col("doc_id") === 5L).collect()
    assert(row.length == 1)
    assert(row(0).getAs[String]("bmp_md5") == "09e2a81f0446cca7c4edb62d696a18ff")
    assert(row(0).getAs[String]("bmp2_md5") == "d9f60e0f6f379ba50aac62afc1f316ae")
    assert(row(0).getAs[String]("wav_md5") == "7d822f2a28c1e7ddb81f269dd69a9b14")
    assert(row(0).getAs[String]("wav2_md5") == "dc7eee3b642ced249785eb73250f39df")
  }

  test("WAV round-trip: encode → decode is identity") {
    import graft.sources.MediaCodec
    val s = Array.tabulate(17)(i => ((i * 4093 + 7) % 65536 - 32768).toShort)
    val wav = MediaCodec.decodeWav(MediaCodec.encodeWav(44100, 2, s))
    assert(wav.sampleRate == 44100 && wav.channels == 2 && wav.samples.toSeq == s.toSeq)
  }

  test("decodeFeatures parses REAL pixel means from a BMP payload") {
    import graft.sources.MediaCodec
    // 2×1 image: pure red + pure blue → meanR = meanB = 127.5, meanG = 0
    val payload = MediaCodec.encodeBmp(2, 1, Array(0xff0000, 0x0000ff))
    val media = Seq((7L, payload)).toDF("media_id", "payload")
    val f = ops.Multimodal.decodeFeatures(spark, media).head().feature
    assert(f(0) == 2.0f && f(1) == 1.0f)            // width, height
    assert(f(2) == 127.5f && f(3) == 0.0f && f(4) == 127.5f) // meanR/G/B
  }

  test("decodeFeatures parses REAL sample stats from a WAV payload") {
    import graft.sources.MediaCodec
    val payload = MediaCodec.encodeWav(8000, 1, Array[Short](100, -100, 100, -100))
    val media = Seq((8L, payload)).toDF("media_id", "payload")
    val f = ops.Multimodal.decodeFeatures(spark, media).head().feature
    assert(f(0) == 8000.0f && f(1) == 1.0f && f(2) == 4.0f) // rate, ch, n
    assert(f(3) == 100.0f && f(4) == 100.0f && f(5) == 3.0f) // meanAbs, rms, zc
    assert(f(6) == -100.0f && f(7) == 100.0f)                // min, max
  }

  test("frame sampling: n rows per media, frames tile the payload (tail may drop)") {
    val media = ops.Multimodal.mediaTable(spark, dir)
    val frames = ops.Multimodal.frameSample(media, n = 4)
      .withColumn("flen", length(col("frame_bytes")).cast("long"))
    assert(frames.count() == media.count() * 4)
    val bad = frames.groupBy("media_id").agg(sum("flen").as("covered"))
      .join(media.select(col("media_id"), length(col("payload")).cast("long").as("plen")),
        "media_id")
      // 4 equal strides cover all but at most 3 remainder bytes
      .filter(col("covered") < col("plen") - 3 || col("covered") > col("plen"))
      .count()
    assert(bad == 0)
  }

  test("resizeFeature average-pools exact bucket means") {
    val df = Seq(Tuple1(Array(1.0f, 2.0f, 3.0f, 4.0f, 5.0f, 6.0f, 7.0f, 8.0f)))
      .toDF("feature")
    val out = df.select(ops.Multimodal.resizeFeature(col("feature"), 4).as("p"))
      .head().getSeq[Double](0)
    assert(out == Seq(1.5, 3.5, 5.5, 7.5))
  }

  test("resizeNearest: identity, 2x up duplicates, down picks strides") {
    val src = Array(0, 1, 2, 3) // 2x2: rows (0,1) / (2,3)
    assert(ops.Multimodal.resizeNearest(src, 2, 2, 2, 2).toSeq == src.toSeq)
    // 2x2 -> 4x4: each source pixel becomes a 2x2 block
    assert(ops.Multimodal.resizeNearest(src, 2, 2, 4, 4).toSeq ==
      Seq(0, 0, 1, 1, 0, 0, 1, 1, 2, 2, 3, 3, 2, 2, 3, 3))
    // 4x4 -> 2x2 picks strided corners (0,0),(0,2),(2,0),(2,2)
    val s16 = Array.tabulate(16)(identity)
    assert(ops.Multimodal.resizeNearest(s16, 4, 4, 2, 2).toSeq ==
      Seq(0, 2, 8, 10))
    // non-integer 4 -> 6 floor map on one axis
    assert(ops.Multimodal.resizeNearest(Array(0, 1, 2, 3), 4, 1, 6, 1).toSeq ==
      Seq(0, 0, 1, 2, 2, 3))
  }
}
