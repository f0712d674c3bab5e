package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{NetcdfSource, Sources}

/** CSV/JSON round-trips must be lossless against the parquet truth. */
class SourcesSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  test("CSV round-trip of customer is lossless") {
    val tmp = Files.createTempDirectory("graft_csv").toString
    val c = Tables.customer(spark, dir)
    Sources.writeCsv(c, s"$tmp/customer")
    val back = Sources.readCsv(spark, s"$tmp/customer", c.schema)
    assert(back.count() == c.count())
    assert(back.exceptAll(c).count() == 0 && c.exceptAll(back).count() == 0)
  }

  test("CSV round-trip is lossless on adversarial text (r10 fuzz finds)") {
    // the exact classes the pristine fixtures never exercise, each of
    // which broke a Spark CSV DEFAULT: embedded newlines (reader line
    // split), leading/trailing/only whitespace (writer trim), empty
    // string vs NULL (reader nullValue swallowing quoted ""), quotes
    // (backslash vs RFC-4180 doubling), unicode incl. astral plane.
    // Excluded by documented contract: a field that IS the literal \N.
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("graft_csv_adv").toString
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    val rows = Seq[(java.lang.Long, String)](
      (1L, ""), (2L, " "), (3L, "   both sides padded   "),
      (4L, "line one\nline two\r\nline three"),
      (5L, "quote \" and comma , and \"doubled\"\""),
      (6L, "unicode café 中文 😀"),
      (7L, "backslash \\ and tab\there"), (8L, null)
    )
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2)), 2), schema)
    Sources.writeCsv(df, s"$tmp/adv")
    val back = Sources.readCsv(spark, s"$tmp/adv", schema, multiLine = true)
    assert(back.count() == rows.size)
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
    // NULL and empty string remain distinct through the round-trip
    assert(back.filter(col("id") === 8 && col("text").isNull).count() == 1)
    assert(back.filter(col("id") === 1 && col("text") === "").count() == 1)
  }

  test("JSONL round-trip of events (incl. µs timestamps) is lossless") {
    val tmp = Files.createTempDirectory("graft_json").toString
    val e = Tables.events(spark, dir)
    Sources.writeJsonl(e, s"$tmp/events")
    val back = Sources.readJsonl(spark, s"$tmp/events", e.schema)
    assert(back.count() == e.count())
    assert(back.exceptAll(e).count() == 0 && e.exceptAll(back).count() == 0)
  }

  test("quarantine CSV ingest captures malformed rows instead of aborting") {
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("graft_quar").toString
    Files.writeString(java.nio.file.Path.of(tmp, "in.csv"),
      "id,qty\n1,10\noops,not_a_number\n3,30\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", LongType)))
    import org.apache.spark.sql.functions.col
    val got = Sources.readCsvQuarantine(spark, s"$tmp/in.csv", schema).cache()
    assert(got.count() == 3) // nothing aborted, nothing silently dropped
    val bad = got.filter(col("_corrupt_record").isNotNull).collect()
    assert(bad.length == 1 && bad(0).getString(2) == "oops,not_a_number")
    assert(got.filter(col("_corrupt_record").isNull)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    got.unpersist()
  }

  test("quarantine JSONL ingest captures malformed rows instead of aborting") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_jquar").toString
    Files.writeString(java.nio.file.Path.of(tmp, "in.jsonl"),
      """{"id": 1, "qty": 10}
        |{"id": broken json
        |{"id": 3, "qty": 30}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", LongType)))
    val got = Sources.readJsonlQuarantine(spark, s"$tmp/in.jsonl", schema).cache()
    assert(got.count() == 3)
    assert(got.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(got.filter(col("_corrupt_record").isNull)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    got.unpersist()
  }

  test("XML round-trip of nation is lossless (Spark 4 built-in source)") {
    val tmp = Files.createTempDirectory("graft_xml").toString
    val n = Tables.nation(spark, dir)
    Sources.writeXml(n, s"$tmp/nation", rowTag = "nation")
    val back = Sources.readXml(spark, s"$tmp/nation", "nation", n.schema)
    assert(back.count() == n.count())
    assert(back.exceptAll(n).count() == 0 && n.exceptAll(back).count() == 0)
  }

  test("XML round-trip preserves leading/trailing whitespace in strings") {
    // the reader's ignoreSurroundingSpaces default would silently trim
    // " padded " to "padded" — the lossless contract pins it off
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_xmlws").toString
    val df = Seq((1L, " padded ", "  lead"), (2L, "trail  ", "inner  kept"))
      .toDF("id", "a", "b")
    Sources.writeXml(df, s"$tmp/ws", rowTag = "row")
    val back = Sources.readXml(spark, s"$tmp/ws", "row", df.schema)
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
  }

  test("quarantine XML ingest captures malformed row elements instead of aborting") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_xquar").toString
    Files.writeString(java.nio.file.Path.of(tmp, "in.xml"),
      """<rows>
        |<r><id>1</id><qty>10</qty></r>
        |<r><id>oops</id><qty>not_a_number</qty></r>
        |<r><id>3</id><qty>30</qty></r>
        |</rows>
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", LongType)))
    val got = Sources.readXmlQuarantine(spark, s"$tmp/in.xml", "r", schema).cache()
    assert(got.count() == 3) // nothing aborted, nothing silently dropped
    assert(got.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(got.filter(col("_corrupt_record").isNull)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    got.unpersist()
  }

  test("ORC round-trip of lineitem is lossless and pushdown-capable") {
    val tmp = Files.createTempDirectory("graft_orc").toString
    val li = Tables.lineitem(spark, dir)
    Sources.writeOrc(li, s"$tmp/lineitem")
    val back = Sources.readOrc(spark, s"$tmp/lineitem")
    assert(back.count() == li.count())
    assert(back.exceptAll(li).count() == 0 && li.exceptAll(back).count() == 0)
    // predicate reaches the ORC scan (stripe-level data skipping)
    val p = back.filter(org.apache.spark.sql.functions.col("l_quantity") > 45.0)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"),
      s"filter not pushed into ORC scan:\n$p")
  }

  test("writeDatePartitioned: pruned read opens only the matching date dirs") {
    val tmp = Files.createTempDirectory("graft_lake").toString
    val e = Tables.events(spark, dir)
    Sources.writeDatePartitioned(e, "ts", s"$tmp/events", Seq("user_id", "ts"))
    // partition directories exist per date
    val dateDirs = new java.io.File(s"$tmp/events").listFiles()
      .filter(_.getName.startsWith("p_date=")).map(_.getName).sorted
    assert(dateDirs.nonEmpty && dateDirs.head == "p_date=2024-01-01")
    // round-trip is lossless (minus the derived partition column)
    val back = spark.read.parquet(s"$tmp/events")
    assert(back.count() == e.count())
    // a date filter becomes a partition filter on the scan (directory
    // pruning, not a data filter) and returns exactly that day's rows
    val pruned = back.filter(col("p_date") === "2024-01-03")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p_date"),
      s"no partition pruning in plan:\n$plan")
    assert(pruned.count() ==
      e.filter(to_date(col("ts")) === "2024-01-03").count())
  }

  // ---- structural artifact checks (r11, VERDICT r10 #3) -------------
  // The ORC/XML roundtrip KEYS grade via base-table oracles (DuckDB
  // reads neither format), so a bug symmetric in writer AND reader is
  // invisible to the driver. These two tests close that structurally:
  // they inspect the EMITTED BYTES of the graded artifacts — not a
  // read-back through the same value-decoding path — so a writer that
  // silently drops a column, ignores the compression option, or loses
  // rows trips an assertion even if a mirroring reader bug would mask
  // it from the round-trip identity.

  test("ORC artifact: postscript/footer declares snappy, 3 columns, all rows") {
    // run the REAL graded key so we inspect exactly what the driver grades
    SparkEntry.queries("q_source_orc_roundtrip")(spark, dir).count()
    val orcFiles = new java.io.File(s"${Sources.roundtripRoot}/orc").listFiles()
      .filter(f => f.getName.endsWith(".orc") && !f.getName.startsWith("."))
    assert(orcFiles.nonEmpty, "graded key wrote no .orc files")
    val nDocs = Tables.documents(spark, dir).count()
    var totalRows = 0L
    orcFiles.foreach { f =>
      val bytes = Files.readAllBytes(f.toPath)
      // spec-level byte checks (ORC file format v1): 3-byte magic "ORC"
      // at offset 0; the file's LAST byte is the postscript length, and
      // the postscript's serialized protobuf ends with the magic again
      assert(bytes.length > 16, s"${f.getName}: implausibly small ORC file")
      assert(new String(bytes.slice(0, 3), "US-ASCII") == "ORC",
        s"${f.getName}: missing ORC header magic")
      val psLen = bytes(bytes.length - 1) & 0xff
      assert(psLen > 0 && psLen < bytes.length - 4,
        s"${f.getName}: postscript length byte $psLen out of range")
      val ps = bytes.slice(bytes.length - 1 - psLen, bytes.length - 1)
      assert(new String(ps.takeRight(3), "US-ASCII") == "ORC",
        s"${f.getName}: postscript does not end with magic")
      // postscript protobuf: field 2 (compression enum) = varint tag
      // 0x10; SNAPPY = 2 — protobuf serializes fields in ascending
      // order, so the pair must appear in the tiny (~25 B) postscript
      assert(ps.sliding(2).exists(w => w(0) == 0x10.toByte && w(1) == 0x02.toByte),
        s"${f.getName}: postscript does not declare SNAPPY (tag 0x10 val 2)")
      // footer metadata via orc-core (a METADATA path, not the Spark
      // DataFrame value-decode path): schema + row count as written
      val conf = new org.apache.hadoop.conf.Configuration()
      val reader = org.apache.orc.OrcFile.createReader(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath),
        org.apache.orc.OrcFile.readerOptions(conf))
      try {
        assert(reader.getCompressionKind == org.apache.orc.CompressionKind.SNAPPY)
        assert(reader.getSchema.getFieldNames.toString ==
          "[doc_id, lang, text]",
          s"${f.getName}: footer schema ${reader.getSchema.getFieldNames}")
        totalRows += reader.getNumberOfRows
      } finally reader.close()
    }
    assert(totalRows == nDocs,
      s"ORC footers declare $totalRows rows, documents has $nDocs")
  }

  test("XML artifact: raw bytes carry one rowTag element per document") {
    SparkEntry.queries("q_source_xml_roundtrip")(spark, dir).count()
    val xmlFiles = new java.io.File(s"${Sources.roundtripRoot}/xml").listFiles()
      .filter(f => f.getName.contains(".xml") && !f.getName.startsWith("."))
    assert(xmlFiles.nonEmpty, "graded key wrote no xml files")
    val nDocs = Tables.documents(spark, dir).count()
    val docIds = scala.collection.mutable.ArrayBuffer[Long]()
    var opens, closes = 0L
    xmlFiles.foreach { f =>
      // writeXml compresses with gzip — decompress the raw stream, no
      // XML parser involved, and regex-count the row elements
      val in = new java.util.zip.GZIPInputStream(
        new java.io.FileInputStream(f))
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      opens += "<doc>".r.findAllIn(txt).size
      closes += "</doc>".r.findAllIn(txt).size
      docIds ++= "<doc_id>(\\d+)</doc_id>".r
        .findAllMatchIn(txt).map(_.group(1).toLong)
      assert(txt.contains("<ROWS>") && txt.contains("</ROWS>"),
        s"${f.getName}: missing root tag")
    }
    assert(opens == nDocs && closes == nDocs,
      s"expected $nDocs <doc> elements, found open=$opens close=$closes")
    // every doc_id appears exactly once across the emitted files
    assert(docIds.sorted.toSeq ==
      Tables.documents(spark, dir).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq)
  }

  // ---- adversarial corpus through all four formats (r11, VERDICT
  // r10 #5): the r10 fuzz fixes (quote doubling, \N sentinel, trim
  // suppression, multiLine) came from exactly this text class — lock
  // them in as a standing regression net across EVERY format, not just
  // the two pinned CSV cases. Exclusions are the documented per-format
  // contracts, asserted-as-excluded where they exist.
  test("adversarial corpus round-trips byte-exactly through CSV/JSONL/ORC/XML") {
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("graft_adv4").toString
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    val corpus = Seq[(java.lang.Long, String)](
      (1L, ""), (2L, " "), (3L, "   "), (4L, "a"),
      (5L, "  leading and trailing  "),
      (6L, "quote \" comma , semicolon ; pipe |"),
      (7L, "doubled \"\" quotes \"inside\""),
      (8L, "backslash \\ and \\n literal and json } ] chars"),
      (9L, "unicode café straße über naïve"),
      (10L, "cjk 中文文本处理 mixed ascii"),
      (11L, "emoji \ud83d\ude00 \ud83d\ude80 astral plane"),
      (12L, "regex .* meta [chars] (group) {brace} ^caret$ plus+ ?"),
      (13L, "xml-hostile <tag> & ampersand ]]> cdata-end </tag>"),
      (14L, "number-looking 3.14159 -42 1e10 NaN null NULL true"),
      (15L, "x" * 4000), // long single token
      (16L, ("the quick brown fox " * 400).trim), // ~8 KB doc
      (17L, null),
      (18L, "line one\nline two"), // embedded newline (LF)
      (19L, "tab\there kept")
    )
    // documented per-format content contracts:
    //  - CSV: a field that IS the literal \N reads back NULL (sentinel
    //    collision, Sources.csvNullSentinel scaladoc) — excluded;
    //  - XML: Spark 4's built-in source preserves raw \r / \r\n bytes
    //    in element content (it does NOT apply the XML-spec
    //    line-ending normalization a conforming external parser
    //    would), so the CR row round-trips byte-exactly here too —
    //    asserted below so a future Spark version silently switching
    //    to spec normalization trips this net.
    val crRow = Seq[(java.lang.Long, String)]((20L, "carriage\rreturn and\r\nCRLF"))
    def df(rows: Seq[(java.lang.Long, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2)), 3), schema)
    val full = df(corpus ++ crRow)

    def assertSame(back: org.apache.spark.sql.DataFrame,
                   exp: org.apache.spark.sql.DataFrame, fmt: String): Unit = {
      assert(back.count() == exp.count(), s"$fmt: row count")
      assert(back.exceptAll(exp).count() == 0 && exp.exceptAll(back).count() == 0,
        s"$fmt: round-trip not byte-exact")
    }
    Sources.writeCsv(full, s"$tmp/csv")
    assertSame(Sources.readCsv(spark, s"$tmp/csv", schema, multiLine = true),
      full, "csv")
    Sources.writeJsonl(full, s"$tmp/jsonl")
    assertSame(Sources.readJsonl(spark, s"$tmp/jsonl", schema), full, "jsonl")
    Sources.writeOrc(full, s"$tmp/orc")
    assertSame(Sources.readOrc(spark, s"$tmp/orc"), full, "orc")
    Sources.writeXml(full, s"$tmp/xml", rowTag = "r")
    assertSame(Sources.readXml(spark, s"$tmp/xml", "r", schema), full, "xml")
  }

  test("withPathFields extracts filename-template metadata") {
    // input_file_name() is empty over a cached (InMemoryRelation) plan
    // — and Spark's CacheManager matches by analyzed plan across every
    // suite sharing the SparkContext, so ANY read of the fixture path
    // can silently resolve to another suite's cache. Read a fresh COPY
    // of the file: its path can never be cached by anyone else.
    val tmp = java.nio.file.Files.createTempDirectory("graft_pathf")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/region.parquet"),
      tmp.resolve("sf0.001").resolve("region.parquet").normalize() match {
        case p => java.nio.file.Files.createDirectories(p.getParent); p
      })
    val df = NetcdfSource.withPathFields(
      spark.read.parquet(tmp.resolve("sf0.001/region.parquet").toString),
      ".*/(sf[0-9.]+)/([a-z]+)\\.parquet", Seq("sf_tag", "table_name"))
    val row = df.select("sf_tag", "table_name").distinct().head()
    assert(row.getString(0) == "sf0.001" && row.getString(1) == "region")
  }

  // ---- the artifact memo and the dense-grid family ------------------

  test("Memo is single-flight: 8 threads racing on one new key build it once") {
    import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val gate = new CountDownLatch(1)
    val key = s"race-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map { _ =>
        pool.submit(new Callable[Int] {
          def call(): Int = {
            gate.await()
            Memo.artifact(spark, key, "race") {
              builds.incrementAndGet()
              Thread.sleep(200) // hold the build open while the rest arrive
              42
            }
          }
        })
      }
      gate.countDown()
      assert(calls.map(_.get(60, TimeUnit.SECONDS)) == Seq.fill(8)(42))
      assert(builds.get == 1)
    } finally pool.shutdownNow()
    // a build that throws is not memoized: the next caller rebuilds
    intercept[IllegalStateException] {
      Memo.artifact[Int](spark, key, "fails")(throw new IllegalStateException("boom"))
    }
    assert(Memo.artifact(spark, key, "fails")(7) == 7)
  }

  private val gridKeys = Seq("q_source_grid_subset", "q_source_catalog",
    "q_source_zarr_roundtrip", "q_source_dsv2_agg_grouped",
    "q_source_dsv2_stream", "q_climate_pipeline_nc")

  test("the six grid keys, run twice in one session, evaluate the dense grid once") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.util.QueryExecutionListener
    // a fresh session: the memo is per session, and this suite's shared
    // session may already hold the grid from another spec
    val s = spark.newSession()
    // denseGrid caches its (day, latb, lonb, v) cells aggregate, and the
    // plan that first reads the cache runs the aggregation; each
    // evaluation of the grid therefore shows up as one cache instance
    val gridCaches = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        qe.optimizedPlan.foreach {
          case r: InMemoryRelation
              if r.output.map(_.name) == Seq("day", "latb", "lonb", "v") =>
            gridCaches.add(System.identityHashCode(r.cacheBuilder))
          case _ =>
        }
        if (qe.analyzed.output.map(_.name) == Seq("grid_spec_drain")) drained.countDown()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      for (_ <- 1 to 2; k <- gridKeys) SparkEntry.queries(k)(s, dir).collect()
      // listener events arrive in order on the bus: once this marker's
      // event is seen, every key's events have been seen
      s.range(1).select(lit(1).as("grid_spec_drain")).collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(gridCaches.size == 1,
        s"${gridCaches.size} dense-grid evaluations for ${gridKeys.size} keys x 2")
    } finally s.listenerManager.unregister(listener)
  }

  test("q_source_dsv2_stream stages members sha256-identical to a direct writeGrid") {
    SparkEntry.queries("q_source_dsv2_stream")(spark, dir).collect()
    val landed = new java.io.File(
      s"${Sources.roundtripRoot}/dsv2s_${Sources.tierTag(dir)}/land")
    // the reference encodes each day-mod-3 member straight from the
    // dense cells with the member encoder, outside every Spark sink
    val (cells, dense) = Sources.denseGrid(spark, dir)
      .getOrElse(fail(s"$dir has no events"))
    val byMember = try dense.select(
        concat(lit("m"), pmod(datediff(col("day"), lit("1970-01-01")),
          lit(3)).cast("string")).as("dataset"),
        unix_micros(col("time")), col("lat"), col("lon"), col("value"))
      .collect().toSeq
      .groupBy(_.getString(0))
    finally cells.unpersist()
    def sha256(bytes: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(bytes).map("%02x".format(_)).mkString
    val direct = byMember.map { case (m, rows) =>
      s"$m.h5" -> sha256(NetcdfSource.buildMemberBytes(m,
        rows.map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))),
        "events", hdf5 = true))
    }
    val staged = landed.listFiles().filter(_.getName.endsWith(".h5")).map { f =>
      f.getName -> sha256(Files.readAllBytes(f.toPath))
    }.toMap
    assert(staged.keySet == Set("m0.h5", "m1.h5", "m2.h5"))
    assert(staged == direct)
  }

  test("two calls of q_source_dsv2_stream collect identical fingerprints") {
    def run() = SparkEntry.queries("q_source_dsv2_stream")(spark, dir).collect().toSeq
    val first = run()
    assert(first.nonEmpty)
    assert(run() == first)
  }

  private def read(f: java.nio.file.Path): String =
    new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
  private def scalaFiles(d: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val st = Files.walk(java.nio.file.Paths.get(d))
    try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally st.close()
  }

  test("one memo mechanism: Sources and Streaming hand-roll no TrieMap memo") {
    for (f <- Seq("src/main/scala/graft/sources/Sources.scala",
                  "src/main/scala/graft/ops/Streaming.scala")) {
      val src = read(java.nio.file.Paths.get(f))
      assert(!src.contains("TrieMap") && !src.contains("getOrElseUpdate"),
        s"$f memoizes outside graft.Memo")
    }
    val opsAndSources = scalaFiles("src/main/scala/graft/ops") ++
      scalaFiles("src/main/scala/graft/sources")
    assert(opsAndSources.size > 20, "vacuous file list")
    for (f <- opsAndSources)
      assert(!read(f).contains("TrieMap"), s"$f memoizes outside graft.Memo")
    // one release path: Memo.clear(), no per-module twin
    val release = """def\s+(clear\w*Cache|clearIndexes)\b""".r
    for (f <- scalaFiles("src/main/scala"))
      assert(release.findFirstIn(read(f)).isEmpty, s"$f defines a per-module release method")
    // Tables keeps only tuneForScale's two maps
    val tables = read(java.nio.file.Paths.get("src/main/scala/graft/Tables.scala"))
    val maps = """val\s+(\w+)\s*=\s*TrieMap""".r.findAllMatchIn(tables).map(_.group(1)).toSet
    assert(maps == Set("dirSize", "sessionDefaults"))
    assert("TrieMap".r.findAllIn(tables).size == 3, "Tables declares a TrieMap besides its two maps")
  }

  test("one session builder and one profiler: Session.local is the only builder, Profile the only probe") {
    def isComment(line: String) = Seq("*", "/*", "//").exists(line.trim.startsWith)
    val builders = scalaFiles("src/main/scala").filter { f =>
      read(f).linesIterator.exists(l =>
        !isComment(l) && l.split("//").head.contains("SparkSession.builder"))
    }.map(_.getFileName.toString)
    assert(builders == Seq("Session.scala"), s"session builders outside Session.scala: $builders")
    val tools = scalaFiles("src/main/scala/graft/tools").map(_.getFileName.toString).toSet
    assert(tools == Set("Profile.scala", "ChaosVerify.scala",
      "ClimatePipelineDemo.scala", "TrainingDataPipelineDemo.scala"))
  }
}
