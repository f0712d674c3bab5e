package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Source/sink utilities beyond the graded parquet path (SURVEY §2.2):
  * schema-carrying CSV and JSON(L) loaders/writers with the options a
  * data-pipeline actually needs pinned explicitly (header, timestamp
  * format, compression), so round-trips are lossless.
  *
  * At 100 TB: CSV/JSON are ingest-only formats — the first job of any
  * pipeline here is converting them to parquet with an explicit schema
  * (`toParquet`), after which every downstream read gets pushdown,
  * pruning, and vectorization. These helpers make that normalization
  * step a one-liner.
  */
object Sources {
  private val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Collision-free per-tier artifact tag (r16 review): the readable
    * sanitized form alone is LOSSY ("data/x1" and "data_x1" collide),
    * and the artifact memo ([[graft.Memo]]) keys on the RAW dir while paths
    * used the sanitized tier — two colliding dirs would silently read
    * each other's artifacts. The appended dir-hash (String.hashCode is
    * spec-fixed, so paths stay stable across JVMs) makes path ↔ dir
    * 1:1 while keeping the tag filesystem-safe and human-readable. */
  private[graft] def tierTag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9.]", "_") + "_" +
      (dir.hashCode & 0x7fffffff).toHexString

  /** CSV NULL sentinel (the MySQL `\N` convention), set on BOTH the
    * writer and the reader. Spark's defaults cannot round-trip the
    * empty string: the writer emits '' as quoted `""` and NULL as an
    * empty field, but the reader's default nullValue "" swallows the
    * quoted form too, so '' comes back NULL (adversarial-tier find,
    * r10). With the sentinel: NULL ⇄ bare `\N`, '' ⇄ quoted `""`,
    * whitespace preserved. The one documented ambiguity inherent to
    * CSV: a text field whose entire content is the two characters
    * `\N` is written unquoted and reads back as NULL — use JSONL,
    * ORC, or parquet for data where that collision can occur. */
  private val csvNullSentinel = "\\N"

  /** `multiLine`: Spark's CSV WRITER quotes embedded newlines, but the
    * default reader splits records on raw newlines — so write→read is
    * LOSSY for any text column containing one (adversarial-tier find,
    * r10: real corpora always do). Set multiLine=true to parse quoted
    * newlines correctly; the cost is line-splittability of PLAIN csv
    * (each file becomes one task — gzipped csv is whole-file anyway,
    * so the lossless roundtrip pair pays nothing). Default stays false:
    * newline-free curated inputs keep the splittable fast path. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              multiLine: Boolean = false): DataFrame =
    spark.read
      .schema(schema) // never infer: schema inference is a full extra pass
      .option("header", "true")
      .option("multiLine", multiLine)
      .option("nullValue", csvNullSentinel)
      .option("escape", "\"") // RFC 4180 quote-doubling, not Spark's backslash default
      .option("timestampFormat", tsFmt)
      .option("mode", "FAILFAST") // surface corrupt rows at ingest, not 3 jobs later
      .csv(path)

  /** Quarantine-mode ingest: PERMISSIVE parsing with each malformed raw
    * line captured in `_corrupt_record` (parsed columns null). FAILFAST
    * ([[readCsv]]) is right for curated inputs; at crawl scale one bad
    * line must not abort a million-file load — the pipeline filters
    * `_corrupt_record IS NOT NULL` into a quarantine sink and proceeds.
    *
    * Spark sharp edge, inherited: a query that references ONLY the
    * corrupt column (e.g. `.filter($"_corrupt_record".isNotNull)
    * .count()`) throws AnalysisException, because column pruning would
    * otherwise let every row "parse" — cache the DataFrame (or persist
    * it to the quarantine sink) before corrupt-only queries, per the
    * Spark CSV docs. The corrupt column is appended only if the caller
    * hasn't already declared it. */
  def readCsvQuarantine(spark: SparkSession, path: String,
                        schema: StructType): DataFrame = {
    val withCorrupt =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    spark.read
      .schema(withCorrupt)
      .option("header", "true")
      .option("timestampFormat", tsFmt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
  }

  /** Spark's CSV writer TRIMS leading/trailing whitespace by default
    * (ignore*WhiteSpace=true on write) — silently lossy for text data
    * (adversarial-tier find, r10). Disabled here: a write→read pair
    * must be the identity. Empty string stays distinguishable from
    * NULL via the writer's quoted-"" emptyValue default. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("nullValue", csvNullSentinel)
      .option("escape", "\"") // RFC 4180 quote-doubling, not Spark's backslash default
      .option("timestampFormat", tsFmt)
      .option("compression", "gzip")
      .csv(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("timestampFormat", tsFmt)
      .option("mode", "FAILFAST")
      .json(path)

  /** JSONL twin of [[readCsvQuarantine]] — same contract and the same
    * corrupt-column-only query caveat. */
  def readJsonlQuarantine(spark: SparkSession, path: String,
                          schema: StructType): DataFrame = {
    val withCorrupt =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    spark.read
      .schema(withCorrupt)
      .option("timestampFormat", tsFmt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("timestampFormat", tsFmt)
      .option("compression", "gzip")
      .json(path)

  /** Normalize any source to parquet (the pipeline's canonical format). */
  def toParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** ORC: the other columnar lakehouse format Spark ships natively —
    * same pushdown/pruning/vectorization story as parquet (per-stripe
    * min/max indexes), relevant when downstream consumers are
    * Hive/Trino-centric. Snappy to match the parquet default. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "snappy").orc(path)

  /** XML (Spark 4 built-in source, the former spark-xml): `rowTag`
    * scopes each record element. Ingest-only at scale like CSV/JSON —
    * normalize to parquet first thing. Schema always passed explicitly
    * (inference is a full extra pass over row-tag soup). */
  def readXml(spark: SparkSession, path: String, rowTag: String,
              schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("rowTag", rowTag)
      .option("timestampFormat", tsFmt)
      // the reader TRIMS value whitespace by default
      // (ignoreSurroundingSpaces defaults true in XmlOptions) — that
      // silently corrupts string values with leading/trailing spaces,
      // so the lossless contract requires turning it off; the writer
      // emits values unpadded inside the tags, so round-trips stay exact
      .option("ignoreSurroundingSpaces", "false")
      .option("mode", "FAILFAST")
      .format("xml").load(path)

  /** XML twin of [[readCsvQuarantine]] — same contract and the same
    * corrupt-column-only query caveat. A malformed ELEMENT (bad nesting,
    * unparseable value under FAILFAST) lands in `_corrupt_record`;
    * note the XML reader quarantines at row-tag granularity, not file
    * lines. */
  def readXmlQuarantine(spark: SparkSession, path: String, rowTag: String,
                        schema: StructType): DataFrame = {
    val withCorrupt =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    spark.read
      .schema(withCorrupt)
      .option("rowTag", rowTag)
      .option("timestampFormat", tsFmt)
      .option("ignoreSurroundingSpaces", "false") // see readXml
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .format("xml").load(path)
  }

  def writeXml(df: DataFrame, path: String, rowTag: String): Unit =
    df.write.mode("overwrite")
      .option("rowTag", rowTag)
      .option("timestampFormat", tsFmt)
      .option("compression", "gzip")
      .format("xml").save(path)

  /** Lakehouse-layout sink: parquet partitioned by the event date with
    * rows sorted inside each file on `sortCols`.
    *
    * Why this exact shape at 100 TB:
    *  - `partitionBy(p_date)` → directory-level partition PRUNING: a
    *    date-ranged query never opens out-of-range files;
    *  - `repartition(p_date)` first → exactly one task (and hence one
    *    file, absent AQE splits) per date instead of #tasks × #dates
    *    small files — the small-file problem is the classic failure of
    *    naive partitioned writes;
    *  - `sortWithinPartitions(sortCols)` → parquet row-group min/max
    *    stats become tight, so predicate pushdown on the sort keys
    *    skips row groups inside each file (data skipping). */
  def writeDatePartitioned(df: DataFrame, tsCol: String, path: String,
                           sortCols: Seq[String]): Unit = {
    df.withColumn("p_date", to_date(col(tsCol)))
      .repartition(col("p_date"))
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").partitionBy("p_date").parquet(path)
  }

  // ---- GRADED round-trip keys (r7, VERDICT r6 #4) -------------------
  // CSV and JSONL were spec-trusted (SourcesSpec); DuckDB reads both
  // formats, so the write → read-back path converts to a CORRECTNESS-
  // graded fact: the query emits documents through the REAL
  // writeCsv/writeJsonl sinks, re-ingests them through the REAL
  // FAILFAST readers, and aggregates a content fingerprint (per-group
  // count, total chars, md5-digest sum) that the oracle recomputes by
  // reading the SAME emitted files with read_csv/read_json. Any loss
  // or corruption in quoting, escaping, compression, or header
  // handling breaks the hash. ORC/XML have no DuckDB reader, so their
  // keys grade one level weaker but still end-to-end: the oracle
  // recomputes the fingerprint from the BASE parquet table while the
  // Spark side routes it through the real write→FAILFAST-read pair —
  // equality holds iff the round-trip is lossless (any escaping,
  // compression, or type-mapping corruption breaks the hash; what this
  // cannot catch, unlike the CSV/JSONL keys, is a bug symmetric in
  // writer AND reader).
  // The emit path is a fixed repo-local scratch dir (the oracle needs
  // the path as a literal; target/ is build scratch, never committed).
  // FRESHNESS CONTRACT: because the path is tier-independent, the
  // oracle must run against the side files the SAME Verify invocation
  // wrote (the driver always runs verify→compare back-to-back). A
  // compare against a dump from an older run after a different-tier
  // Verify overwrote these files fails LOUDLY on the group counts
  // (observed: sf0.001 dump vs sf0.1 side files → n 71 vs 702), and a
  // same-tier overwrite is content-identical — so staleness can never
  // produce a silent wrong pass, only a re-run-Verify error.
  private[graft] val roundtripRoot = "/root/repo/target/roundtrip"

  private def fingerprint(df: DataFrame, group: String): DataFrame =
    df.groupBy(col(group))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(length(col("text"))).cast("long").as("sum_len"),
        sum(graft.ops.Profiling.rowDigest(col("doc_id"), col("text")) % 1000003L)
          .cast("long").as("sig"))
      .orderBy(col(group))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_source_csv_roundtrip" -> { (s, dir) =>
      val out = s"$roundtripRoot/csv"
      writeCsv(graft.Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text")), out)
      fingerprint(readCsv(s, out, StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("text", StringType))), multiLine = true), "lang")
    },
    "q_source_jsonl_roundtrip" -> { (s, dir) =>
      val out = s"$roundtripRoot/jsonl"
      writeJsonl(graft.Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text")), out)
      fingerprint(readJsonl(s, out, StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("text", StringType)))), "source")
    },
    "q_source_orc_roundtrip" -> { (s, dir) =>
      val out = s"$roundtripRoot/orc"
      writeOrc(graft.Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text")), out)
      fingerprint(readOrc(s, out), "lang")
    },
    "q_source_xml_roundtrip" -> { (s, dir) =>
      val out = s"$roundtripRoot/xml"
      writeXml(graft.Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text")), out, rowTag = "doc")
      fingerprint(readXml(s, out, "doc", StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("text", StringType)))), "source")
    },

    // Grid round-trips (r12): events are bucketed into a dense
    // (day, lat, lon) COUNT grid — built DISTRIBUTED (distinct-axis
    // cross join + left join, no driver collect) — exported through
    // the DSv2 `netcdf` sink (one task ⇔ one member file; the hdf5
    // twin exercises dimension scales, DIMENSION_LIST through the
    // global heap, and the CF time axis), re-read through
    // `format("netcdf")`, and fingerprinted per latitude row.
    // The oracle recomputes the fingerprint from the BASE events table
    // (DuckDB reads neither format) — equality holds iff
    // grid-build→write→parse→CF-decode→long-form emission is lossless.
    // All grid values are exact-integer counts and epoch-day/second
    // numbers, so double arithmetic is exact on both engines.
    "q_source_netcdf_roundtrip" -> ((s, dir) => gridRoundtrip(s, dir, "nc")),
    "q_source_hdf5_roundtrip" -> ((s, dir) => gridRoundtrip(s, dir, "h5")),
    // r17: the ZARR v2 store graded through the same dense grid —
    // write (zlib chunks, one-time-step-per-chunk, xarray
    // _ARRAY_DIMENSIONS + CF time conventions), read back through the
    // same `format("netcdf")` scan as the .h5 keys (the store is one
    // member), fingerprint per latitude. Same oracle as the
    // netcdf/hdf5 twins: the formats differ only in bytes on disk.
    "q_source_zarr_roundtrip" -> ((s, dir) => gridRoundtrip(s, dir, "zarr")),
    // and the CHUNK-PRUNED bounded read: GridBounds(latMin=5,
    // lonMax=125).predicate mirrors q_source_grid_subset — its atoms
    // are pushed into the scan, whose slab read drops non-intersecting
    // chunk files by pure name arithmetic before anything is opened
    // (ZarrSpec pins the pruning itself).
    "q_source_zarr_subset" -> ((s, dir) => gridRoundtrip(s, dir, "zarr",
      filter = Some(NetcdfSource.GridBounds(latMin = 5.0, lonMax = 125.0)
        .predicate))),
    // r13: the HYPERSLAB-PUSHDOWN read graded end-to-end — same grid
    // build, but the read-back filters by
    // GridBounds(latMin=5, lonMax=125).predicate, whose four lat/lon
    // atoms the scan takes as pushed filters (keeps lat rows 10/20 and
    // lon columns 100/110/120); the oracle mirrors the bounds as
    // predicates over the dense cell space. Chunk pruning itself is
    // law-pinned in Hdf5Spec; this key grades the bounds SEMANTICS
    // through the full write→read→aggregate pipeline against DuckDB.
    "q_source_grid_subset" -> ((s, dir) => gridRoundtrip(s, dir, "h5",
      filter = Some(NetcdfSource.GridBounds(latMin = 5.0, lonMax = 125.0)
        .predicate))),
    // r13 late: the SAME subset as a hand-written Catalyst predicate
    // (`.filter(lat >= 5 && lon <= 125)`) that SupportsPushDownFilters
    // turns into the chunk-pruned hyperslab read; grades the full
    // Catalyst pushdown path: filter translation, Spark-exact predicate
    // evaluation, per-file partitioning, InternalRow emission. Same
    // oracle shape as q_source_grid_subset.
    "q_source_dsv2_pushdown" -> ((s, dir) => gridRoundtrip(s, dir, "h5",
      filter = Some(col("lat") >= 5.0 && col("lon") <= 125.0))),
    // r13 late: the DSv2 WRITE path graded end-to-end — the dense grid
    // goes through `df.write.format("netcdf")` (staging + driver-commit
    // protocol, RequiresDistributionAndOrdering clustering) into its
    // own directory on every call rather than the shared grid file, is
    // re-read through the DSv2 reader, and must hit the SAME unbounded
    // fingerprint the hdf5_roundtrip oracle computes from the base
    // events table.
    "q_source_dsv2_write" -> ((s, dir) => gridRoundtrip(s, dir, "h5",
      dsv2Write = true)),
    // r13 late, DEEPENED r15/r16: the STREAMING read surface of the
    // DSv2 format graded as a true multi-batch replay under failure —
    // member 0 lands alone (one checkpointed batch), a deterministic
    // crash is injected in the exactly-once window (commits/0 deleted
    // → WAL replay → sink-log dedup), then the REMAINING members land
    // all at once and maxFilesPerTrigger=1 admission control must
    // still split them one-per-batch inside a single
    // Trigger.AvailableNow run (r16 — grades SupportsAdmissionControl
    // + the compact watermark offset). The drained sink must carry
    // the same unbounded fingerprint; see [[streamedGridFingerprint]].
    "q_source_dsv2_stream" -> ((s, dir) => streamedGridFingerprint(s, dir)),
    // r14: the CATALOG/MANIFEST layer (the ESGF-style R2 slot's local
    // half, NcCatalog) graded end-to-end — the shared grid member is
    // indexed into a JSONL manifest by the distributed envelope sweep,
    // then read back through a facet query (variable + lat/lon bounds):
    // planning-time member pruning from the RECORDED envelopes, the
    // surviving members loaded through the DSv2 multi-path form with
    // the same predicates pushed into the scan. Same oracle shape as
    // q_source_grid_subset — equality holds iff manifest-build →
    // facet-prune → DSv2 load → pushdown yields exactly the bounded rows.
    "q_source_catalog" -> { (s, dir) =>
      val man = s"$roundtripRoot/catalog_${tierTag(dir)}"
      NcCatalog.buildManifest(s, sharedGridMember(s, dir, "h5"), man)
      gridFingerprint(NcCatalog.select(s, man,
        variable = Some("events"),
        bounds = Some(NetcdfSource.GridBounds(latMin = 5.0, lonMax = 125.0))))
    },
    // r15 (VERDICT r14 #6): the reference's real user journey —
    // ARCHIVE FILES IN, ANOMALY OUT — hash-graded through the actual
    // file format. Lineage starts at NetCDF-4/HDF5 bytes: the shared
    // grid member is loaded via `spark.read.format("netcdf")` (not a
    // parquet-derived frame), then run through the chained Ensemble
    // API — subset → regridBin(sum) → resample(week, sum) → anomaly —
    // and graded against a DuckDB CTE chain that recomputes the same
    // pipeline from the BASE events table. Equality holds iff
    // grid-build → HDF5 write → DSv2 parse/CF-decode → every chained
    // stage is lossless THROUGH the file format. Determinism rides the
    // q_climate_pipeline rules: every `value` is an exact integer count
    // carried in doubles (regrid/resample use the mass-conserving sum
    // form — order-free, zero ulps), and the only division is the
    // terminal anomaly window's one correctly-rounded avg over exact
    // sums, graded UNROUNDED. The subset bounds arrive as ordinary
    // Catalyst predicates, so SupportsPushDownFilters turns them into
    // the chunk-pruned hyperslab read — at 100 TB the archive chunks
    // outside the region are never inflated (law-pinned in
    // NetcdfV2Spec "climate pipeline over the DSv2 source").
    "q_climate_pipeline_nc" -> { (s, dir) =>
      val loaded = s.read.format("netcdf").option("vars", "events")
        .load(sharedGridMember(s, dir, "h5"))
        .select(col("dataset"), col("time"), col("lat"), col("lon"),
          col("value"))
      graft.Ensemble.of(loaded)
        .subset(5, 25, 90, 135,
          "2024-01-03 00:00:00", "2024-01-28 00:00:00")
        .regridBin(20.0, 20.0, agg = "sum")
        .resample("week", agg = "sum")
        .anomaly()
        .select(col("dataset"),
          date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("time"),
          col("lat"), col("lon"),
          col("value").cast("long").as("value_ct"),
          col("anomaly"))
        .orderBy(col("dataset"), col("time"), col("lat"), col("lon"))
    },
    // r15 cont.: the AGGREGATE-PUSHDOWN surface (r14 verdict #3,
    // law-pinned in NetcdfV2Spec) hash-graded end-to-end — a bounded
    // COUNT/MIN/MAX over the shared grid member through the DSv2
    // format, where SupportsPushDownAggregates answers count(*) and
    // the coordinate/time extrema from CHUNK METADATA without
    // inflating data chunks (the grid is dense, no fill mask — the
    // complete-pushdown case; no Aggregate node survives above the
    // scan). The oracle recomputes every number from the base events
    // table's observed axes, with each extremum NULLed when the
    // bounded cell set is empty (Spark's min/max over zero rows), a
    // degeneracy the --one fuzz tier exercises; on the --empty tier the
    // archive has no member, and the scan answers (0, NULL, ...) itself.
    "q_source_dsv2_agg" -> { (s, dir) =>
      s.read.format("netcdf").option("vars", "events")
        .load(sharedGridMember(s, dir, "h5"))
        .filter(col("lat") >= 5.0 && col("lon") <= 125.0)
        .agg(count(lit(1)).cast("long").as("n_cells"),
          min(col("lat")).as("lat_min"),
          max(col("lon")).as("lon_max"),
          date_format(min(col("time")), "yyyy-MM-dd HH:mm:ss").as("t_min"),
          date_format(max(col("time")), "yyyy-MM-dd HH:mm:ss").as("t_max"))
    },
    // r16 (VERDICT r15 #8): the catalog → MULTI-member ensemble →
    // alignMembers journey hash-graded end-to-end. A 2-member sparse
    // archive (members = even/odd event_id cell counts over the SAME
    // (day, lat, lon) axes, written through the DSv2 sink, which
    // NaN-fills + declares _FillValue so read-back restores exactly
    // the sparse cells) is manifest-indexed, facet-pruned, loaded
    // through the multi-path DSv2 form with the lat bound pushed into
    // both members' scans, then aligned with declaredMembers = 2:
    // only cells BOTH parities populate survive. The oracle recomputes
    // the aligned cell set from base events (HAVING count(DISTINCT
    // par) = 2). A tier where one parity vanishes entirely (the --one
    // tier) must align EVERYTHING away — the declaredMembers
    // data-loss-surfacing semantics, graded.
    "q_source_catalog_ensemble" -> { (s, dir) =>
      val arch = sharedEnsembleArchive(s, dir)
      val man = s"$arch/_manifest"
      NcCatalog.buildManifest(s, arch, man)
      graft.Ensemble.fromCatalog(s, man, variable = "events",
          bounds = Some(NetcdfSource.GridBounds(latMin = 10.0)))
        .alignMembers(declaredMembers = 2)
        .df
        .select(col("dataset"), graft.Det.tstr(col("time")).as("time"),
          col("lat"), col("lon"), col("value"))
        .orderBy(col("dataset"), col("time"), col("lat"), col("lon"))
    },
    // r16 (VERDICT r15 #3): GROUP BY aggregate pushdown hash-graded —
    // the SAME dense grid split into a 3-member archive (dataset =
    // day-mod-3, the stream key's split), then
    // `groupBy(dataset).agg(COUNT/MIN/MAX)` with a pushed lat bound.
    // dataset IS file identity, so each per-member reader answers its
    // own group's row from chunk metadata and NO Aggregate node
    // survives above the scan (law-pinned in NetcdfV2Spec), including
    // the empty-group rule: a member emptied by the filter yields no
    // row, exactly like SQL. The oracle recomputes every group from
    // the base events table's observed axes.
    "q_source_dsv2_agg_grouped" -> { (s, dir) =>
      s.read.format("netcdf").option("vars", "events")
        .load(sharedSplitArchive(s, dir))
        .filter(col("lat") >= 10.0)
        .groupBy(col("dataset"))
        .agg(count(lit(1)).cast("long").as("n_cells"),
          min(col("lat")).as("lat_min"),
          max(col("lon")).as("lon_max"),
          date_format(min(col("time")), "yyyy-MM-dd HH:mm:ss").as("t_min"),
          date_format(max(col("time")), "yyyy-MM-dd HH:mm:ss").as("t_max"))
        .orderBy(col("dataset"))
    },

    // BUCKETED layout graded end-to-end (r17): both fact tables
    // rewritten ONCE per (session, tier) as bucket-by-join-key catalog
    // tables, then joined — the join plans with ZERO Exchange (the
    // PlanAuditSpec pin), the layout knob README §"Deploying at 100×"
    // prescribes for repeated fact-fact joins. The oracle recomputes
    // the same join + aggregate from the BASE parquet tables, so the
    // key also grades that the bucketed rewrite lost nothing.
    "q_source_bucketed_join" -> { (s, dir) =>
      bucketedJoin(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("long").as("n_items"),
          sum(graft.Det.cents(col("l_extendedprice"))).cast("long")
            .as("sum_price_c"),
          sum(graft.Det.cents(col("l_quantity"))).cast("long")
            .as("sum_qty_c"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))
        .orderBy(col("o_orderpriority"))
    })

  /** The dense grid, written ONCE per (session, tier) as every file
    * artifact the grid keys read: one [[denseGrid]] evaluation writes
    *  - the single-member HDF5 archive `grid_h5_<tier>/` (`grid.h5`);
    *  - its classic-netCDF twin `grid_nc_<tier>/` (`grid.nc`);
    *  - its Zarr twin `grid_zarr_<tier>/`, holding the store `grid.zarr`;
    *  - the split archive `gridsplit_<tier>`: members m0/m1/m2 by day
    *    mod 3 (tiers with < 3 distinct days yield fewer).
    * Every write goes through the DSv2 sink in overwrite mode, which
    * creates the directory and truncates every prior member in it, so
    * a member an earlier build at the same path (a regenerated tier)
    * left behind is never read. An empty-events tier writes each
    * directory with no member: the keys read it as an empty archive.
    * The paths embed the tier, so a multi-tier session (specs run
    * sf0.001 and sf0.01 back to back) never reads another tier's files;
    * a re-run at the same tier overwrites with identical content (the
    * standing staleness rule above). The graded DSv2 WRITE key does
    * NOT share — writing through the sink under test is the thing it
    * grades. */
  private def grid(s: SparkSession, dir: String): Unit =
    graft.Memo.artifact(s, dir, "grid") {
      // each of the four writes densifies the cached cells (a small
      // bounded aggregate); the events scan behind them runs once
      val (cells, dense) = denseGrid(s, dir)
      try {
        val member = gridMembers(dense, lit("grid"))
        for ((ext, container) <- Seq("h5" -> "hdf5", "nc" -> "classic",
            "zarr" -> "zarr"))
          member.write.format("netcdf").option("container", container)
            .mode("overwrite").save(gridPath(dir, s"grid_$ext"))
        gridMembers(dense, concat(lit("m"),
            pmod(datediff(col("day"), lit("1970-01-01")), lit(3)).cast("string")))
          .write.format("netcdf").option("container", "hdf5")
          .mode("overwrite").save(gridPath(dir, "gridsplit"))
      } finally cells.unpersist()
    }

  /** The dense grid as the `netcdf` sink's long form: variable
    * `events`, member tag `dataset`. */
  private def gridMembers(dense: DataFrame, dataset: Column): DataFrame =
    dense.select(dataset.as("dataset"), lit("events").as("variable"),
      col("time"), col("lat"), col("lon"), col("value"))

  private def gridPath(dir: String, name: String): String =
    s"$roundtripRoot/${name}_${tierTag(dir)}"

  /** The directory of the shared grid member in one format: `h5`, `nc`
    * or `zarr`. */
  private def sharedGridMember(s: SparkSession, dir: String, ext: String): String = {
    grid(s, dir)
    gridPath(dir, s"grid_$ext")
  }

  private def sharedSplitArchive(s: SparkSession, dir: String): String = {
    grid(s, dir)
    gridPath(dir, "gridsplit")
  }

  /** One SHARED 2-member parity archive per (session, tier) for the
    * catalog-ensemble key: members e0/e1 carry the SPARSE per-parity
    * (day, lat-band, lon-band) counts, written through the DSv2 sink
    * (NaN-fill + declared _FillValue restores exactly the sparse cells
    * on read). A tier with only one parity writes one member — the
    * align-away case the key grades — and an empty-events tier none. */
  private def sharedEnsembleArchive(s: SparkSession, dir: String): String = {
    val out = gridPath(dir, "catens")
    graft.Memo.artifact(s, dir, "catalog_ensemble") {
      graft.Tables.events(s, dir)
        .groupBy(
          concat(lit("e"), (col("event_id") % 2).cast("string")).as("dataset"),
          date_trunc("day", col("ts")).as("time"),
          ((col("user_id") % 3) * 10).cast("double").as("lat"),
          (lit(100) + when(col("event_type") === "click", 0)
            .when(col("event_type") === "view", 1)
            .when(col("event_type") === "purchase", 2)
            .when(col("event_type") === "signup", 3)
            .otherwise(4) * 10).cast("double").as("lon"))
        .agg(count(lit(1)).cast("double").as("value"))
        .withColumn("variable", lit("events"))
        .write.format("netcdf").mode("overwrite").save(out)
    }
    out
  }

  /** One SHARED pair of BUCKETED catalog tables per (session, tier):
    * lineitem and orders each rewritten ONCE as 8-bucket,
    * sorted-within-bucket external tables on their join key (paths
    * under target/roundtrip, tier-tagged names — the in-memory
    * catalog is session-scoped, the artifact rules match [[grid]]).
    * Bucketing is the cluster LAYOUT knob for repeated fact-fact
    * joins: both sides pre-clustered on the key,
    * so every subsequent join plans with ZERO Exchange at ANY data
    * size — the shuffle is paid once at write time, not per query.
    * 8 buckets sizes the local tiers; a 100 TB deployment picks
    * buckets ≈ cluster cores (thousands) — same plan, finer grain.
    * Returns the zero-shuffle joined frame (merge-hinted: the graded
    * tiers' orders side is broadcast-small, and a broadcast join
    * would silently waive the co-location the key exists to grade). */
  private[graft] def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val tier = tierTag(dir)
    // table names must be dot-free (a dot parses as schema.table); the
    // artifact PATHS keep the canonical tier tag. The writes are the
    // ops/Bucketing primitive (BucketingSpec proves its shuffle
    // algebra); this layer adds the per-(session, tier) memoized
    // artifact, the merge hint, and the graded-key plumbing.
    val nameTag = tier.replaceAll("[^A-Za-z0-9_]", "_")
    val (liT, ordT) = (s"li_bkt_$nameTag", s"ord_bkt_$nameTag")
    graft.Memo.artifact(s, dir, "bucketed") {
      graft.ops.Bucketing.writeBucketed(
        graft.Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_quantity")),
        liT, "l_orderkey", 8, Some(s"$roundtripRoot/li_bkt_$tier"))
      graft.ops.Bucketing.writeBucketed(
        graft.Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority")),
        ordT, "o_orderkey", 8, Some(s"$roundtripRoot/ord_bkt_$tier"))
    }
    s.table(ordT).hint("merge")
      .join(s.table(liT), col("o_orderkey") === col("l_orderkey"))
  }

  /** The dense (day, lat-bucket, lon-bucket) COUNT grid from the
    * tier's events table — DISTRIBUTED (distinct-axis cross join +
    * left join, no driver collect). Returns the cached cells handle
    * (the CALLER unpersists after its write actions run) and the dense
    * long-form frame with the `day` split key still attached; an
    * empty-events tier gives an empty grid. */
  private[graft] def denseGrid(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val cells = graft.Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"),
        (col("user_id") % 3).cast("int").as("latb"),
        when(col("event_type") === "click", 0)
          .when(col("event_type") === "view", 1)
          .when(col("event_type") === "purchase", 2)
          .when(col("event_type") === "signup", 3)
          .otherwise(4).as("lonb"))
      .groupBy("day", "latb", "lonb")
      .agg(count(lit(1)).cast("double").as("v"))
      // read 4× per densify (three distinct-axis scans, the left join):
      // cache the one bounded aggregate instead of re-running the full
      // events scan each time (r12 review find); unpersisted by the
      // caller — the readback frame reads the FILE, not this
      .cache()
    // densify over the OBSERVED axes (zero-filled): broadcast-sized
    // distinct-axis frames cross-joined then left-joined back — the
    // 100 TB shape, no collect
    val dense = cells.select("day").distinct()
      .crossJoin(cells.select("latb").distinct())
      .crossJoin(cells.select("lonb").distinct())
      .join(cells, Seq("day", "latb", "lonb"), "left")
      .select(col("day"),
        col("day").cast("timestamp").as("time"),
        (col("latb") * 10.0).as("lat"),
        (lit(100.0) + col("lonb") * 10.0).as("lon"),
        coalesce(col("v"), lit(0.0)).as("value"))
    (cells, dense)
  }

  /** Write the dense grid as ONE member through the DSv2 `netcdf`
    * format's staging + driver-commit sink, on every call: the write is
    * what q_source_dsv2_write grades, so it never shares [[grid]].
    * Overwrite truncates a previous tier's member so staleness cannot
    * pass; an empty-events tier leaves `out` with no member. */
  private def writeDenseGrid(s: SparkSession, dir: String, out: String): Unit = {
    val (cells, dense) = denseGrid(s, dir)
    try gridMembers(dense, lit("grid"))
      .write.format("netcdf").mode("overwrite").save(out)
    finally cells.unpersist()
  }

  /** Fingerprint of the dense grid read back through `format("netcdf")`
    * from the shared member's directory in format `ext` (or, for
    * `dsv2Write`, a fresh sink write), filtered by `filter` when set —
    * the scan takes its lat/lon/time atoms as pushed filters. */
  private def gridRoundtrip(s: SparkSession, dir: String, ext: String,
                            filter: Option[Column] = None,
                            dsv2Write: Boolean = false)
      : DataFrame = {
    val archive =
      if (dsv2Write) {
        // the write key keeps its own artifact dir: the WRITE is what
        // it grades, so sharing would grade nothing
        val out = s"$roundtripRoot/dsv2w"
        writeDenseGrid(s, dir, out)
        out
      } else sharedGridMember(s, dir, ext)
    // Catalyst drives the pruning: the filter is accepted by
    // SupportsPushDownFilters (Spark-exact, fully handled — no
    // residual Filter in the plan) and becomes the hyperslab cover
    val read = s.read.format("netcdf").option("vars", "events").load(archive)
    gridFingerprint(filter.fold(read)(read.where))
  }

  /** The STREAMING read surface graded as a TRUE multi-batch replay
    * under failure (r15; was one Trigger.Once micro-batch over one
    * member). The up-to-three self-contained members of the shared
    * split archive (deterministic day mod 3, see [[grid]]) are copied
    * into this run's fresh stage and landed ONE AT A TIME into the
    * watched archive dir with a fresh Trigger.Once run
    * per arrival — so the checkpointed stream crosses one micro-batch
    * per member across restarts (≥3 at the standard tiers). After
    * batch 0 commits, the exactly-once crash WINDOW is exercised
    * deterministically: the checkpoint's commits/0 marker is deleted
    * (a crash after the sink commit but before the checkpoint commit —
    * the one window where at-least-once delivery happens) and the
    * restart must replay batch 0 from the offset WAL with the SAME
    * file set while the parquet sink's metadata log makes the
    * duplicate delivery a no-op. The graded fingerprint equals the
    * unbounded batch oracle iff no batch was lost, none doubled, and
    * the replay deduplicated — the full offset-WAL / sink-log commit
    * protocol end-to-end. */
  private def streamedGridFingerprint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = new java.io.File(gridPath(dir, "dsv2s"))
    // every run (and tier) starts from a clean replay dir
    graft.streaming.UpsertSink.deleteRecursively(root.toPath)
    val stage = new java.io.File(root, "stage")
    val land = new java.io.File(root, "land")
    val ckpt = new java.io.File(root, "ckpt")
    // the sink exists up front: a replay of zero members reads it empty
    val sink = new java.io.File(root, "sink")
    Seq(stage, land, sink).foreach(_.mkdirs())
    val members = Option(new java.io.File(sharedSplitArchive(s, dir)).listFiles())
      .getOrElse(Array.empty)
      .filter(m => m.getName.startsWith("m") && m.getName.endsWith(".h5"))
      .sortBy(_.getName)
      .map { m =>
        val staged = new java.io.File(stage, m.getName)
        java.nio.file.Files.copy(m.toPath, staged.toPath)
        staged
      }
    // rate-limited drain (r16): one file admitted per micro-batch
    // (SupportsAdmissionControl), AvailableNow loops batches until
    // the landed backlog is gone — so landing N files at once
    // still commits N distinct checkpointed batches
    def runDrain(): Unit = {
      val q = s.readStream.format("netcdf").option("vars", "events")
        .option("maxFilesPerTrigger", "1")
        .load(s"$land/*.h5")
        .writeStream.format("parquet").option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    members.headOption.foreach { m =>
      // member 0 lands alone: one batch, then a crash in the
      // exactly-once window (commit log entry lost after the sink
      // wrote) and a restart that must WAL-replay it
      java.nio.file.Files.move(m.toPath,
        new java.io.File(land, m.getName).toPath)
      runDrain()
      val c0 = new java.io.File(ckpt, "commits/0")
      require(c0.isFile,
        "netcdf stream replay: batch 0 never committed")
      require(c0.delete(),
        "netcdf stream replay: could not remove commits/0")
      // the local ChecksumFs shadows every log file with a .crc
      // sibling; a leftover one makes the replay's commit rename
      // fail as a phantom "concurrent query" — a real crash
      // loses both, so the simulation must too
      new java.io.File(ckpt, "commits/.0.crc").delete()
      runDrain() // restart: WAL replays batch 0, sink log dedups
      require(new java.io.File(ckpt, "commits/0").isFile,
        "netcdf stream replay: the restart did not recommit batch 0")
    }
    // the remaining members land ALL AT ONCE; admission control
    // must still split them one-per-batch inside a single run
    members.drop(1).foreach { m =>
      java.nio.file.Files.move(m.toPath,
        new java.io.File(land, m.getName).toPath)
    }
    if (members.length > 1) runDrain()
    // the run provably crossed one committed batch per member —
    // a silent skip or a phantom extra batch fails by name here
    val committed = Option(new java.io.File(ckpt, "commits").list())
      .getOrElse(Array.empty[String])
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted
    require(committed.toSeq == (0L until members.length.toLong),
      s"netcdf stream replay: committed batches ${committed.mkString(",")} " +
        s"for ${members.length} members")
    gridFingerprint(s.read.schema(org.apache.spark.sql.Encoders
      .product[NetcdfSource.GridRow].schema).parquet(sink.toString))
  }

  /** Per-latitude fingerprint every grid key grades through. */
  private def gridFingerprint(readBack: DataFrame): DataFrame =
    readBack
      .groupBy(col("lat"))
      .agg(count(lit(1)).cast("long").as("n_cells"),
        sum(col("value")).cast("long").as("sum_val"),
        sum(col("value") *
          datediff(to_date(col("time")), lit("1970-01-01")))
          .cast("long").as("t_sig"))
      .orderBy(col("lat"))

  val oracle: Map[String, String] = Map(
    // the bucketed-rewrite join vs the same join from the BASE tables
    "q_source_bucketed_join" ->
      """SELECT o_orderpriority,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_c,
        |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT)
        |    AS sum_qty_c,
        |  MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_source_csv_roundtrip" ->
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(length(text)) AS BIGINT) AS sum_len,
         |  CAST(SUM(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15)
         |    AS BIGINT) % 1000003) AS BIGINT) AS sig
         |FROM read_csv('$roundtripRoot/csv/*.csv.gz', header=true,
         |  allow_quoted_nulls=false, nullstr='\\N', escape='"',
         |  columns={'doc_id': 'BIGINT', 'lang': 'VARCHAR', 'text': 'VARCHAR'})
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_source_jsonl_roundtrip" ->
      s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(length(text)) AS BIGINT) AS sum_len,
         |  CAST(SUM(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15)
         |    AS BIGINT) % 1000003) AS BIGINT) AS sig
         |FROM read_json('$roundtripRoot/jsonl/*.json.gz',
         |  format='newline_delimited',
         |  columns={'doc_id': 'BIGINT', 'source': 'VARCHAR', 'text': 'VARCHAR'})
         |GROUP BY source ORDER BY source""".stripMargin,

    // base-table oracles: DuckDB has no ORC/XML reader, so it computes
    // the expected fingerprint straight from documents — the Spark
    // result only matches if write→read through the format lost nothing
    "q_source_orc_roundtrip" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_len,
        |  CAST(SUM(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15)
        |    AS BIGINT) % 1000003) AS BIGINT) AS sig
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_source_xml_roundtrip" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_len,
        |  CAST(SUM(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15)
        |    AS BIGINT) % 1000003) AS BIGINT) AS sig
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // base-table oracles (DuckDB reads neither grid format): recompute
    // the dense-grid fingerprint straight from events. Dense zero
    // cells add nothing to the sums, so sum_val/t_sig reduce to
    // per-event sums; n_cells is the dense count: distinct-days ×
    // observed-lon-buckets. The classic and hdf5 twins must agree with
    // the SAME oracle — the formats differ only in bytes on disk.
    "q_source_netcdf_roundtrip" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(user_id % 3 AS INT) AS latb,
        |    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS lonb,
        |    COUNT(*) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |shape AS (
        |  SELECT COUNT(DISTINCT day) AS nt, COUNT(DISTINCT lonb) AS nlon
        |  FROM cells)
        |SELECT CAST(latb * 10 AS DOUBLE) AS lat,
        |  CAST(nt * nlon AS BIGINT) AS n_cells,
        |  CAST(SUM(v) AS BIGINT) AS sum_val,
        |  CAST(SUM(v * datediff('day', DATE '1970-01-01', day)) AS BIGINT) AS t_sig
        |FROM cells, shape
        |GROUP BY latb, nt, nlon ORDER BY lat""".stripMargin,
    "q_source_hdf5_roundtrip" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(user_id % 3 AS INT) AS latb,
        |    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS lonb,
        |    COUNT(*) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |shape AS (
        |  SELECT COUNT(DISTINCT day) AS nt, COUNT(DISTINCT lonb) AS nlon
        |  FROM cells)
        |SELECT CAST(latb * 10 AS DOUBLE) AS lat,
        |  CAST(nt * nlon AS BIGINT) AS n_cells,
        |  CAST(SUM(v) AS BIGINT) AS sum_val,
        |  CAST(SUM(v * datediff('day', DATE '1970-01-01', day)) AS BIGINT) AS t_sig
        |FROM cells, shape
        |GROUP BY latb, nt, nlon ORDER BY lat""".stripMargin,
    // the ZARR roundtrip grades through the SAME oracle as the
    // netcdf/hdf5 twins (formats differ only in bytes on disk)
    "q_source_zarr_roundtrip" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(user_id % 3 AS INT) AS latb,
        |    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS lonb,
        |    COUNT(*) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |shape AS (
        |  SELECT COUNT(DISTINCT day) AS nt, COUNT(DISTINCT lonb) AS nlon
        |  FROM cells)
        |SELECT CAST(latb * 10 AS DOUBLE) AS lat,
        |  CAST(nt * nlon AS BIGINT) AS n_cells,
        |  CAST(SUM(v) AS BIGINT) AS sum_val,
        |  CAST(SUM(v * datediff('day', DATE '1970-01-01', day)) AS BIGINT) AS t_sig
        |FROM cells, shape
        |GROUP BY latb, nt, nlon ORDER BY lat""".stripMargin,
    // and the bounded Zarr read mirrors q_source_grid_subset's bounds
    "q_source_zarr_subset" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(user_id % 3 AS INT) AS latb,
        |    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS lonb,
        |    COUNT(*) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |shape AS (
        |  SELECT COUNT(DISTINCT day) AS nt,
        |    COUNT(DISTINCT CASE WHEN lonb <= 2 THEN lonb END) AS nlon
        |  FROM cells)
        |SELECT CAST(latb * 10 AS DOUBLE) AS lat,
        |  CAST(nt * nlon AS BIGINT) AS n_cells,
        |  CAST(SUM(CASE WHEN lonb <= 2 THEN v ELSE 0 END) AS BIGINT) AS sum_val,
        |  CAST(SUM(CASE WHEN lonb <= 2
        |    THEN v * datediff('day', DATE '1970-01-01', day) ELSE 0 END)
        |    AS BIGINT) AS t_sig
        |FROM cells, shape
        |WHERE latb >= 1 AND nlon > 0
        |GROUP BY latb, nt, nlon ORDER BY lat""".stripMargin,

    // Bounds mirror: latMin=5 keeps latb>=1 (lat = latb*10); lonMax=125
    // keeps lonb<=2 (lon = 100+lonb*10). The dense zero-filled cells
    // contribute 0 to the sums, so the bounded sums are plain filtered
    // sums; n_cells is nt x the IN-BOUND observed-lon count. nlon=0
    // (no in-bound lon column at all) means the bounded read emits NO
    // rows — the WHERE nlon > 0 guard mirrors that empty axis
    // intersection exactly (degenerate one-event tiers hit this).
    // the STREAMING twin drains the member as one micro-batch and must
    // hit the same unbounded fingerprint — stream rows ≡ batch rows
    "q_source_dsv2_stream" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(user_id % 3 AS INT) AS latb,
        |    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS lonb,
        |    COUNT(*) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |shape AS (
        |  SELECT COUNT(DISTINCT day) AS nt, COUNT(DISTINCT lonb) AS nlon
        |  FROM cells)
        |SELECT CAST(latb * 10 AS DOUBLE) AS lat,
        |  CAST(nt * nlon AS BIGINT) AS n_cells,
        |  CAST(SUM(v) AS BIGINT) AS sum_val,
        |  CAST(SUM(v * datediff('day', DATE '1970-01-01', day)) AS BIGINT) AS t_sig
        |FROM cells, shape
        |GROUP BY latb, nt, nlon ORDER BY lat""".stripMargin,
    // the DSv2 WRITE twin re-derives the UNBOUNDED fingerprint (same
    // SQL as the hdf5 roundtrip) — equality holds iff the staged
    // commit-protocol sink wrote every dense cell, fresh on each call
    "q_source_dsv2_write" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(user_id % 3 AS INT) AS latb,
        |    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS lonb,
        |    COUNT(*) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |shape AS (
        |  SELECT COUNT(DISTINCT day) AS nt, COUNT(DISTINCT lonb) AS nlon
        |  FROM cells)
        |SELECT CAST(latb * 10 AS DOUBLE) AS lat,
        |  CAST(nt * nlon AS BIGINT) AS n_cells,
        |  CAST(SUM(v) AS BIGINT) AS sum_val,
        |  CAST(SUM(v * datediff('day', DATE '1970-01-01', day)) AS BIGINT) AS t_sig
        |FROM cells, shape
        |GROUP BY latb, nt, nlon ORDER BY lat""".stripMargin,
    // the DSv2 twin's predicates are the SAME bounds (lat >= 5,
    // lon <= 125), so the oracle is the grid_subset SQL verbatim —
    // the hand-written predicates must equal the
    // GridBounds.predicate read cell-for-cell
    "q_source_dsv2_pushdown" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(user_id % 3 AS INT) AS latb,
        |    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS lonb,
        |    COUNT(*) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |shape AS (
        |  SELECT COUNT(DISTINCT day) AS nt,
        |    COUNT(DISTINCT CASE WHEN lonb <= 2 THEN lonb END) AS nlon
        |  FROM cells)
        |SELECT CAST(latb * 10 AS DOUBLE) AS lat,
        |  CAST(nt * nlon AS BIGINT) AS n_cells,
        |  CAST(SUM(CASE WHEN lonb <= 2 THEN v ELSE 0 END) AS BIGINT) AS sum_val,
        |  CAST(SUM(CASE WHEN lonb <= 2
        |    THEN v * datediff('day', DATE '1970-01-01', day) ELSE 0 END)
        |    AS BIGINT) AS t_sig
        |FROM cells, shape
        |WHERE latb >= 1 AND nlon > 0
        |GROUP BY latb, nt, nlon ORDER BY lat""".stripMargin,
    "q_source_catalog" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(user_id % 3 AS INT) AS latb,
        |    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS lonb,
        |    COUNT(*) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |shape AS (
        |  SELECT COUNT(DISTINCT day) AS nt,
        |    COUNT(DISTINCT CASE WHEN lonb <= 2 THEN lonb END) AS nlon
        |  FROM cells)
        |SELECT CAST(latb * 10 AS DOUBLE) AS lat,
        |  CAST(nt * nlon AS BIGINT) AS n_cells,
        |  CAST(SUM(CASE WHEN lonb <= 2 THEN v ELSE 0 END) AS BIGINT) AS sum_val,
        |  CAST(SUM(CASE WHEN lonb <= 2
        |    THEN v * datediff('day', DATE '1970-01-01', day) ELSE 0 END)
        |    AS BIGINT) AS t_sig
        |FROM cells, shape
        |WHERE latb >= 1 AND nlon > 0
        |GROUP BY latb, nt, nlon ORDER BY lat""".stripMargin,

    "q_source_grid_subset" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(user_id % 3 AS INT) AS latb,
        |    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS lonb,
        |    COUNT(*) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |shape AS (
        |  SELECT COUNT(DISTINCT day) AS nt,
        |    COUNT(DISTINCT CASE WHEN lonb <= 2 THEN lonb END) AS nlon
        |  FROM cells)
        |SELECT CAST(latb * 10 AS DOUBLE) AS lat,
        |  CAST(nt * nlon AS BIGINT) AS n_cells,
        |  CAST(SUM(CASE WHEN lonb <= 2 THEN v ELSE 0 END) AS BIGINT) AS sum_val,
        |  CAST(SUM(CASE WHEN lonb <= 2
        |    THEN v * datediff('day', DATE '1970-01-01', day) ELSE 0 END)
        |    AS BIGINT) AS t_sig
        |FROM cells, shape
        |WHERE latb >= 1 AND nlon > 0
        |GROUP BY latb, nt, nlon ORDER BY lat""".stripMargin,

    // q_climate_pipeline_nc: the oracle recomputes the DENSE grid the
    // HDF5 member carries (observed-axis cross join, zero-filled —
    // unlike the fingerprint keys the zero cells here are load-bearing:
    // they enter the anomaly window's denominator), then mirrors every
    // chained stage. All sums are exact integer counts in doubles; the
    // one division is the terminal window AVG over exact sums —
    // correctly rounded identically in both engines, graded unrounded
    // (the q_climate_pipeline precedent). Both engines truncate weeks
    // to ISO Monday.
    "q_climate_pipeline_nc" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(user_id % 3 AS INT) AS latb,
        |    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS lonb,
        |    COUNT(*) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |dense AS (
        |  SELECT d.day, l.latb, b.lonb, COALESCE(c.v, 0) AS v
        |  FROM (SELECT DISTINCT day FROM cells) d
        |  CROSS JOIN (SELECT DISTINCT latb FROM cells) l
        |  CROSS JOIN (SELECT DISTINCT lonb FROM cells) b
        |  LEFT JOIN cells c
        |    ON c.day = d.day AND c.latb = l.latb AND c.lonb = b.lonb),
        |grid AS (
        |  SELECT CAST(day AS TIMESTAMP) AS time,
        |    CAST(latb * 10 AS DOUBLE) AS lat,
        |    CAST(100 + lonb * 10 AS DOUBLE) AS lon,
        |    CAST(v AS DOUBLE) AS value
        |  FROM dense),
        |sub AS (
        |  SELECT * FROM grid
        |  WHERE lat BETWEEN 5 AND 25 AND lon BETWEEN 90 AND 135
        |    AND time BETWEEN TIMESTAMP '2024-01-03 00:00:00'
        |                 AND TIMESTAMP '2024-01-28 00:00:00'),
        |rg AS (
        |  SELECT time, FLOOR(lat / 20.0) * 20.0 AS lat,
        |    FLOOR(lon / 20.0) * 20.0 AS lon, SUM(value) AS value
        |  FROM sub GROUP BY 1, 2, 3),
        |wk AS (
        |  SELECT date_trunc('week', time) AS time, lat, lon,
        |    SUM(value) AS value
        |  FROM rg GROUP BY 1, 2, 3)
        |-- dataset = the DSv2 member tag (file basename, extension kept)
        |SELECT 'grid.h5' AS dataset, strftime(time, '%Y-%m-%d %H:%M:%S') AS time,
        |  lat, lon,
        |  CAST(value AS BIGINT) AS value_ct,
        |  (value - AVG(value) OVER (PARTITION BY month(time), lat, lon))
        |    AS anomaly
        |FROM wk
        |ORDER BY dataset, time, lat, lon""".stripMargin,

    // q_source_dsv2_agg: the bounded extrema recomputed from the
    // OBSERVED axes (the file's coordinate vectors are the events
    // table's distinct buckets); each extremum NULLs when the bounded
    // cell product is empty — min/max over zero rows.
    "q_source_dsv2_agg" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(user_id % 3 AS INT) AS latb,
        |    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS lonb,
        |    COUNT(*) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |sh AS (
        |  SELECT COUNT(DISTINCT day) AS nt,
        |    COUNT(DISTINCT CASE WHEN latb >= 1 THEN latb END) AS nla,
        |    COUNT(DISTINCT CASE WHEN lonb <= 2 THEN lonb END) AS nlo,
        |    MIN(CASE WHEN latb >= 1 THEN latb END) AS minla,
        |    MAX(CASE WHEN lonb <= 2 THEN lonb END) AS maxlo,
        |    MIN(day) AS mind, MAX(day) AS maxd
        |  FROM cells)
        |SELECT CAST(nt * nla * nlo AS BIGINT) AS n_cells,
        |  CASE WHEN nt * nla * nlo > 0
        |    THEN CAST(minla * 10 AS DOUBLE) END AS lat_min,
        |  CASE WHEN nt * nla * nlo > 0
        |    THEN CAST(100 + maxlo * 10 AS DOUBLE) END AS lon_max,
        |  CASE WHEN nt * nla * nlo > 0
        |    THEN strftime(CAST(mind AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')
        |    END AS t_min,
        |  CASE WHEN nt * nla * nlo > 0
        |    THEN strftime(CAST(maxd AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')
        |    END AS t_max
        |FROM sh""".stripMargin,

    // q_source_dsv2_agg_grouped: per-member groups recomputed from the
    // base events table — member = day mod 3, axes shared across
    // members (the densify rule), lat bound latb >= 1 mirrors the
    // pushed lat >= 10 filter; a member whose survivor product is zero
    // emits NO row (the SQL empty-group rule the pushed scan must
    // reproduce).
    "q_source_dsv2_agg_grouped" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(user_id % 3 AS INT) AS latb,
        |    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS lonb,
        |    COUNT(*) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |axes AS (
        |  SELECT COUNT(DISTINCT CASE WHEN latb >= 1 THEN latb END) AS nla,
        |    COUNT(DISTINCT lonb) AS nlo,
        |    MIN(CASE WHEN latb >= 1 THEN latb END) AS minla,
        |    MAX(lonb) AS maxlo
        |  FROM cells),
        |mem AS (
        |  SELECT CAST((day - DATE '1970-01-01') % 3 AS INT) AS m,
        |    COUNT(DISTINCT day) AS nt, MIN(day) AS mind, MAX(day) AS maxd
        |  FROM cells GROUP BY 1)
        |SELECT 'm' || CAST(m AS VARCHAR) || '.h5' AS dataset,
        |  CAST(nt * nla * nlo AS BIGINT) AS n_cells,
        |  CAST(minla * 10 AS DOUBLE) AS lat_min,
        |  CAST(100 + maxlo * 10 AS DOUBLE) AS lon_max,
        |  strftime(CAST(mind AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS t_min,
        |  strftime(CAST(maxd AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS t_max
        |FROM mem CROSS JOIN axes
        |WHERE nt * nla * nlo > 0
        |ORDER BY dataset""".stripMargin,

    // q_source_catalog_ensemble: the aligned cell set recomputed from
    // base events — sparse per-parity counts, the pushed lat bound in
    // WHERE, alignment = cells both parities populate.
    "q_source_catalog_ensemble" ->
      """WITH cells AS (
        |  SELECT CAST(event_id % 2 AS INT) AS par,
        |    date_trunc('day', ts) AS time,
        |    CAST((user_id % 3) * 10 AS DOUBLE) AS lat,
        |    CAST(100 + (CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END) * 10
        |      AS DOUBLE) AS lon,
        |    CAST(COUNT(*) AS DOUBLE) AS value
        |  FROM events
        |  WHERE (user_id % 3) * 10 >= 10
        |  GROUP BY 1, 2, 3, 4),
        |aligned AS (
        |  SELECT time, lat, lon FROM cells
        |  GROUP BY 1, 2, 3
        |  HAVING COUNT(DISTINCT par) = 2)
        |SELECT 'e' || CAST(par AS VARCHAR) || '.h5' AS dataset,
        |  strftime(time, '%Y-%m-%d %H:%M:%S') AS time, lat, lon, value
        |FROM cells JOIN aligned USING (time, lat, lon)
        |ORDER BY dataset, time, lat, lon""".stripMargin)
}
