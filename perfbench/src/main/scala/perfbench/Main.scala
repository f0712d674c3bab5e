package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One benchmark run in a fresh JVM: build the session the way
  * `graft.Bench` does, run one cold pass over the workload's keys, then
  * warm passes in the same session until `--seconds` have passed since
  * the cold pass began, and at least `MinWarmPasses`. Each pass takes
  * the keys in its own order, drawn from the seed, so that a run
  * averages over several orders. One client thread, closed loop.
  * Writes the raw run record as JSON to `--out`; `run.py` turns it into
  * metrics.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --data DIR
  *       --expected FILE --out FILE --launch-ns N --cpus C */
object Main {
  /** Two warm passes give the tail-percentile rule enough samples (at
    * least 56) for p75 on every workload. */
  val MinWarmPasses = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchNs = opt("launch-ns").toLong
    // one clock for everything: epoch ns, from the monotonic clock
    val epoch0 = java.time.Instant.now()
    val nano0 = System.nanoTime()
    val baseNs = epoch0.getEpochSecond * 1000000000L + epoch0.getNano - nano0
    def rel(nano: Long): Double = (baseNs + nano - launchNs) / 1e6
    def relEpochMs(ms: Long): Double = (ms * 1000000L - launchNs) / 1e6

    val workload = opt("workload")
    val traced = opt("trace") == "1"
    val problems = Workloads.guard()
    if (problems.nonEmpty) {
      System.err.println(problems.mkString("[perfbench] key partition broken:\n  ", "\n  ", ""))
      sys.exit(2)
    }
    val expected = Files.readAllLines(Paths.get(opt("expected"))).asScala
      .filter(_.contains('\t')).map { l => val Array(k, n) = l.split('\t'); k -> n.toLong }.toMap
    val keys = Workloads.keys(workload, opt("seed").toLong)
    val orders = scala.collection.mutable.ArrayBuffer(keys)
    val shuffles = new scala.util.Random(opt("seed").toLong)
    val dir = opt("data")
    val cpus = opt("cpus")

    val trace = if (traced) Some(new Trace) else None
    val sb0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    trace.foreach(_.attach(spark))
    val sb1 = System.nanoTime()

    val probe: () => (Long, Long) = if (traced) () => Trace.codegen() else () => (0L, 0L)
    val jit = ManagementFactory.getCompilationMXBean
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Json.Raw]
    var deadline = Long.MaxValue
    var pass = 0
    while (pass <= Main.MinWarmPasses || System.nanoTime() < deadline) {
      if (pass > 0) orders += shuffles.shuffle(keys)
      heapPools.foreach(_.resetPeakUsage())
      val jit0 = jit.getTotalCompilationTime
      val p0 = System.nanoTime()
      if (pass == 0) deadline = p0 + opt("seconds").toLong * 1000000000L
      orders(pass).foreach { case (module, key, fn) =>
        samples += Runner.run(samples.size, key, module, pass, expected.get(key),
          () => { val df = fn(spark, dir); trace.foreach(_.built(df)); df },
          (df: org.apache.spark.sql.DataFrame) => df.count(), probe)
      }
      val p1 = System.nanoTime()
      val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      passes += Json.obj("pass" -> pass, "start_ms" -> rel(p0), "end_ms" -> rel(p1),
        "jit_ms" -> (jit.getTotalCompilationTime - jit0), "heap_peak_mb" -> heapMb)
      pass += 1
    }
    trace.foreach(_.drain(spark))

    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    def conf(k: String): String = try spark.conf.get(k) catch { case _: Exception => "unset" }
    val confs = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
      "spark.sql.codegen.cache.maxEntries").map(k => k -> conf(k))
    val sampleJson = samples.map { s =>
      Json.obj("id" -> s.id, "key" -> s.key, "module" -> s.module, "pass" -> s.pass,
        "start_ms" -> rel(s.startNs), "built_ms" -> rel(s.builtNs), "end_ms" -> rel(s.endNs),
        "rows" -> s.rows, "expected" -> s.expected.getOrElse(-1L), "error" -> s.error,
        "build_compile_ns" -> s.codegen.buildCompileNs, "build_compiles" -> s.codegen.buildCompiles,
        "count_compile_ns" -> s.codegen.countCompileNs, "count_compiles" -> s.codegen.countCompiles)
    }
    val traceJson = trace.map { t => t.synchronized {
      Json.obj(
        "jobs" -> Json.arr(t.jobs.map { case (s, e) => Json.arr(Seq(relEpochMs(s), relEpochMs(e))) }),
        "stages" -> Json.arr(t.stages.map(relEpochMs)),
        "tasks" -> Json.arr(t.tasks.map(a => Json.arr((relEpochMs(a(0)) +: a.tail.toSeq.map(_.toDouble))))),
        "phases" -> Json.arr(t.phases.map { case (p, s, e) =>
          Json.arr(Seq(Json.str(p), relEpochMs(s), relEpochMs(e))) }),
        "batches" -> Json.arr(t.batches.map { case (s, d, n) => Json.arr(Seq(relEpochMs(s), d, n)) }))
    }}
    val record = Json.obj(
      "workload" -> workload, "seed" -> opt("seed").toLong, "trace" -> traced,
      "cpus" -> cpus.toInt, "data" -> dir,
      "orders" -> Json.arr(orders.map(o => Json.arr(o.map(k => Json.str(k._2))))),
      "session_build_start_ms" -> rel(sb0), "session_ready_ms" -> rel(sb1),
      "passes" -> Json.arr(passes), "samples" -> Json.arr(sampleJson),
      "cached_mb" -> cachedMb, "confs" -> Json.obj(confs.map { case (k, v) => k -> (v: Any) }: _*),
      "java_version" -> System.getProperty("java.version"), "spark_version" -> spark.version,
      "trace_events" -> traceJson)
    Files.writeString(Paths.get(opt("out")), record.s)
    spark.stop()
    sys.exit(0)
  }
}

/** Just enough JSON writing for the run record. Values already
  * rendered (nested objects and arrays) are passed as `Json.Raw`. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }
  def str(s: String): Raw = Raw("\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\"")
  private def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case r: Raw => r.s
    case s: String => str(s).s
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString).s
  }
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k).s + ":" + value(v) }.mkString("{", ",", "}"))
  def arr(xs: Iterable[Any]): Raw = Raw(xs.map(value).mkString("[", ",", "]"))
}
