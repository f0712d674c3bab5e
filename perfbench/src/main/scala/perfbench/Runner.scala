package perfbench

/** One timed execution of one key: `build` is `fn(spark, dir)`, `count`
  * is the `.count()` on its result. A key that throws or whose count
  * differs from the pinned one is a failure carrying its reason, never
  * an ordinary time. */
final case class Sample(id: Int, key: String, module: String, pass: Int,
                        startNs: Long, builtNs: Long, endNs: Long,
                        rows: Long, expected: Option[Long], error: Option[String],
                        codegen: Counters) {
  def failed: Boolean = error.nonEmpty
}

/** Counter deltas sampled around a key's build and count (traced runs). */
final case class Counters(buildCompileNs: Long, buildCompiles: Long,
                          countCompileNs: Long, countCompiles: Long)

object Runner {
  /** Times `build` then `count`, and classifies the outcome against
    * `expected`. `probe` reads (compile ns, compile count); it is only
    * a cost in traced runs. */
  def run[T](id: Int, key: String, module: String, pass: Int, expected: Option[Long],
             build: () => T, count: T => Long,
             probe: () => (Long, Long) = () => (0L, 0L)): Sample = {
    val p0 = probe()
    val t0 = System.nanoTime()
    var t1 = t0
    var p1 = p0
    val (rows, error) =
      try {
        val df = build()
        t1 = System.nanoTime()
        p1 = probe()
        val n = count(df)
        expected match {
          case Some(e) if e == n => (n, None)
          case Some(e) => (n, Some(s"wrong row count: expected $e, got $n"))
          case None => (n, Some(s"no pinned row count for $key (got $n)"))
        }
      } catch {
        case e: Throwable =>
          if (t1 == t0) { t1 = System.nanoTime(); p1 = probe() }
          (-1L, Some(stackHead(e)))
      }
    val t2 = System.nanoTime()
    val p2 = probe()
    Sample(id, key, module, pass, t0, t1, t2, rows, expected, error,
      Counters(p1._1 - p0._1, p1._2 - p0._2, p2._1 - p1._1, p2._2 - p1._2))
  }

  /** The exception and its causes, one line each, then the top frames. */
  def stackHead(e: Throwable, frames: Int = 4): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(3)
      .map(c => s"${c.getClass.getName}: ${Option(c.getMessage).getOrElse("").linesIterator
        .nextOption().getOrElse("").take(300)}").toSeq
    (chain ++ e.getStackTrace.take(frames).map("  at " + _)).mkString("\n")
  }
}
