package perfbench

import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite {
  private def run(expected: Option[Long], build: () => Seq[Int]) =
    Runner.run(0, "q_x", "M", 1, expected, build, (xs: Seq[Int]) => xs.size.toLong)

  test("a key with its pinned row count is an ordinary sample") {
    val s = run(Some(3), () => Seq(1, 2, 3))
    assert(!s.failed && s.rows == 3 && s.endNs >= s.builtNs && s.builtNs >= s.startNs)
  }

  test("a key that throws is a failure named by its stack head, not a time") {
    val s = run(Some(3), () => throw new IllegalStateException("deliberate"))
    assert(s.failed && s.rows == -1)
    assert(s.error.get.startsWith("java.lang.IllegalStateException: deliberate"))
    assert(s.error.get.contains("  at "))
  }

  test("a key whose count throws is a failure too") {
    val s = Runner.run(0, "q_x", "M", 0, Some(1L), () => 1,
      (_: Int) => throw new RuntimeException("count failed"))
    assert(s.error.get.startsWith("java.lang.RuntimeException: count failed"))
  }

  test("a wrong row count is a failure") {
    val s = run(Some(4), () => Seq(1, 2, 3))
    assert(s.failed && s.error.contains("wrong row count: expected 4, got 3"))
  }

  test("a key without a pinned count is a failure") {
    assert(run(None, () => Seq(1)).error.get.startsWith("no pinned row count"))
  }

  test("counter deltas are split between build and count") {
    var c = 0L
    val s = Runner.run(0, "q_x", "M", 0, Some(1L), () => { c += 5; 1 },
      (_: Int) => { c += 7; 1L }, () => (c, c / 5))
    assert(s.codegen == Counters(5, 1, 7, 1))
  }
}
