package perfbench

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {
  private val modules = Map("A" -> Set("q1", "q2"), "B" -> Set("q3"), "C" -> Set("q4"))
  private val all = Set("q1", "q2", "q3", "q4")

  test("a partition of every key into one workload passes") {
    assert(Workloads.check(Map("w1" -> Seq("A"), "w2" -> Seq("B", "C")), modules, all).isEmpty)
  }

  test("overlapping key sets are reported") {
    val errs = Workloads.check(Map("w1" -> Seq("A"), "w2" -> Seq("B", "C")),
      modules.updated("C", Set("q4", "q1")), all)
    assert(errs == Seq("key q1 is in modules A, C"))
  }

  test("a union that differs from SparkEntry.queries is reported both ways") {
    val errs = Workloads.check(Map("w1" -> Seq("A", "B", "C")), modules, all - "q2" + "q9")
    assert(errs == Seq("key q9 is in no workload", "key q2 is not in SparkEntry.queries"))
  }

  test("a module in no workload or in two is reported") {
    val errs = Workloads.check(Map("w1" -> Seq("A", "B"), "w2" -> Seq("B")), modules, all)
    assert(errs.contains("module B is in 2 workloads"))
    assert(errs.contains("module C is in 0 workloads"))
    assert(errs.contains("key q4 is in no workload"))
  }

  test("the real workloads hold every key of SparkEntry.queries exactly once") {
    assert(Workloads.guard().isEmpty)
    val sizes = Workloads.workloads.map { case (w, ms) => w -> ms.map(Workloads.modules(_).size).sum }
    assert(sizes.values.sum == graft.SparkEntry.queries.size)
    assert(sizes == Map("relational" -> 79, "llm_pipeline" -> 60, "climate_io" -> 54))
  }

  test("a run measures the sampled keys of its workload") {
    val sizes = Workloads.workloads.keys.map(w => w -> Workloads.keys(w, 0).size).toMap
    assert(sizes == Map("relational" -> 41, "llm_pipeline" -> 32, "climate_io" -> 28))
  }

  test("a sampled key outside its workload and a module with no sampled key are reported") {
    val errs = Workloads.check(Map("w1" -> Seq("A"), "w2" -> Seq("B", "C")), modules, all) ++
      Workloads.checkSample(Map("w1" -> Seq("A"), "w2" -> Seq("B", "C")), modules,
        Map("w1" -> Seq("q1", "q3"), "w2" -> Seq("q4")))
    assert(errs == Seq("measured key q3 is not in workload w1", "module B has no measured key in workload w2"))
  }

  test("the warm-up wrapper around q_scan_project is not in relational") {
    val (_, _, q) = Workloads.keys("relational", 0).find(_._2 == "q_scan_project").get
    assert(q eq graft.ops.Relational.queries("q_scan_project"))
  }

  test("the seed permutes the key order and nothing else") {
    val a = Workloads.keys("climate_io", 1).map(_._2)
    val b = Workloads.keys("climate_io", 2).map(_._2)
    assert(a != b && a.sorted == b.sorted)
    assert(a == Workloads.keys("climate_io", 1).map(_._2))
  }
}
