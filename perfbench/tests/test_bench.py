"""Tests for the benchmark's Python side: python3 -m unittest discover perfbench/tests"""

import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import record  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailPercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(54), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 75), 75)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([5, 1, 3], 50), 3)
        self.assertEqual(stats.percentile([7], 99.9), 7)
        self.assertEqual(stats.percentile([], 50), 0.0)


def span(start, end, parent=None, layer="x", **kw):
    return dict(start=start, end=end, parent=parent, layer=layer, **kw)


class SelfTime(unittest.TestCase):
    def by_id(self, spans):
        out = {}
        for sid, layer, ms in stats.self_times(spans):
            out[(sid, layer)] = out.get((sid, layer), 0.0) + ms
        return out

    def test_span_minus_what_its_children_cover(self):
        got = self.by_id({"root": span(0, 10), "a": span(2, 4, "root"), "b": span(6, 7, "root")})
        self.assertEqual(got[("root", "x")], 7)
        self.assertEqual(got[("a", "x")], 2)
        self.assertEqual(got[("b", "x")], 1)

    def test_overlapping_children_are_counted_once(self):
        got = self.by_id({"root": span(0, 10), "a": span(2, 5, "root"), "b": span(4, 6, "root")})
        self.assertEqual(got[("root", "x")], 6)
        self.assertEqual(got[("a", "x")] + got[("b", "x")], 4)

    def test_nested_self_times_add_up_to_the_root(self):
        spans = {"root": span(0, 10), "k": span(1, 9, "root"), "c": span(3, 8, "k"),
                 "j": span(4, 6, "c")}
        got = self.by_id(spans)
        self.assertEqual(got[("k", "x")], 3)
        self.assertEqual(got[("c", "x")], 3)
        self.assertEqual(got[("j", "x")], 2)
        self.assertEqual(sum(got.values()), 10)

    def test_carve_moves_at_most_the_self_time(self):
        got = self.by_id({"c": span(0, 10, carve=("codegen", 3)),
                          "j": span(2, 9, "c", carve=("codegen", 50))})
        self.assertEqual(got[("c", "codegen")], 3)
        self.assertEqual(got[("c", "x")], 0)
        self.assertEqual(got[("j", "codegen")], 7)
        self.assertEqual(got[("j", "x")], 0)


def sample(i, key, module, p, start, built, end, error=None):
    return dict(id=i, key=key, module=module, pass_=p, start_ms=start, built_ms=built,
                end_ms=end, rows=1, expected=1, error=error, build_compile_ns=0,
                build_compiles=0, count_compile_ns=int(1e6), count_compiles=1, **{"pass": p})


class RunRecord(unittest.TestCase):
    def rec(self):
        return dict(
            cpus=2, session_build_start_ms=100.0, session_ready_ms=900.0, cached_mb=1.5,
            passes=[dict(pass_=0, start_ms=1000.0, end_ms=1100.0, jit_ms=5, heap_peak_mb=10.0,
                         **{"pass": 0}),
                    dict(pass_=1, start_ms=1100.0, end_ms=1150.0, jit_ms=1, heap_peak_mb=9.0,
                         **{"pass": 1})],
            samples=[sample(0, "q_a", "Joins", 0, 1000.0, 1040.0, 1100.0),
                     sample(1, "q_a", "Joins", 1, 1100.0, 1110.0, 1150.0)],
            trace_events=dict(jobs=[[1050.0, 1090.0], [1120.0, 1140.0]],
                              stages=[1089.0, 1139.0], phases=[["planning", 1041.0, 1045.0]],
                              tasks=[[1089.0, 30, 2e7, 1, 1048576, 0, 0, 0, 0, 2097152, 0]],
                              batches=[]))

    def test_listener_events_attach_to_the_enclosing_key_call(self):
        sp = record.spans(self.rec())
        self.assertEqual(sp["j0"]["parent"], "c0")
        self.assertEqual(sp["j1"]["parent"], "c1")
        self.assertEqual(sp["q0"]["parent"], "c0")
        self.assertEqual(sp["j1"]["pass_"], 1)

    def test_per_pass_layers_cover_the_pass(self):
        pp = record.per_pass(self.rec())
        cold = pp[0]
        self.assertAlmostEqual(cold["self.ops_s"], 0.040)
        self.assertAlmostEqual(cold["self.catalyst_s"], 0.004)
        self.assertAlmostEqual(cold["self.codegen_s"], 0.001)
        self.assertAlmostEqual(cold["self.exec_s"], 0.040)
        self.assertAlmostEqual(cold["self.query_s"], 0.015)
        self.assertAlmostEqual(record.coverage(cold), 0.85)
        self.assertEqual(cold["exec.jobs"], 1)
        self.assertEqual(cold["exec.stages"], 1)
        self.assertAlmostEqual(cold["exec.input_mb"], 1.0)
        self.assertAlmostEqual(cold["exec.busy_frac"], 0.030 / (0.1 * 2))
        self.assertAlmostEqual(cold["ops.Joins.pass_s"], 0.1)

    def test_analysis_inside_the_build_lands_in_catalyst(self):
        rec = self.rec()
        rec["trace_events"]["phases"].append(["analysis", 1010.0, 1030.0])
        sp = record.spans(rec)
        self.assertEqual(sp["q1"]["parent"], "b0")
        cold = record.per_pass(rec)[0]
        self.assertAlmostEqual(cold["catalyst.analysis_ms"], 20.0)
        self.assertAlmostEqual(cold["self.catalyst_s"], 0.024)
        self.assertAlmostEqual(cold["self.ops_s"], 0.020)

    def test_a_pass_without_listener_events_is_not_covered(self):
        rec = self.rec()
        rec["trace_events"] = dict(jobs=[], stages=[], phases=[], tasks=[], batches=[])
        for p in record.per_pass(rec).values():
            self.assertLess(record.coverage(p), 0.9)

    def test_end_to_end(self):
        rec = self.rec()
        rec["samples"][1]["error"] = "boom"
        m = record.end_to_end(rec)
        self.assertAlmostEqual(m["setup_s"], 0.9)
        self.assertAlmostEqual(m["cold_pass_s"], 0.1)
        self.assertAlmostEqual(m["warm_pass_s"], 0.05)
        self.assertEqual(m["ok_frac"], 0.5)
        self.assertEqual(record.warm_latencies(rec), [])


class StagedSources(unittest.TestCase):
    def test_fixed_write_root_points_into_the_checkout(self):
        with tempfile.TemporaryDirectory() as root:
            graft = os.path.join(root, "src", "main", "scala", "graft")
            os.makedirs(os.path.join(graft, "sources"))
            files = {os.path.join("sources", "Sources.scala"):
                     'private[graft] val roundtripRoot = "/fixed/out/roundtrip"\n',
                     "Streaming.scala": 'val root = s"/fixed/out/stream_upsert/$tier"\n'}
            for rel, text in files.items():
                with open(os.path.join(graft, rel), "w") as fh:
                    fh.write(text)
            old = run.ROOT, run.BUILD
            run.ROOT, run.BUILD = root, os.path.join(root, ".bench_build")
            try:
                self.assertEqual(run.fixed_root(), "/fixed/out/")
                first = run.stage_sources()
                self.assertEqual(first, run.stage_sources())
                staged = os.path.join(run.BUILD, "libsrc", "scala", "graft")
                out = os.path.join(run.BUILD, "fixed-root")
                for rel, text in files.items():
                    with open(os.path.join(staged, rel)) as fh:
                        self.assertEqual(fh.read(), text.replace("/fixed/out", out))
                with open(os.path.join(graft, "Streaming.scala"), "a") as fh:
                    fh.write("// changed\n")
                self.assertNotEqual(first, run.stage_sources())
            finally:
                run.ROOT, run.BUILD = old

    def test_a_missing_write_root_stops_the_benchmark(self):
        with tempfile.TemporaryDirectory() as root:
            sources = os.path.join(root, "src", "main", "scala", "graft", "sources")
            os.makedirs(sources)
            with open(os.path.join(sources, "Sources.scala"), "w") as fh:
                fh.write('val roundtripRoot = sys.props("root")\n')
            old = run.ROOT
            run.ROOT = root
            try:
                with self.assertRaises(SystemExit):
                    run.fixed_root()
            finally:
                run.ROOT = old

if __name__ == "__main__":
    unittest.main()
