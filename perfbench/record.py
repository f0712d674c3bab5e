"""Metrics from one run record written by perfbench.Main.

End-to-end metrics come from untraced runs, per-layer metrics from
traced runs. Times in the record are ms since the benchmark launched
the JVM."""

import stats

MODULES = ("Relational", "Joins", "Windows", "Functions", "Profiling", "Text",
           "TextAnalysis", "Dedup", "Vectors", "Ann", "Multimodal", "Climate",
           "Streaming", "Sources")
LAYERS = ("ops", "query", "catalyst", "codegen", "exec", "streaming", "harness")
MB = 1048576.0

END_TO_END_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "query_p50_ms": "ms",
    "ok_frac": "fraction", "cached_mb": "MB",
}


def _per_pass_units():
    u = {"ops.build_s": "s"}
    u.update({f"ops.{m}.pass_s": "s" for m in MODULES})
    u.update({"catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
              "catalyst.planning_ms": "ms", "codegen.compile_s": "s",
              "codegen.compiles": "count", "exec.jobs": "count", "exec.stages": "count",
              "exec.tasks": "count", "exec.failed_tasks": "count", "exec.task_run_s": "s",
              "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.busy_frac": "fraction",
              "exec.input_mb": "MB", "exec.output_mb": "MB", "exec.shuffle_write_mb": "MB",
              "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
              "exec.peak_exec_mem_mb": "MB", "streaming.batches": "count",
              "streaming.batch_ms": "ms", "streaming.rows": "count", "jvm.jit_s": "s",
              "jvm.heap_peak_mb": "MB"})
    u.update({f"self.{layer}_s": "s" for layer in LAYERS})
    return u


PER_PASS_UNITS = _per_pass_units()
PER_LAYER_UNITS = {"session.build_s": "s"}
PER_LAYER_UNITS.update({f"{k}.{p}": u for p in ("cold", "warm") for k, u in PER_PASS_UNITS.items()})


def pass_walls(rec):
    return [(p["end_ms"] - p["start_ms"]) / 1000.0 for p in rec["passes"]]


def failures(rec):
    return [s for s in rec["samples"] if s["error"] is not None]


def warm_latencies(rec):
    return [s["end_ms"] - s["start_ms"] for s in rec["samples"]
            if s["pass"] > 0 and s["error"] is None]


def end_to_end(rec):
    walls = pass_walls(rec)
    lat = warm_latencies(rec)
    n = len(rec["samples"])
    return {
        "setup_s": rec["session_ready_ms"] / 1000.0,
        "cold_pass_s": walls[0],
        "warm_pass_s": stats.median(walls[1:]),
        "query_p50_ms": stats.percentile(lat, 50),
        "ok_frac": (n - len(failures(rec))) / n,
        "cached_mb": rec["cached_mb"],
    }


def spans(rec):
    """The run's spans: passes, keys, each key's ops.build and
    query.count, and the listener events (jobs, Catalyst phases,
    micro-batches), each attached to the innermost span enclosing its
    midpoint."""
    out = {}
    for p in rec["passes"]:
        out[f"p{p['pass']}"] = dict(layer="harness", name="pass", pass_=p["pass"],
                                    start=p["start_ms"], end=p["end_ms"], parent=None)
    for s in rec["samples"]:
        i, p = s["id"], s["pass"]
        out[f"k{i}"] = dict(layer="harness", name="key", pass_=p,
                            start=s["start_ms"], end=s["end_ms"], parent=f"p{p}")
        out[f"b{i}"] = dict(layer="ops", name="ops.build", pass_=p,
                            start=s["start_ms"], end=s["built_ms"], parent=f"k{i}",
                            carve=("codegen", s["build_compile_ns"] / 1e6))
        out[f"c{i}"] = dict(layer="query", name="query.count", pass_=p,
                            start=s["built_ms"], end=s["end_ms"], parent=f"k{i}",
                            carve=("codegen", s["count_compile_ns"] / 1e6))
    ev = rec.get("trace_events") or {}
    passes = stats.Enclosers([(v["start"], v["end"], k) for k, v in out.items() if v["name"] == "pass"])
    calls = stats.Enclosers([(v["start"], v["end"], k) for k, v in out.items()
                             if v["name"] in ("ops.build", "query.count")])

    def parent_of(t, extra=None):
        for finder in (extra, calls, passes):
            hit = finder.find(t) if finder else None
            if hit is not None:
                return hit
        return None

    batch_iv = []
    for j, (start, trigger, _rows) in enumerate(ev.get("batches", [])):
        sid = f"s{j}"
        mid = start + trigger / 2.0
        out[sid] = dict(layer="streaming", name="batch", start=start, end=start + trigger,
                        parent=parent_of(mid))
        batch_iv.append((start, start + trigger, sid))
    batches = stats.Enclosers(batch_iv)
    for j, (start, end) in enumerate(ev.get("jobs", [])):
        out[f"j{j}"] = dict(layer="exec", name="job", start=start, end=end,
                            parent=parent_of((start + end) / 2.0, batches))
    for j, (phase, start, end) in enumerate(ev.get("phases", [])):
        out[f"q{j}"] = dict(layer="catalyst", name=f"catalyst.{phase}", start=start, end=end,
                            parent=parent_of((start + end) / 2.0, batches))
    # a listener span inherits the pass of the span it is attached to,
    # and is clipped to that pass
    for v in out.values():
        if "pass_" not in v:
            anc = v["parent"]
            while anc is not None and "pass_" not in out[anc]:
                anc = out[anc]["parent"]
            v["pass_"] = out[anc]["pass_"] if anc is not None else None
            if v["pass_"] is not None:
                p = out[f"p{v['pass_']}"]
                v["start"], v["end"] = max(v["start"], p["start"]), min(v["end"], p["end"])
    return out


def layer_self_ms(rec, span_map=None):
    """{pass: {layer: self ms}} over every span of the run."""
    span_map = span_map if span_map is not None else spans(rec)
    per = {}
    for sid, layer, ms in stats.self_times(span_map):
        p = span_map[sid]["pass_"]
        if p is None:
            continue
        per.setdefault(p, {l: 0.0 for l in LAYERS})[layer] += ms
    return per


def _pass_of(rec, t):
    for p in rec["passes"]:
        if p["start_ms"] <= t <= p["end_ms"]:
            return p["pass"]
    return None


def per_pass(rec):
    """Every per-pass layer metric, for each pass of a traced run."""
    ev = rec.get("trace_events") or {}
    span_map = spans(rec)
    selfs = layer_self_ms(rec, span_map)
    out = {}
    for p in rec["passes"]:
        n = p["pass"]
        wall = (p["end_ms"] - p["start_ms"]) / 1000.0
        ss = [s for s in rec["samples"] if s["pass"] == n]
        m = {k: 0.0 for k in PER_PASS_UNITS}
        m["ops.build_s"] = sum(s["built_ms"] - s["start_ms"] for s in ss) / 1000.0
        for s in ss:
            m[f"ops.{s['module']}.pass_s"] += (s["end_ms"] - s["start_ms"]) / 1000.0
        m["codegen.compile_s"] = sum(s["build_compile_ns"] + s["count_compile_ns"] for s in ss) / 1e9
        m["codegen.compiles"] = float(sum(s["build_compiles"] + s["count_compiles"] for s in ss))
        for v in span_map.values():
            if v["pass_"] == n and v["layer"] == "catalyst":
                key = v["name"] + "_ms"
                if key in m:
                    m[key] += v["end"] - v["start"]
            if v["pass_"] == n and v["name"] == "job":
                m["exec.jobs"] += 1
            if v["pass_"] == n and v["name"] == "batch":
                m["streaming.batches"] += 1
                m["streaming.batch_ms"] += v["end"] - v["start"]
        for j, (start, trigger, rows) in enumerate(ev.get("batches", [])):
            if span_map[f"s{j}"]["pass_"] == n:
                m["streaming.rows"] += rows
        m["exec.stages"] = float(sum(1 for t in ev.get("stages", []) if _pass_of(rec, t) == n))
        peak = 0.0
        for t in ev.get("tasks", []):
            if _pass_of(rec, t[0]) != n:
                continue
            m["exec.tasks"] += 1
            m["exec.task_run_s"] += t[1] / 1000.0
            m["exec.task_cpu_s"] += t[2] / 1e9
            m["exec.gc_s"] += t[3] / 1000.0
            m["exec.input_mb"] += t[4] / MB
            m["exec.output_mb"] += t[5] / MB
            m["exec.shuffle_write_mb"] += t[6] / MB
            m["exec.shuffle_read_mb"] += t[7] / MB
            m["exec.spill_mb"] += t[8] / MB
            peak = max(peak, t[9] / MB)
            m["exec.failed_tasks"] += t[10]
        m["exec.peak_exec_mem_mb"] = peak
        m["exec.busy_frac"] = m["exec.task_run_s"] / (wall * rec["cpus"]) if wall > 0 else 0.0
        m["jvm.jit_s"] = p["jit_ms"] / 1000.0
        m["jvm.heap_peak_mb"] = p["heap_peak_mb"]
        for layer, ms in selfs.get(n, {}).items():
            m[f"self.{layer}_s"] = ms / 1000.0
        m["wall_s"] = wall
        out[n] = m
    return out


def per_layer(rec):
    """Per-layer metrics of a traced run: the cold pass and the median
    over the warm passes, plus the session build."""
    pp = per_pass(rec)
    warm = [pp[n] for n in sorted(pp) if n > 0]
    out = {"session.build_s": (rec["session_ready_ms"] - rec["session_build_start_ms"]) / 1000.0}
    for k in PER_PASS_UNITS:
        out[f"{k}.cold"] = pp[0][k]
        out[f"{k}.warm"] = stats.median([w[k] for w in warm])
    return out


# Self time no layer explains: time inside .count() outside every job,
# Catalyst phase and compile the listeners saw, and the harness's own
# bookkeeping between spans.
UNEXPLAINED = ("query", "harness")


def coverage(m):
    """Share of a pass's wall time that the program's layers explain as
    self time: ops, catalyst, codegen, exec and streaming."""
    named = sum(m[f"self.{layer}_s"] for layer in LAYERS if layer not in UNEXPLAINED)
    return named / m["wall_s"] if m["wall_s"] > 0 else 0.0
