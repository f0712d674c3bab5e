#!/usr/bin/env python3
"""Where the time goes, per workload, in one command.

    python3 perfbench/report.py [--workload W ...] [--seed N] [--seconds S]

For each workload (all three by default) makes one untraced and one
traced run with run.py, then prints every end-to-end metric with its
unit, the row-count check, each layer's self time in the cold pass and
in the warm passes with the share of the pass the layers explain, and
the tracing overhead (traced vs untraced warm_pass_s).
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import record  # noqa: E402
import run  # noqa: E402


def load(workload, seed, trace, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=run.ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"run.py failed for {workload} (trace {trace}):\n{r.stdout}{r.stderr}")
    with open(os.path.join(run.BUILD, "records", f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        return json.load(fh)


def show(workload, plain, traced):
    s = plain["summary"]
    print(f"== {workload}: {len(plain['orders'][0])} keys, seed {plain['seed']}, "
          f"{len(plain['passes'])} passes, cpus {plain['cpus']}, data {plain['data']}")
    print(f"   host: nproc {plain['nproc']}, loadavg {plain['loadavg_start']} -> "
          f"{plain['loadavg_end']}, CPU steal {plain['steal_s'] or 0:.1f} s")
    print(f"   java {plain['java_version']}, spark {plain['spark_version']}, "
          f"git {plain['git_head'] or 'n/a'}, sources {plain['source_digest'][:12]}")
    print(f"   confs after the run: {plain['confs']}")
    bad = sorted(set(s["failed_keys"]) | set(traced["summary"]["failed_keys"]))
    print(f"   row counts: {'every key matches its pinned count' if not bad else 'FAILED ' + ', '.join(bad)}")
    print(f"   {'metric':<16}{'value':>12}  unit")
    for k, v in s["end_to_end"].items():
        print(f"   {k:<16}{v:>12.4f}  {record.END_TO_END_UNITS[k]}")
    tail = s["tail_percentile"]
    print(f"   warm samples {s['warm_samples']}; tail rule allows p{tail}"
          + ("" if tail is None else f": {s['tail_ms']:.4f} ms"))
    pp = {int(k): v for k, v in traced["summary"]["per_pass"].items()}
    warm = [pp[n] for n in sorted(pp) if n > 0]
    cols = [("cold", pp[0])] + [("warm", {k: record.stats.median([w[k] for w in warm])
                                          for k in pp[0]})]
    print(f"   {'self time (s)':<22}" + "".join(f"{c:>10}" for c, _ in cols))
    for layer in record.LAYERS:
        label = layer + (" (unexplained)" if layer in record.UNEXPLAINED else "")
        print(f"   {label:<22}" + "".join(f"{m[f'self.{layer}_s']:>10.3f}" for _, m in cols))
    print(f"   {'pass wall':<22}" + "".join(f"{m['wall_s']:>10.3f}" for _, m in cols))
    print(f"   {'explained':<22}" + "".join(f"{record.coverage(m):>10.1%}" for _, m in cols)
          + "  (ops, catalyst, codegen, exec, streaming)")
    print(f"   {'codegen.compile':<22}" + "".join(f"{m['codegen.compile_s']:>10.3f}" for _, m in cols)
          + "  (whole Janino compile; the part outside task time is the codegen row)")
    t = traced["summary"]["end_to_end"]["warm_pass_s"]
    u = s["end_to_end"]["warm_pass_s"]
    print(f"   tracing overhead: warm_pass_s {t:.3f} traced vs {u:.3f} untraced ({t / u - 1:+.1%})")
    print("   per-layer metrics (traced run):")
    for k, v in record.per_layer(traced).items():
        print(f"     {k:<34}{v:>14.4f}  {record.PER_LAYER_UNITS[k]}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", action="append", choices=run.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    a = ap.parse_args()
    for w in a.workload or run.WORKLOADS:
        plain = load(w, a.seed, 0, a.seconds)
        traced = load(w, a.seed, 1, a.seconds)
        show(w, plain, traced)


if __name__ == "__main__":
    main()
