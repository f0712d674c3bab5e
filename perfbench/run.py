#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the harness and the library
from source on first use (into .bench_build/), then runs one fresh JVM
(perfbench.Main): a cold pass over the workload's keys and warm passes
in the same session. Prints progress and failures, then as its last
line one JSON object: correct, attempted, failed, metrics. --trace 0
reports the end-to-end metrics, --trace 1 the per-layer ones (Spark's
listeners attached). The full run record is kept under
.bench_build/records/.
"""

import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import record  # noqa: E402

WORKLOADS = ("relational", "llm_pipeline", "climate_io")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


# The sf0.01 fixture: a copy of the project's read-only test tables, kept
# in the benchmark so that a run reads only inside its checkout, with the
# .count() of every key pinned from a graft.Verify dump of these files.
DATA = os.path.join(HERE, "fixture", "sf0.01")
EXPECTED_ROWS = os.path.join(HERE, "fixture", "expected_rows.tsv")
SOURCES_SCALA = os.path.join("src", "main", "scala", "graft", "sources", "Sources.scala")


def fixed_root():
    """The absolute directory the library writes its round-trip and
    stream-upsert files under whatever the working directory: the parent
    of Sources.roundtripRoot, ending in a slash. The staged copy of the
    sources points it into .bench_build instead, so that runs stay inside
    their checkout and two checkouts never share those directories.
    Stops the benchmark when the declaration is not found, rather than
    let a run write outside its checkout."""
    try:
        with open(os.path.join(ROOT, SOURCES_SCALA)) as fh:
            m = re.search(r'roundtripRoot\s*=\s*"(/[^"]*/)roundtrip"', fh.read())
    except OSError:
        m = None
    if not m:
        fail(f"no absolute roundtripRoot declared in {SOURCES_SCALA}; "
             "update fixed_root() in perfbench/run.py")
    return m.group(1)


def sbt_env():
    """Environment for the benchmark's sbt build: offline, with the
    user's sbt repositories, and the Spark jars of SPARK_HOME (or of the
    spark-submit on PATH) as unmanaged jars."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        fail("no Spark: set SPARK_HOME or put spark-submit on PATH")
    opts = os.environ.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.offline=true "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    return dict(os.environ, COURSIER_MODE="offline",
                SBT_OPTS=f"{opts} -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                         f"-Dperfbench.sparkJars={os.path.join(home, 'jars')}")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _files(top):
    """Every file under top, as sorted paths relative to it."""
    return sorted(os.path.relpath(os.path.join(d, f), top)
                  for d, _, fs in os.walk(top) for f in fs)


def _read(path):
    with open(path, "rb") as fh:
        return fh.read()


def stage_sources():
    """Copy src/main/{scala,resources} to .bench_build/libsrc, pointing
    the fixed write root into the checkout. Returns a digest of the
    sources the build compiles, before that change."""
    h = hashlib.sha256()
    fixed = fixed_root()
    redirect = (os.path.join(BUILD, "fixed-root") + "/").encode()
    src_root = os.path.join(ROOT, "src", "main")
    dst_root = os.path.join(BUILD, "libsrc")
    staged = set()
    for sub in ("scala", "resources"):
        for rel in _files(os.path.join(src_root, sub)):
            rel = os.path.join(sub, rel)
            data = _read(os.path.join(src_root, rel))
            h.update(rel.encode() + b"\0" + data)
            data = data.replace(fixed.encode(), redirect)
            dst = os.path.join(dst_root, rel)
            staged.add(rel)
            if not os.path.exists(dst) or _read(dst) != data:
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                with open(dst, "wb") as fh:
                    fh.write(data)
    for rel in _files(dst_root):
        if rel not in staged:
            os.remove(os.path.join(dst_root, rel))
    for rel in ["build.sbt", os.path.join("project", "build.properties")] + [
            os.path.join("src", "main", f) for f in _files(os.path.join(HERE, "src", "main"))]:
        h.update(rel.encode() + b"\0" + _read(os.path.join(HERE, rel)))
    return h.hexdigest()


def build():
    """Compile once per source digest; returns the runtime classpath and
    the digest."""
    digest = stage_sources()
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "sbt", "classpath.txt")
    want = f"{digest} {ROOT}"
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.exists(cp_file):
        return open(cp_file).read().strip(), digest
    print("perfbench: building harness and library (sbt compile)", flush=True)
    env = sbt_env()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                 "compile", "writeClasspath"], cwd=HERE, env=env, stdout=out,
                                stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        sys.stderr.write(open(log).read()[-3000:])
        fail(f"build failed (log: {log})")
    with open(stamp, "w") as fh:
        fh.write(want)
    return open(cp_file).read().strip(), digest


def heap():
    """JVM heap as the repository's test command sizes it: half the
    machine's memory, between 2 and 8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def loadavg():
    try:
        return open("/proc/loadavg").read().split()[:3]
    except OSError:
        return None


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, args, cpus, out_path, log_path):
    work = os.path.join(BUILD, "work")
    tmp = os.path.join(BUILD, "tmp")
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cmd = (["java", f"-Xmx{heap()}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              "-cp", classpath, "perfbench.Main"]
           + args + ["--cpus", str(cpus), "--out", out_path, "--data", DATA,
                     "--expected", EXPECTED_ROWS,
                     "--launch-ns", str(time.time_ns())])
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_NOCACHE", "SPARK_GRAFT_NOTUNE")}
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log_path})")
        finally:
            # also on SIGTERM (see main): the JVM never outlives the run
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        sys.stderr.write(open(log_path).read()[-3000:])
        fail(f"JVM exited with {rc} (log: {log_path})")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"no library sources under {ROOT}/src/main/scala; run from a full checkout")
    if not os.path.isdir(DATA) or not os.path.isfile(EXPECTED_ROWS):
        fail(f"fixture {DATA} or its pinned row counts {EXPECTED_ROWS} are missing")
    os.makedirs(BUILD, exist_ok=True)
    lock = open(os.path.join(BUILD, "run.lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        fail("another benchmark run holds .bench_build/run.lock", code=3)

    classpath, digest = build()
    cpus = len(os.sched_getaffinity(0))
    recs = os.path.join(BUILD, "records")
    os.makedirs(recs, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out_path = os.path.join(recs, name + ".raw.json")
    load0, steal0 = loadavg(), steal_s()
    run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace)],
            cpus, out_path, os.path.join(recs, name + ".log"))
    with open(out_path) as fh:
        rec = json.load(fh)
    os.remove(out_path)
    steal1 = steal_s()
    rec.update(nproc=os.cpu_count(), cpus=cpus, loadavg_start=load0, loadavg_end=loadavg(),
               steal_s=None if steal0 is None or steal1 is None else steal1 - steal0,
               git_head=git_head(), source_digest=digest, seconds=a.seconds)

    fails = record.failures(rec)
    n = len(rec["samples"])
    expected_keys = sum(len(o) for o in rec["orders"])
    # a cold pass and at least two warm passes (Main.MinWarmPasses)
    complete = n == expected_keys and len(rec["passes"]) >= 3
    correct = complete and not fails
    e2e = record.end_to_end(rec)
    lat = record.warm_latencies(rec)
    lat_n = len(lat)
    tail = record.stats.tail_percentile(lat_n)
    rec["summary"] = dict(end_to_end=e2e, warm_samples=lat_n, tail_percentile=tail,
                          tail_ms=None if tail is None else record.stats.percentile(lat, tail),
                          failed_keys=sorted({s["key"] for s in fails}))
    if a.trace:
        metrics = {k: {"value": v, "unit": record.PER_LAYER_UNITS[k]}
                   for k, v in record.per_layer(rec).items()}
        rec["summary"]["per_pass"] = record.per_pass(rec)
    else:
        metrics = {k: {"value": v, "unit": record.END_TO_END_UNITS[k]} for k, v in e2e.items()}
    with open(os.path.join(recs, name + ".json"), "w") as fh:
        json.dump(rec, fh)

    print(f"workload {a.workload}: {len(rec['orders'][0])} keys x {len(rec['passes'])} passes, "
          f"{lat_n} warm samples (tail rule allows p{rec['summary']['tail_percentile']}), "
          f"row counts {'all match' if correct else 'NOT all match'}")
    for s in fails:
        print(f"FAILED {s['key']} (pass {s['pass']}): {s['error']}")
    print(json.dumps({"correct": correct, "attempted": n, "failed": len(fails),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
