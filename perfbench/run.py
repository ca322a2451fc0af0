#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Builds the engine and the benchmark harness from source (once per source
state), runs one workload in a fresh JVM, checks its outputs, and prints
one JSON result line as the last line of standard output:

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. `--trace 1` reports the per-layer
metrics of a traced run instead of the end-to-end ones. Every run leaves
a full record (provenance, failures, outputs, all metrics) under
`.bench_build/perfbench/runs/`, and a traced run its span tree next to it.

Maintenance: `--make-expected <workload> [--repeat N]` regenerates the
expected outputs of a replay workload from N runs with different seeds;
a query whose checksum does not repeat is stored as rows-only.

Environment: PERFBENCH_SF_DIR names the directory of the input tables,
default ~/testdata/sf0.1.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("olap_read", "lakehouse_ingest", "corpus_compute")
REPLAY = ("olap_read", "corpus_compute")
E2E = {"wall_s": "s", "op_gmean_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, engine and harness."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles engine + harness unless this source state is built; returns the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine source ({need}) next to the benchmark; run from a full checkout")
    digest = hashlib.sha256()
    for f in sources():
        if os.path.isfile(f):
            digest.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                digest.update(fh.read())
    stamp = digest.hexdigest()
    cp_file, stamp_file = os.path.join(OUT, "classpath.txt"), os.path.join(OUT, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                       "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                            stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            timeout=600).returncode
    with open(log) as fh:
        lines = [l.strip() for l in fh]
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return " ".join(fh.read().split()[:3])
    except OSError:
        return None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def sf_dir():
    d = os.environ.get("PERFBENCH_SF_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")
    if not os.path.exists(os.path.join(d, "events.parquet")):
        fail(f"input tables not found in {d} (set PERFBENCH_SF_DIR)")
    return d


def run_jvm(classpath, workload, seed, seconds, trace, tag):
    """One benchmark run in a fresh JVM; returns (result, record path)."""
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    runs = os.path.join(OUT, "runs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    base = os.path.join(runs, f"{tag}-s{seed}-t{int(trace)}-{stamp}")
    result_file = os.path.join(work, "result.json")
    # the throughput collector: a batch driver on a few cores runs its
    # passes about a fifth faster under it than under the default G1
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0", "--cpus", str(cpus),
            "--work-dir", work, "--sf-dir", sf_dir(), "--result", result_file,
            "--spans", base + ".spans.jsonl"]
    if workload in REPLAY:
        expected = os.path.join(BENCH, "expected", f"{workload}.tsv")
        if os.path.exists(expected):
            cmd += ["--expected", expected]
    provenance = {"commit": git_commit(), "nproc": cpus, "master": f"local[{cpus}]",
                  "heap": HEAP, "gc": "parallel", "seed": seed, "loadavg_before": loadavg()}
    try:
        with open(base + ".log", "w") as log:
            launch = time.time()
            proc = subprocess.Popen(cmd + ["--launch-ms", repr(launch * 1000)], cwd=ROOT,
                                    stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {JVM_TIMEOUT_S} s; see {base}.log")
            except BaseException:
                proc.kill()
                proc.wait()
                raise
        if rc != 0 or not os.path.exists(result_file):
            fail(f"benchmark JVM exited {rc}; see {base}.log")
        with open(result_file) as fh:
            result = json.load(fh)
        result["provenance"] = dict(provenance, loadavg_after=loadavg())
        if workload == "lakehouse_ingest":
            result["provenance"]["work_dir_mb"] = du(work) / 1e6
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if trace:
        rebase_overhead(result, runs, workload, seed)
    with open(base + ".json", "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    prune(runs, keep=200)
    return result, base + ".json"


def rebase_overhead(result, runs, workload, seed):
    """trace.overhead as traced / untraced wall: the traced run's first
    pass against the first pass of the newest untraced run of the same
    workload in this checkout (same seed preferred). Without one, the
    run's own traced/untraced pass comparison stands."""
    traced = [w for p, t, w in result["pass_walls"] if t and p == 1]
    refs = []
    for n in os.listdir(runs):
        if n.startswith(f"{workload}-s") and "-t0-" in n and n.endswith(".json"):
            path = os.path.join(runs, n)
            refs.append((n.startswith(f"{workload}-s{seed}-"), os.path.getmtime(path), path))
    for _, _, path in sorted(refs, reverse=True):
        with open(path) as fh:
            ref = json.load(fh)
        first = [w for p, t, w in ref.get("pass_walls", []) if p == 1]
        if traced and first and not ref["failed"]:
            result["per_layer"]["trace.overhead"] = traced[0] / first[0]
            result["trace_overhead_ref"] = os.path.basename(path)
            return


def du(path):
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(d, n)).st_size
            except OSError:
                pass
    return total


def prune(runs, keep):
    names = sorted(os.listdir(runs), key=lambda n: os.path.getmtime(os.path.join(runs, n)))
    for n in names[:-keep]:
        os.remove(os.path.join(runs, n))


def result_line(result, trace):
    if trace:
        values = result.get("per_layer") or {}
        units = result.get("per_layer_units") or {}
        metrics = {k: {"value": v, "unit": units.get(k, "")} for k, v in values.items()}
    else:
        metrics = {k: {"value": result["metrics"][k], "unit": u} for k, u in E2E.items()}
    for k, m in metrics.items():
        if m["value"] is None:
            fail(f"metric {k} was not measured")
    return {"correct": result["failed"] == 0, "attempted": result["attempted"],
            "failed": result["failed"], "metrics": metrics}


def make_expected(classpath, workload, repeat):
    runs = []
    for seed in range(1, repeat + 1):
        result, _ = run_jvm(classpath, workload, seed, 1, False, "expected")
        if result["failed"]:
            fail(f"run {seed} had failures: {result['failures']}")
        runs.append(result["outputs"])
    path = os.path.join(BENCH, "expected", f"{workload}.tsv")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(f"# {workload}: query, rows, checksum ('-' = did not repeat across "
                 f"{repeat} runs, rows only)\n")
        for name in sorted(runs[0]):
            rows, sums = {r[name][0] for r in runs}, {r[name][1] for r in runs}
            if len(rows) != 1:
                fail(f"{name}: row count does not repeat: {sorted(rows)}")
            fh.write(f"{name}\t{rows.pop()}\t{sums.pop() if len(sums) == 1 else '-'}\n")
    print(f"wrote {path}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-expected", choices=REPLAY)
    ap.add_argument("--repeat", type=int, default=3)
    a = ap.parse_args()
    if not (a.workload or a.make_expected):
        ap.error("--workload is required")
    if not 1 <= a.seconds <= 600:
        ap.error("--seconds must be within 1..600")
    classpath = build()
    if a.make_expected:
        make_expected(classpath, a.make_expected, a.repeat)
        return
    result, record = run_jvm(classpath, a.workload, a.seed, a.seconds, bool(a.trace), a.workload)
    for f in result["failures"]:
        print(f"failed: {f['name']} ({f['kind']}/{f['door']}, pass {f['pass']}): {f['error']}")
    print(f"record: {os.path.relpath(record, ROOT)}")
    print(json.dumps(result_line(result, bool(a.trace))))


if __name__ == "__main__":
    main()
