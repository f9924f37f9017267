#!/usr/bin/env python3
"""graft benchmark: one command for the ledger API path and batch query passes.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ledger_api and batch (declared), corpus_batch and star_batch (by
hand); see perfbench/README.md.

The script builds the engine and the harness from source once per checkout
(sbt exports the runtime classpath into .bench_build/), launches the harness
JVM directly from that classpath, turns its raw samples into metrics, and
prints two JSON lines: the full report of every metric with its unit, and,
last, the result object {"correct", "attempted", "failed", "metrics"} whose
metrics are the end-to-end ones (--trace 0) or the per-layer ones (--trace 1)
declared in BENCHMARK.json.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
EXPECTED = HERE / "expected"

# Workloads declared in BENCHMARK.json, then the two full query sets that the
# declared `batch` workload samples (run by hand for attribution).
DECLARED_WORKLOADS = ("ledger_api", "batch")
WORKLOADS = DECLARED_WORKLOADS + ("corpus_batch", "star_batch")

# End-to-end metrics every workload reports (--trace 0), with their units.
# The time metrics, set-up included, are CPU time of the JVM's Java threads
# (Spark driver, executor tasks, API server): on a shared host, wall-clock
# per run swings by up to 2x with the host's load, while CPU time does not
# grow while the host withholds CPU. Wall-clock figures stay in the full
# report.
END_TO_END = {
    "setup_s": "s",
    "cycle_cpu_ms": "ms",
    "op_cpu_ms": "ms",
    "peak_rss_mb": "MB",
}

# Per-layer metrics every workload reports (--trace 1), with their units.
PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.cpu_util": "ratio",
    "op.jobs": "count",
    "op.self_ms": "ms",
    "op.spark_ms": "ms",
}

# A declared workload's run must end within 180 s; the full query sets,
# run by hand, take longer.
JVM_BUDGET_S = 170
FULL_SET_BUDGET_S = 900
BUILD_BUDGET_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- statistics ---------------------------------------------------------

def percentile(samples, p):
    """Nearest-rank percentile p (0 < p <= 100) of a non-empty sample."""
    s = sorted(samples)
    k = max(1, math.ceil(round(p * len(s) / 100.0, 9)))
    return s[min(k, len(s)) - 1]


def tail_percentile(samples, min_beyond=10, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest candidate percentile that still has at least `min_beyond`
    samples above it, as (p, value); (None, None) if even p50 has too few."""
    n = len(samples)
    for p in candidates:
        if n * (100 - p) / 100.0 >= min_beyond - 1e-6:
            return p, percentile(samples, p)
    return None, None


def median(xs):
    return statistics.median(xs) if xs else None


# ---- build --------------------------------------------------------------

def source_files():
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt")) + [ROOT / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return [f for f in files if f.is_file()]


def build():
    """Compile engine + harness once per source state; return the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources at {ROOT} (expected build.sbt and src/main/scala)")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    BUILD.mkdir(exist_ok=True)
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "classpath.stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    log = BUILD / "build.log"
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_BUDGET_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 3)
    lines = log.read_text().splitlines()
    cp = next((l.strip() for l in reversed(lines)
               if os.pathsep in l and "perfbench" in l and not l.startswith("[")), None)
    if proc.returncode != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {proc.returncode}); see {log}", 3)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


# ---- run ----------------------------------------------------------------

def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args):
    run_dir = BUILD / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "work"):
        (run_dir / d).mkdir(parents=True)
    java = shutil.which("java")
    if os.environ.get("JAVA_HOME"):
        candidate = Path(os.environ["JAVA_HOME"]) / "bin" / "java"
        java = str(candidate) if candidate.exists() else java
    if java is None:
        fail("java not found")
    # A fixed-size heap, so that peak RSS does not depend on when the
    # collector chose to grow the heap.
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dspark.local.dir={run_dir / 'local'}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(run_dir / "work"), "--cores", str(cores())]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"))
    with open(BUILD / "jvm.log", "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, env=env, text=True,
                                start_new_session=True)
        budget = JVM_BUDGET_S if args.workload in DECLARED_WORKLOADS else FULL_SET_BUDGET_S
        try:
            out, _ = proc.communicate(timeout=budget)
        except BaseException as e:
            # timeout, or this script being stopped: never leave the JVM behind
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                fail(f"harness exceeded {budget} s; see {BUILD / 'jvm.log'}", 4)
            raise
    raw = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH-RESULT "):
            raw = json.loads(line[len("PERFBENCH-RESULT "):])
    if raw is None:
        sys.stderr.write("".join(open(BUILD / "jvm.log").readlines()[-40:]))
        fail(f"harness printed no result (exit {proc.returncode})", 5)
    raw["exit_code"] = proc.returncode
    (BUILD / "raw.json").write_text(json.dumps(raw))
    if args.trace:
        spans = run_dir / "work" / f"spans-{args.workload}-{args.seed}.json"
        if spans.is_file():
            keep = BUILD / "traces"
            keep.mkdir(exist_ok=True)
            shutil.copy(spans, keep / spans.name)
            raw["spans_file"] = str((keep / spans.name).relative_to(ROOT))
    shutil.rmtree(run_dir, ignore_errors=True)
    return raw


# ---- metrics ------------------------------------------------------------

# Queries whose result values are randomized by design (sampling sketches):
# only their row count is checked.
ROWS_ONLY = {"d10_kll_quantiles"}


def check_fingerprints(raw):
    """Compare the warm-up fingerprints with the recorded ones; returns the
    number of mismatching queries (each counts as a failed operation)."""
    path = EXPECTED / f"{raw['workload']}.json"
    got = raw.get("extra", {}).get("fingerprints", {})
    want = json.loads(path.read_text()) if path.is_file() else {}

    def same(q):
        g, w = got.get(q), want.get(q)
        if q in ROWS_ONLY and g and w:
            return g[0] == w[0]
        return g == w
    bad = [q for q in set(got) | set(want) if not same(q)]
    for q in sorted(bad):
        raw.setdefault("failures", []).append(
            f"{q}: rows/fingerprint {got.get(q)}, recorded {want.get(q)}")
    return len(bad)


def report(raw):
    """Every metric of the run, name -> (value, unit)."""
    ops = [o for o in raw["ops"] if o["ok"]]
    m = {}

    def put(name, value, unit):
        if value is not None:
            m[name] = (value, unit)

    put("setup_s", median(raw["setup_cpu_s"]), "s")
    put("setup_wall_s", median(raw["setup_wall_s"]), "s")
    put("warmup_s", raw.get("warmup_s"), "s")
    put("first_ready_s", raw["first_ready_s"], "s")
    put("peak_rss_mb", raw["vm_hwm_kb"] / 1024.0, "MB")
    attempted = max(1, raw["attempted"])
    put("failed_ratio", raw["failed"] / attempted, "ratio")
    extra = raw.get("extra", {})
    if raw["workload"] == "ledger_api":
        def ms(phase, names):
            return [o["ms"] for o in ops if o["phase"] == phase and o["name"] in names]
        ingest = ms("write", ("ingest",))
        normalize = ms("write", ("normalize",))
        reads = ms("read", ("read_transactions", "read_ledger"))
        write_s = extra.get("write_phase_s") or 0.0
        read_s = extra.get("read_phase_s") or 0.0
        wallets = min(len(ingest), len(normalize))
        cycles = [a + b for a, b in zip(ingest, normalize)]
        put("wallets_per_s", wallets / write_s if write_s else None, "1/s")
        put("ingest_p50_ms", median(ingest), "ms")
        put("normalize_p50_ms", median(normalize), "ms")
        put("read_p50_ms", median(reads), "ms")
        put("read_p95_ms", percentile(reads, 95) if len(reads) >= 200 else None, "ms")
        p, v = tail_percentile(reads)
        if p is not None:
            put(f"read_p{p:g}_ms", v, "ms")
        put("reads", len(reads), "count")
        put("reads_per_s", len(reads) / read_s if read_s else None, "1/s")
        put("cycle_p50_ms", median(cycles), "ms")
        put("ops_per_s", len(reads) / read_s if read_s else None, "1/s")
        if wallets:
            put("cycle_cpu_ms", extra["write_cpu_s"] * 1000 / wallets, "ms")
        if reads:
            put("op_cpu_ms", extra["read_cpu_s"] * 1000 / len(reads), "ms")
    else:
        untraced = [not t for t in extra.get("pass_traced", [])]
        passes = [s for s, keep in zip(extra.get("pass_s", []), untraced) if keep]
        cpu = [c for c, keep in zip(extra.get("pass_cpu_s", []), untraced) if keep]
        execute_cpu = [c for c, keep in zip(extra.get("pass_execute_cpu_s", []), untraced)
                       if keep]
        executions = sum(1 for o in ops if o["phase"].startswith("pass-")
                         and o["id"].endswith("/execute") and not o["traced"])
        put("pass_s", median(passes), "s")
        put("passes", len(passes), "count")
        put("cycle_p50_ms", median(passes) * 1000 if passes else None, "ms")
        put("ops_per_s", executions / sum(passes) if passes else None, "1/s")
        put("cycle_cpu_ms", median(cpu) * 1000 if cpu else None, "ms")
        put("op_cpu_ms", sum(execute_cpu) * 1000 / executions if executions else None, "ms")
    for name, value in raw.get("layers", {}).items():
        put(name, value, unit_of(name))
    return m


def unit_of(name):
    if name in PER_LAYER:
        return PER_LAYER[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_pct"):
        return "%"
    if "bytes_per" in name or name.endswith("cpu_util"):
        return "ratio"
    if name.endswith("bytes"):
        return "bytes"
    return "count"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the JVM is stopped on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    started = time.time()
    cp = build()
    raw = run_jvm(cp, args)
    failed = raw["failed"]
    if raw["workload"] != "ledger_api":
        failed += check_fingerprints(raw)
    raw["failed"] = failed
    metrics = report(raw)
    declared = PER_LAYER if args.trace else END_TO_END
    missing = [k for k in declared if k not in metrics]
    for k in missing:
        raw.setdefault("failures", []).append(f"metric {k} was not measured")
    print(json.dumps({
        "report": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "failures": raw.get("failures", []),
        "jobs_per_request": {k.split(".", 1)[1]: v for k, v in raw.get("extra", {}).items()
                             if k.startswith("jobs_per_request.")},
        "spans_file": raw.get("spans_file"),
        "wall_s": round(time.time() - started, 3),
    }))
    for f in raw.get("failures", [])[:10]:
        print(f"perfbench: failure: {f}", file=sys.stderr)
    result = {
        "correct": failed == 0 and not missing and raw["exit_code"] == 0,
        "attempted": max(1, raw["attempted"]),
        "failed": failed,
        "metrics": {k: {"value": metrics[k][0], "unit": u}
                    for k, u in declared.items() if k in metrics},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
