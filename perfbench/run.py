#!/usr/bin/env python3
"""Repository benchmark: build the engine with the harness, run one workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the engine's sources together with the
harness under perfbench/src (sbt, offline) into .bench_build/; later runs
reuse the build while the sources are unchanged. The harness runs the
workload on a local Spark session in a fresh JVM, checks the outputs, and
writes the raw run record to .bench_build/out/. This script turns the record
into metrics, prints a report, and prints the result object as the last line
of standard output.
"""
import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("awi_refresh", "catalog_eager", "catalog_oneshot", "store_stream")
INGEST = ("awi_refresh", "store_stream")
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: engine sources, harness, build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=800)
        lf.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (see {log})", 3)
    lines = [l for l in p.stdout.splitlines()
             if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail(f"build produced no classpath (see {log})", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# The end-to-end metrics BENCHMARK.json gates: each aggregates the whole
# timed pass, so the seed's query order and single slow ops move it least.
CONTRACT_E2E = ("setup_s", "ops_per_s", "latency_mean_ms", "read_mean_ms")


def tail_metric(values):
    """Highest of p99/p95/p90/p75 with at least 10 samples beyond it."""
    n = len(values)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(values, n=100, method="inclusive")[p - 1]
    return None, None


def metrics_from(raw):
    """End-to-end metrics of one run record, with units and sample counts."""
    ops = raw["ops"]
    good = [o for o in ops if o["kind"] != "poisoned"]
    out = {"setup_s": (raw["setup_s"], "s", 1)}
    wall = raw["timed_wall_s"]
    out["ops_per_s"] = (len(ops) / wall if wall > 0 else 0.0, "1/s", len(ops))
    series = {"latency": [o["op_ms"] for o in good], "read": [o["read_ms"] for o in good]}
    if raw["workload"] in INGEST:
        series["write"] = [o["write_ms"] for o in ops]
        series["fresh"] = [o["op_ms"] for o in good]
    for name, vals in series.items():
        if not vals:
            continue
        if name in ("latency", "read"):
            out[f"{name}_mean_ms"] = (statistics.fmean(vals), "ms", len(vals))
        out[f"{name}_p50_ms"] = (statistics.median(vals), "ms", len(vals))
        p, v = tail_metric(vals)
        if p is not None:
            out[f"{name}_tail_ms"] = (v, "ms", len(vals), f"p{p}")
    failed = sum(1 for o in ops if not o["ok"]) or (1 if raw["checks"] else 0)
    out["failed_ratio"] = (min(1.0, failed / max(1, len(ops))), "ratio", len(ops))
    out["peak_storage_mb"] = (raw["peak_storage_mb"], "MB", len(ops))
    if raw["workload"] in INGEST:
        out["disk_mb"] = (raw["disk_mb"], "MB", 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="write this catalog workload's digests to "
                         "perfbench/expected/catalog.json.new")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    cp = build()

    out_dir = os.path.join(BUILD, "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    out = os.path.join(out_dir, tag + ".json")
    expected = os.path.join(HERE, "expected", "catalog.json")
    if a.record_expected:
        out = expected + ".new"
    for f in (out, out[:-5] + ".spans.json"):
        if os.path.exists(f):
            os.remove(f)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx4g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", os.path.join(HERE, "data", "sf0.1"),
              "--work", os.path.join(BUILD, "work", a.workload),
              "--out", out, "--expected", expected,
              "--t0-ms", str(int(time.time() * 1000))]
           + (["--record"] if a.record_expected else []))
    log = os.path.join(BUILD, "out", tag + ".log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=BUILD, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {DEADLINE_S}s (log: {log})", 4)
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail(f"harness exited with {rc} (log: {log})", 5)
    if a.record_expected:
        print(f"wrote {out}")
        return

    with open(out) as f:
        raw = json.load(f)
    ops = raw["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    if raw["checks"] and failed == 0:
        failed = 1  # a failed end-of-run check fails the op that left that state
    attempted = max(1, len(ops))  # a set-up failure counts as one failed op
    correct = bool(ops) and failed == 0 and not raw["checks"]

    m = metrics_from(raw)
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"input sha256 {raw['input_hash']}")
    h = raw["host"]
    print(f"host cpus {h['cpus']}  effective cores {h['eff_cores_start']:.2f} -> "
          f"{h['eff_cores_end']:.2f}  spark {h['spark']}  jdk {h['jdk']}")
    for name, v in m.items():
        extra = f"  ({v[3]})" if len(v) > 3 else ""
        print(f"  {name:<18} {v[0]:>12.4f} {v[1]:<6} n={v[2]}{extra}")
    for c in raw["checks"]:
        print(f"  CHECK FAILED: {c}")
    for o in ops:
        if not o["ok"]:
            print(f"  OP FAILED: op {o['k']} {o['kind']}: {o['err']}")

    if a.trace:
        layers = raw["layers"]
        untraced = os.path.join(out_dir, f"{a.workload}-s{a.seed}-t0.json")
        overhead = None
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = metrics_from(json.load(f))
            overhead = {k: m[k][0] - base[k][0] for k in CONTRACT_E2E
                        if k in m and k in base}
        print("  per-layer (mean per timed op unless a gauge):")
        for name, v in layers.items():
            print(f"    {name:<26} {v['value']:>12.4f}  n={v['samples']}")
        print(f"  tracing overhead vs untraced run of the same seed: "
              f"{overhead if overhead is not None else 'no untraced run recorded'}")
        raw["tracing_overhead_ms"] = overhead
        with open(out, "w") as f:
            json.dump(raw, f)
        metrics = {n: {"value": v["value"], "unit": unit_of(n)} for n, v in layers.items()}
    else:
        metrics = {n: {"value": v[0], "unit": v[1]} for n, v in m.items()
                   if n in CONTRACT_E2E}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def unit_of(name):
    """Per-layer units, as declared in BENCHMARK.json."""
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_share", "_amp")):
        return "ratio"
    return {"spark.busy_cores": "cores",
            "spark.tasks_per_stage": "tasks/stage"}.get(name, "count")


if __name__ == "__main__":
    main()
