#!/usr/bin/env python3
"""graft benchmark: build graft, generate the seeded fixture, run one
workload in a closed loop with one client, check every output and print
the metrics.

    python3 perfbench/run.py --workload queries|sessions --seed N \
        --seconds S --trace 0|1 [--only all|NAMES]

Run it from the root of a graft checkout. It builds the program from source
with sbt (once per source state), generates the inputs from the seed (once
per seed), runs the workload and prints one JSON object as the last line of
standard output:

    {"correct": true, "attempted": 8, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer metrics of BENCHMARK.json. Everything the run writes lives under
.bench_build/ in the checkout; the full record of the run (every metric,
and every op's phase seconds and Spark counters) goes to
.bench_build/records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

SF = 0.01
HEAP = "3g"
JVM_TIMEOUT_S = 165  # a run must end within 180 s; --only runs are exempt
BUILD_TIMEOUT_S = 850
LAYERS = ["relational", "events", "explain", "sim", "dedup", "text", "graph", "multimodal", "core"]
LAYER_METRICS = [("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"), ("build_jobs", "count"),
                 ("jobs", "count"), ("tasks", "count"), ("task_busy_s", "s"),
                 ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("scans", "count"),
                 ("exchanges", "count"), ("codegen_compiles", "count")]
PHASES = ("build", "plan", "exec")
# JDK 17 module opens Spark needs outside spark-submit (the program's build
# passes the same list to its forked JVMs)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _sources():
    """Every file whose content decides the build, program and harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    return sorted(files)


def build():
    """Compiles graft and the harness with sbt when the sources changed, and
    returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"no graft sources next to the benchmark (looked in {ROOT})")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building graft and the harness with sbt")
    os.makedirs(WORK, exist_ok=True)
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, capture_output=True,
                           text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    lines = [x for x in p.stdout.splitlines() if x.strip() and not x.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


# ---------------------------------------------------------------- inputs

def fixture(seed):
    d = os.path.join(WORK, "fixtures", f"seed{seed}-sf{SF}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed, SF)
        os.replace(tmp, d)
    return d


# ---------------------------------------------------------------- run

def run_jvm(cp, workload, fx, seconds, trace, only, out):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java"] + [a for o in OPENS for a in ("--add-opens", f"{o}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-cp", cp, "graftbench.Main", "--workload", workload, "--dir", fx,
            "--seconds", str(seconds), "--trace", str(trace), "--out", out, "--cpus", str(cpus)])
    if only:
        cmd += ["--only", only]
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=tmp, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=None if only else JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"the workload did not finish within {JVM_TIMEOUT_S} s (log: {out}/jvm.log)")
    rec = os.path.join(out, "record.json")
    if rc != 0 or not os.path.exists(rec):
        die(f"the workload exited with {rc} (log: {out}/jvm.log)")
    with open(rec) as f:
        return json.load(f), cpus


def wall(o):
    return o["build_s"] + o["plan_s"] + o["exec_s"]


def end_to_end(rec, ops):
    plain = [o for o in ops if not o["traced"]]
    walls = [wall(o) for o in plain]
    return {
        "setup_s": (rec["setup_s"], "s"),
        "op_geomean_s": (statistics.geometric_mean(walls), "s"),
        "ops_per_s": (len(walls) / sum(walls), "1/s"),
        "retained_heap_mb": (max(o["heap_mb"] for o in ops), "MB"),
    }, walls


def per_layer(rec, ops, cpus):
    traced = [o for o in ops if o["traced"]]
    out = {}
    for layer in LAYERS:
        mine = [o for o in traced if o["layer"] == layer]
        tot = {m: 0.0 for m, _ in LAYER_METRICS}
        for o in mine:
            for ph in PHASES:
                tot[f"{ph}_s"] += o[f"{ph}_s"]
                for c in ("jobs", "tasks", "task_busy_s", "shuffle_write_mb", "spill_mb"):
                    tot[c] += o[ph][c]
            tot["build_jobs"] += o["build"]["jobs"]
            for c in ("scans", "exchanges", "codegen_compiles"):
                tot[c] += o[c]
        for m, unit in LAYER_METRICS:
            v = tot[m]
            out[f"{layer}.{m}"] = (int(v) if unit == "count" else v, unit)
    busy = sum(o[ph]["task_busy_s"] for o in traced for ph in PHASES)
    out["spark.core_util"] = (busy / (sum(wall(o) for o in traced) * cpus), "ratio")
    out["spark.codegen_compile_s"] = (
        sum(o["codegen_compiles"] for o in traced) * rec["codegen_mean_ms"] / 1e3, "s")
    # traced pass against the untraced pass after it (the first pass warms)
    t_by, u_by = {}, {}
    for o in ops:
        if o["traced"] or o["pass"] > 1:
            (t_by if o["traced"] else u_by).setdefault(o["name"], []).append(wall(o))
    both = [n for n in t_by if n in u_by]
    t_sum = sum(statistics.mean(t_by[n]) for n in both)
    u_sum = sum(statistics.mean(u_by[n]) for n in both)
    out["trace.overhead_pct"] = ((t_sum / u_sum - 1.0) * 100.0, "%")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["queries", "sessions"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--only", default="",
                    help="comma-separated queries or flows to run instead, or 'all'")
    a = ap.parse_args()

    cp = build()
    fx = fixture(a.seed)
    out = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    rec, cpus = run_jvm(cp, a.workload, fx, a.seconds, a.trace, a.only, out)
    ops = rec["ops"]

    # outputs: JVM-side contract and replay checks, then the oracle
    verdicts = oracle.check(fx, out, rec) if a.workload != "sessions" else {}
    for o in ops:
        if not o["error"] and verdicts.get(o["name"]):
            o["error"] = verdicts[o["name"]]
    failed = sum(1 for o in ops if o["error"])

    e2e, walls = end_to_end(rec, ops)
    metrics = per_layer(rec, ops, cpus) if a.trace else e2e
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "sf": SF, "cpus": cpus, "attempted": len(ops), "failed": failed,
        "error_rate": failed / len(ops), "op_samples": len(walls),
        "op_p50_s": statistics.median(walls), "passes": rec["pass_wall_s"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "setup_s": rec["setup_s"], "setup_jvm_s": rec["setup_jvm_s"],
        "setup_steps_s": rec["setup_steps_s"], "codegen_mean_ms": rec["codegen_mean_ms"],
        "ops": [{k: o[k] for k in ("name", "layer", "pass", "traced", "build_s", "plan_s", "exec_s",
                                   "rows", "digest", "error", "heap_mb", "codegen_compiles",
                                   "scans", "exchanges", "build", "plan", "exec")} for o in ops],
        "spans": rec["spans"],
    }
    path = os.path.join(WORK, "records", os.path.basename(out) + ".json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)

    for o in ops:
        if o["error"]:
            print(f"FAILED {o['name']} (pass {o['pass']}): {o['error']}")
    print(f"{a.workload} seed={a.seed} sf={SF} cpus={cpus} ops={len(ops)} "
          f"failed={failed} record={os.path.relpath(path, ROOT)}")
    print(f"  op latency over {len(walls)} untraced ops: p50 {statistics.median(walls):.4f} s")
    for k, (v, u) in metrics.items():
        if not a.trace or v:
            print(f"  {k:38s} {v:14.6g} {u}")
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
