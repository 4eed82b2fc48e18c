#!/usr/bin/env python3
"""Compares benchmark records of two versions of graft.

    python3 perfbench/compare.py BASE.json [BASE.json ...] -- NEW.json [NEW.json ...]

Each file is a full record written by run.py (under .bench_build/records/).
All records on a side must come from the same workload and trace setting.

1. Deterministic counters, compared exactly, op by op: the rows and digest
   of every output and, for traced records, each op's Spark jobs, jobs in
   its build phase, source scans and exchanges of its final plan.
2. End-to-end metrics, median of each side, against the bounds of
   BENCHMARK.json: a metric worse than the base median by more than its
   bound is a regression.
3. Per-layer metrics of traced records, median of each side, for reading
   where a change moved time or work (they have no bound).

Exits 1 when a counter differs or a metric regressed.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths):
    recs = [json.load(open(p)) for p in paths]
    kinds = {(r["workload"], r["trace"]) for r in recs}
    if len(kinds) != 1:
        sys.exit(f"records mix workloads or trace settings: {sorted(kinds)}")
    return recs


def counters(rec):
    """Per op name: the deterministic facts of its first measured run."""
    out = {}
    for o in rec["ops"]:
        key = (o["name"], o["traced"])
        if key in out:
            continue
        c = {"rows": o["rows"], "digest": o["digest"]}
        if o["traced"]:
            c.update(jobs=sum(o[ph]["jobs"] for ph in ("build", "plan", "exec")),
                     build_jobs=o["build"]["jobs"], scans=o["scans"], exchanges=o["exchanges"])
        out[key] = c
    return out


def medians(recs, section):
    names = recs[0][section].keys()
    return {n: statistics.median(r[section][n]["value"] for r in recs) for n in names}


def main():
    if "--" not in sys.argv:
        sys.exit(__doc__)
    i = sys.argv.index("--")
    base, new = load(sys.argv[1:i]), load(sys.argv[i + 1:])
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    bad = 0

    print("== deterministic counters")
    if base[0]["seed"] != new[0]["seed"]:
        print("  skipped: the first records of the two sides ran different seeds")
    else:
        b, n = counters(base[0]), counters(new[0])
        for key in sorted(set(b) | set(n)):
            if b.get(key) != n.get(key):
                bad += 1
                print(f"  DIFFERS {key[0]}: base {b.get(key)} new {n.get(key)}")
        if not bad:
            print(f"  identical over {len(b)} ops")

    print("== end-to-end metrics (median base -> median new, change, bound)")
    mb, mn = medians(base, "end_to_end"), medians(new, "end_to_end")
    for m in bench["end_to_end"]:
        name = m["name"]
        if name not in mb or name not in mn:
            continue
        change = (mn[name] - mb[name]) / mb[name]
        worse = change if m["better"] == "lower" else -change
        verdict = "REGRESSED" if worse > m["bound"] else "ok"
        bad += verdict != "ok"
        print(f"  {name:20s} {mb[name]:12.6g} -> {mn[name]:12.6g} {change:+8.1%} "
              f"(bound {m['bound']:.0%}) {verdict}")

    if base[0]["trace"] and new[0]["trace"]:
        print("== per-layer metrics that moved (median base -> median new)")
        lb, ln = medians(base, "metrics"), medians(new, "metrics")
        for name in lb:
            if lb[name] != ln.get(name):
                print(f"  {name:32s} {lb[name]:12.6g} -> {ln.get(name, float('nan')):12.6g}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
