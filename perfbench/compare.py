#!/usr/bin/env python3
"""Compare two sets of traced benchmark runs, per workload and op kind.

    python3 perfbench/run.py --workload vc_remote --seed 1 --seconds 12 --trace 1 > before.txt
    ... change the code ...
    python3 perfbench/run.py --workload vc_remote --seed 1 --seconds 12 --trace 1 > after.txt
    python3 perfbench/compare.py before.txt after.txt

Each side is a file holding the standard output of one or more traced
runs, or a directory of such files. Changes in deterministic counters
(Spark jobs and stages, driver store ops by key class, engine span
counts, candidate pairs; store bytes when they move by more than 1%) are
listed apart from timing changes, since
a counter that moved is a change in what the code does, and a time that
moved may be the machine. Counters are means per op of each kind; ops
late in a run see more history, so compare runs of the same length.
"""
import argparse
import json
import os
import re
import statistics
import sys

DETERMINISTIC_UNITS = {"count", "bytes"}
# smallest relative timing change listed
TOLERANCE = 0.10


def deterministic(name):
    """Counts and store bytes; chunk gets race on the shared chunk cache."""
    return (name in ("spark.jobs", "spark.stages", "pipeline.candidate_pairs",
                     "pipeline.verified_pairs")
            or (name.startswith("store.")
                and not re.fullmatch(r"store\.(range_)?get(_bytes)?\.chunk", name))
            or (name.startswith("span.") and name.endswith("_n")))


def moved(name, x, y):
    """Store bytes vary by a few per object (timestamps, random ids)."""
    return abs(x - y) > 0.01 * max(x, y) if "_bytes." in name else x != y


def load(path):
    """Returns {workload: {"traces": [...], "results": [...]}}."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    out = {}
    for f in files:
        workload = None
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                try:
                    obj = json.loads(line)
                except ValueError:
                    continue
                if "diagnostics" in obj:
                    workload = obj["diagnostics"]["workload"]
                elif "trace" in obj:
                    workload = obj["trace"]["workload"]
                    out.setdefault(workload, {"traces": [], "results": []})["traces"].append(obj["trace"])
                elif "metrics" in obj and workload:
                    out.setdefault(workload, {"traces": [], "results": []})["results"].append(obj)
    return out


def per_kind(traces):
    """Per op kind: mean per op of each counter, and median p50 / split."""
    counters, p50, split = {}, {}, {}
    for t in traces:
        for kind, k in t["by_kind"].items():
            n = max(1, k["n"])
            for name, v in k["counters"].items():
                counters.setdefault(kind, {}).setdefault(name, []).append(v / n)
            p50.setdefault(kind, []).append(k["p50_ms"])
            for name, v in k["split_ms"].items():
                split.setdefault(kind, {}).setdefault(name, []).append(v / n)
    med = statistics.median
    return ({k: {n: med(v) for n, v in c.items()} for k, c in counters.items()},
            {k: med(v) for k, v in p50.items()},
            {k: {n: med(v) for n, v in c.items()} for k, c in split.items()})


def rel(a, b):
    return (b - a) / a if a else (0.0 if b == 0 else float("inf"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()
    before, after = load(a.before), load(a.after)
    for w in sorted(set(before) & set(after)):
        print(f"== {w}")
        cb, pb, sb = per_kind(before[w]["traces"])
        ca, pa, sa = per_kind(after[w]["traces"])
        print("-- deterministic counters (per op)")
        for kind in sorted(set(cb) | set(ca)):
            names = set(cb.get(kind, {})) | set(ca.get(kind, {}))
            for n in sorted(x for x in names if deterministic(x)):
                x, y = cb.get(kind, {}).get(n, 0.0), ca.get(kind, {}).get(n, 0.0)
                if moved(n, x, y):
                    print(f"  {kind:22s} {n:40s} {x:14.2f} -> {y:14.2f}")
        print(f"-- timing (per op, changes over {TOLERANCE:.0%})")
        for kind in sorted(set(pb) & set(pa)):
            if abs(rel(pb[kind], pa[kind])) >= TOLERANCE:
                print(f"  {kind:22s} {'p50_ms':40s} {pb[kind]:14.1f} -> {pa[kind]:14.1f}")
            for n in sorted(set(sb.get(kind, {})) | set(sa.get(kind, {}))):
                x, y = sb.get(kind, {}).get(n, 0.0), sa.get(kind, {}).get(n, 0.0)
                if max(x, y) >= 1.0 and abs(rel(x, y)) >= TOLERANCE:
                    print(f"  {kind:22s} {n:40s} {x:14.1f} -> {y:14.1f}")
        print("-- per-layer metrics (median over runs)")
        mb = {}
        for r in before[w]["results"]:
            for n, m in r["metrics"].items():
                mb.setdefault(n, []).append((m["value"], m["unit"]))
        ma = {}
        for r in after[w]["results"]:
            for n, m in r["metrics"].items():
                ma.setdefault(n, []).append((m["value"], m["unit"]))
        for kind_of in ("counters", "timings"):
            for n in sorted(set(mb) & set(ma)):
                unit = mb[n][0][1]
                if (unit in DETERMINISTIC_UNITS) != (kind_of == "counters"):
                    continue
                x = statistics.median(v for v, _ in mb[n])
                y = statistics.median(v for v, _ in ma[n])
                if (x != y if kind_of == "counters" else abs(rel(x, y)) >= TOLERANCE):
                    print(f"  [{kind_of[:-1]}] {n:44s} {x:14.3f} -> {y:14.3f} {unit}")
    for w in sorted(set(before) ^ set(after)):
        print(f"== {w}: only on one side")
    return 0


if __name__ == "__main__":
    sys.exit(main())
