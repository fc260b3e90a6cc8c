#!/usr/bin/env python3
"""Determinism test of the benchmark's traced counters.

    python3 perfbench/test_determinism.py [--workload vc_remote ...]

For each workload it makes three traced runs of SECONDS each: two with
seed SEED and one with OTHER_SEED. It checks that
  * the two same-seed runs drew the same inputs in every cycle both ran
    (per-cycle input digests), and that every op both runs completed has
    the same counts: Spark jobs and stages, driver store ops by kind and
    key class, engine span counts, and dedup candidate and verified
    pairs. Store bytes must agree within 1%, or within OBJECT_SLACK
    bytes per object of their kind: the engine writes timestamps and
    random ids into its objects, so a small object's size varies by a
    few tens of bytes.
    The after-loop ops follow a loop whose length depends on timing, so
    their bytes are compared only when both loops ran as many cycles;
  * the other seed keeps the op mix (the same op kinds in the same order
    in every cycle both runs completed) but draws different inputs.
Chunk gets are not compared: concurrent batch reads race on the shared
chunk cache, so which of them hit varies. Ops are matched by (cycle,
position in cycle). Exits non-zero on a mismatch, listing each.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["vc_remote", "tensor_pipeline"]
SECONDS = 15
SEED = 1
OTHER_SEED = 2
OBJECT_SLACK = 64


def traced_run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: run failed")
    objs = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
    diag = next(o["diagnostics"] for o in objs if "diagnostics" in o)
    trace = next(o["trace"] for o in objs if "trace" in o)
    return diag, trace


def by_position(trace):
    """{(cycle, i): op} for the ops of each cycle, in the order they ran."""
    out, seen = {}, {}
    for op in trace["ops"]:
        c = op["cycle"]
        i = seen.get(c, 0)
        seen[c] = i + 1
        out[(c, i)] = op
    return out


def differences(x, y, compare_bytes):
    out = {}
    for n in set(x) | set(y):
        a, b = x.get(n, 0), y.get(n, 0)
        if "_bytes." in n:
            # store.put_bytes.txlog counts the objects in store.put.txlog
            objects = x.get(n.replace("_bytes.", "."), 0)
            if compare_bytes and abs(a - b) > max(0.01 * max(a, b), OBJECT_SLACK * objects):
                out[n] = (a, b)
        elif a != b:
            out[n] = (a, b)
    return out


def check(workload, seconds, seed, other):
    problems = []
    d1, t1 = traced_run(workload, seed, seconds)
    d2, t2 = traced_run(workload, seed, seconds)
    d3, t3 = traced_run(workload, other, seconds)
    a, b, c = by_position(t1), by_position(t2), by_position(t3)
    # only loop cycles before the last one each run started (a cut-off
    # cycle may differ), plus the after-loop ops (cycle -1)
    last = min(d["cycles"] for d in (d1, d2, d3))
    same_loop = d1["cycles"] == d2["cycles"]
    g1, g2, g3 = d1["input_digests"], d2["input_digests"], d3["input_digests"]
    for cyc in sorted(set(g1) & set(g2), key=int):
        if int(cyc) < last and g1[cyc] != g2[cyc]:
            problems.append(f"same seed, cycle {cyc}: different inputs {g1[cyc]} {g2[cyc]}")
    common = sorted(k for k in set(a) & set(b) if k[0] < last)
    if not common:
        problems.append("no op completed by both same-seed runs")
    for k in common:
        x, y = a[k], b[k]
        if x["kind"] != y["kind"]:
            problems.append(f"cycle {k[0]} op {k[1]}: kind {x['kind']} vs {y['kind']}")
            continue
        diff = differences(x["counters"], y["counters"], k[0] >= 1 or same_loop)
        if diff:
            problems.append(f"cycle {k[0]} op {k[1]} ({x['kind']}): {diff}")
    if not any(int(cyc) < last and g3.get(cyc) != g1[cyc] for cyc in g1):
        problems.append(f"seeds {seed} and {other} drew the same inputs")
    mix = sorted(k for k in set(a) & set(c) if k[0] < last)
    for k in mix:
        if a[k]["kind"] != c[k]["kind"]:
            problems.append(f"seed {other}: cycle {k[0]} op {k[1]} is {c[k]['kind']}, not {a[k]['kind']}")
    print(f"{workload}: {len(common)} ops compared, {len(mix)} ops of the other seed, "
          f"{len(problems)} problems", flush=True)
    for p in problems:
        print(f"  {p}")
    return not problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    a = ap.parse_args()
    ok = all([check(w, SECONDS, SEED, OTHER_SEED) for w in (a.workload or WORKLOADS)])
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
