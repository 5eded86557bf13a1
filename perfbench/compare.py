#!/usr/bin/env python3
"""Collects sets of benchmark runs and compares them.

  collect  Runs run.py once per (checkout, workload, seed), storing each
           stdout as <out>/<side>/<workload>-<seed>.out. With two
           checkouts the sides alternate which runs first from seed to seed.
  spread   For one set: per workload and metric, the median, quartiles and
           the spread (Q3 - Q1) / median beside the metric's bound.
  compare  For two sets A (parent) and B (change): one row per workload and
           metric with each side's median and quartiles, the paired wins of
           B, and a verdict.

Verdicts (bounds from BENCHMARK.json): "unresolved" when either side's
spread exceeds the bound, unless every run of B reads better (or worse)
than every run of A; "better" when B wins at least 9 of 10 seed-paired runs
(ties count for neither) and the medians differ by more than A's quartile
distance; "worse" when B's median is worse than A's by more than the bound;
"unchanged" otherwise. Per-layer metrics have no bound and get no verdict.

Usage:
  python3 perfbench/compare.py collect --out runs --seeds 1-10 \\
      [--workloads curation,ingest] [--trace 0] CHECKOUT [CHECKOUT]
  python3 perfbench/compare.py spread runs/a
  python3 perfbench/compare.py compare runs/a runs/b
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


def seeds(spec: str) -> list:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def collect(a) -> int:
    sides = [chr(ord("a") + i) for i in range(len(a.checkouts))]
    for i, seed in enumerate(seeds(a.seeds)):
        order = list(zip(sides, a.checkouts))
        if i % 2:
            order.reverse()
        for w in a.workloads.split(","):
            for side, checkout in order:
                d = os.path.join(a.out, side)
                os.makedirs(d, exist_ok=True)
                with open(os.path.join(d, f"{w}-{seed}.out"), "w") as fh:
                    r = subprocess.run(
                        [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                         "--seconds", str(BENCH["run_seconds"]), "--trace", str(a.trace)],
                        cwd=checkout, stdout=fh)
                print(f"{side} {w} seed {seed}: exit {r.returncode}", file=sys.stderr)
    return 0


def load(d: str) -> dict:
    """{workload: {seed: result}} from a directory of run outputs."""
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.out"))):
        w, _, seed = os.path.basename(f)[:-4].rpartition("-")
        lines = [l for l in open(f) if l.startswith("{")]
        if lines:
            runs.setdefault(w, {})[int(seed)] = json.loads(lines[-1])
    return runs


def metric_defs() -> dict:
    return {m["name"]: m for m in BENCH["end_to_end"] + BENCH["per_layer"]}


def values(res: dict, name: str) -> dict:
    return {s: r["metrics"][name]["value"] for s, r in res.items()
            if name in r["metrics"] and r["metrics"][name]["value"] is not None}


def quart(xs: list) -> tuple:
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(a) -> int:
    defs = metric_defs()
    wide = 0
    for w, res in sorted(load(a.set).items()):
        failed = sum(r["failed"] for r in res.values())
        print(f"{w}: {len(res)} runs, {failed} failed ops")
        for name in sorted({k for r in res.values() for k in r["metrics"]}):
            xs = list(values(res, name).values())
            q1, med, q3 = quart(xs)
            sp = (q3 - q1) / med if med else float("nan")
            bound = defs.get(name, {}).get("bound")
            flag = ""
            if bound is not None:
                flag = "WIDE" if sp > bound else ("ok" if sp < bound / 3 else "ok (> bound/3)")
                wide += sp > bound
            print(f"  {name:42s} median {med:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}"
                  f"  spread {sp:7.3f}" + (f"  bound {bound}  {flag}" if bound is not None else ""))
    return 1 if wide else 0


def compare(a) -> int:
    defs = metric_defs()
    A, B = load(a.parent), load(a.change)
    print(f"{'workload':9s} {'metric':40s} {'A median [q1, q3]':>34s} {'B median [q1, q3]':>34s}"
          f" {'wins':>6s}  verdict")
    for w in sorted(set(A) & set(B)):
        for name in sorted({k for r in A[w].values() for k in r["metrics"]}):
            va, vb = values(A[w], name), values(B[w], name)
            if not va or not vb:
                continue
            d = defs.get(name, {})
            sign = 1 if d.get("better", "lower") == "higher" else -1
            qa, qb = quart(list(va.values())), quart(list(vb.values()))
            paired = [s for s in va if s in vb]
            wins = sum(1 for s in paired if sign * (vb[s] - va[s]) > 0)
            verdict = "-"
            bound = d.get("bound")
            if bound is not None:
                ma, mb = qa[1], qb[1]
                spread_a = (qa[2] - qa[0]) / ma if ma else float("inf")
                spread_b = (qb[2] - qb[0]) / mb if mb else float("inf")
                all_better = min(sign * x for x in vb.values()) > max(sign * x for x in va.values())
                all_worse = max(sign * x for x in vb.values()) < min(sign * x for x in va.values())
                gain = sign * (mb - ma)
                if max(spread_a, spread_b) > bound and not (all_better or all_worse):
                    verdict = "unresolved"
                elif (paired and wins >= 0.9 * len(paired) and gain > 0
                      and abs(mb - ma) > qa[2] - qa[0]):
                    verdict = "better"
                elif -gain > bound * abs(ma):
                    verdict = "worse"
                else:
                    verdict = "unchanged"
            fa = f"{qa[1]:.6g} [{qa[0]:.4g}, {qa[2]:.4g}]"
            fb = f"{qb[1]:.6g} [{qb[0]:.4g}, {qb[2]:.4g}]"
            print(f"{w:9s} {name:40s} {fa:>34s} {fb:>34s} {wins:>3d}/{len(paired):<2d}  {verdict}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", required=True)
    c.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    c.add_argument("--workloads", default=",".join(w["name"] for w in BENCH["workloads"]))
    c.add_argument("--trace", type=int, choices=(0, 1), default=0)
    c.add_argument("checkouts", nargs="+")
    s = sub.add_parser("spread")
    s.add_argument("set")
    p = sub.add_parser("compare")
    p.add_argument("parent")
    p.add_argument("change")
    a = ap.parse_args()
    return {"collect": collect, "spread": spread, "compare": compare}[a.cmd](a)


if __name__ == "__main__":
    sys.exit(main())
