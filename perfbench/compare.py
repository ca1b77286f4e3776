#!/usr/bin/env python3
"""Compares two sets of benchmark runs.

    python3 perfbench/compare.py A_DIR B_DIR [--bench BENCHMARK.json]

Each directory holds the run records `run.py` leaves in
`.perfbench/results/` (one JSON file per run). For each workload and
metric the tool prints each side's median and quartiles, the share of
interleaved (A_i, B_i) pairs in which B is better, and the verdict
against the bound `BENCHMARK.json` fixes for the metric: B's median
worse than A's by more than the bound is a regression. Metrics without a
bound get no verdict. Sets that share no workload or metric are
reported as such.
"""
import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def load(d):
    """workload -> list of {metric: value} in run order."""
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        vals = dict(r.get("end_to_end", {}))
        vals.update(r.get("per_layer", {}))
        out.setdefault(r["context"]["workload"], []).append(
            {k: v for k, v in vals.items() if isinstance(v, (int, float))})
    return out


def bounds(bench_file):
    with open(bench_file) as f:
        b = json.load(f)
    spec = {m["name"]: m for m in b.get("end_to_end", [])}
    spec.update({m["name"]: m for m in b.get("per_layer", [])})
    return spec


def compare(a, b, spec):
    """Report lines for two loaded sets."""
    lines = []
    shared_workloads = sorted(set(a) & set(b))
    if not shared_workloads:
        return ["no workload is shared by both sets"]
    for w in shared_workloads:
        names = sorted(set().union(*a[w]) & set().union(*b[w]))
        if not names:
            lines.append(f"{w}: no metric is shared by both sets")
            continue
        lines.append(f"{w}: {len(a[w])} runs vs {len(b[w])} runs")
        for m in names:
            av = [r[m] for r in a[w] if m in r]
            bv = [r[m] for r in b[w] if m in r]
            if not av or not bv:
                continue
            am, bm = stats.median(av), stats.median(bv)
            aq, bq = stats.quartiles(av), stats.quartiles(bv)
            s = spec.get(m, {})
            lower = s.get("better", "lower") == "lower"
            pairs = list(zip(av, bv))
            wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
            if "bound" not in s:
                verdict = "no bound"
            elif am == 0:
                verdict = "A median is 0"
            else:
                worse = (bm - am) / am if lower else (am - bm) / am
                verdict = (f"REGRESSION ({100 * worse:+.1f}% > {100 * s['bound']:.0f}%)"
                           if worse > s["bound"] else
                           f"within bound ({100 * worse:+.1f}% vs {100 * s['bound']:.0f}%)")
            lines.append(
                f"  {m:<28} A {am:.4g} [{aq[0]:.4g}, {aq[1]:.4g}]  "
                f"B {bm:.4g} [{bq[0]:.4g}, {bq[1]:.4g}]  "
                f"B wins {wins}/{len(pairs)}  {verdict}")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--bench", default="BENCHMARK.json")
    args = ap.parse_args()
    spec = bounds(args.bench) if os.path.exists(args.bench) else {}
    print("\n".join(compare(load(args.a), load(args.b), spec)))


if __name__ == "__main__":
    main()
