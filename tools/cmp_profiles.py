#!/usr/bin/env python3
"""Compare two bench profile JSONs (per-query min-of-runs).

Usage: cmp_profiles.py A.json B.json [threshold]

Prints total, geomean speedup A->B, and per-query deltas beyond the
threshold (default 10%), sorted by absolute seconds delta.
"""
import json
import math
import sys


def main() -> None:
    a = json.load(open(sys.argv[1]))
    b = json.load(open(sys.argv[2]))
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 0.10
    qa, qb = a["queries"], b["queries"]
    common = sorted(set(qa) & set(qb))
    print(f"A total={a['value']:.3f}s (cpus={a.get('cpus')})  "
          f"B total={b['value']:.3f}s (cpus={b.get('cpus')})  "
          f"common={len(common)}")
    ratios = [qa[q] / qb[q] for q in common if qa[q] > 0 and qb[q] > 0]
    if ratios:
        geo = math.exp(sum(math.log(r) for r in ratios) / len(ratios))
        print(f"geomean speedup A->B: {geo:.3f}")
    else:
        print("geomean speedup A->B: n/a (no query with positive time in both)")
    rows = []
    for q in common:
        d = qb[q] - qa[q]
        if qa[q] > 0 and abs(d) / qa[q] >= thr and abs(d) >= 0.05:
            rows.append((d, q))
    rows.sort()
    for d, q in rows:
        print(f"{'+' if d > 0 else ''}{d:7.3f}s  {qa[q]:7.3f} -> {qb[q]:7.3f}  {q}")


if __name__ == "__main__":
    main()
