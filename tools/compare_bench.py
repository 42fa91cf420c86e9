"""Compare two BENCH_DETAIL json files per query: ratios, geomean, counts.

Usage: python tools/compare_bench.py A.json B.json [threshold]
Prints queries where B/A deviates by more than ``threshold`` (default 0.10),
plus aggregate stats. A = baseline, B = candidate.
"""

from __future__ import annotations

import json
import math
import sys


def load(path: str) -> dict:
    with open(path) as fh:
        d = json.load(fh)
    q = dict(d.get("queries") or {})
    # prefer adjudicated solo readings where present
    for nm, rec in (d.get("solo_reruns") or {}).items():
        if isinstance(rec, dict) and rec.get("solo_sec", -1) > 0:
            q[nm] = rec["solo_sec"]
    return q


def main() -> None:
    a_path, b_path = sys.argv[1], sys.argv[2]
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 0.10
    a, b = load(a_path), load(b_path)
    common = sorted(set(a) & set(b))
    rows = []
    logs = []
    for nm in common:
        ta, tb = a[nm], b[nm]
        if ta <= 0 or tb <= 0:
            continue
        r = tb / ta
        logs.append(math.log(r))
        rows.append((r, nm, ta, tb))
    if not rows:
        print("no common queries with positive timings in both files")
        return
    rows.sort()
    n_imp = sum(1 for r, *_ in rows if r < 1 - thr)
    n_reg = sum(1 for r, *_ in rows if r > 1 + thr)
    # both totals over the same queries: those timed in both files
    print(f"n_common={len(rows)} improved>{int(thr*100)}%={n_imp} "
          f"regressed>{int(thr*100)}%={n_reg} "
          f"geomean_ratio={math.exp(sum(logs)/len(logs)):.3f} "
          f"total {sum(ta for _, _, ta, _ in rows):.1f}"
          f" -> {sum(tb for _, _, _, tb in rows):.1f}")
    print("--- improved (B/A asc) ---")
    for r, nm, ta, tb in rows:
        if r < 1 - thr:
            print(f"{r:5.2f}  {ta:7.3f} -> {tb:7.3f}  {nm}")
    print("--- regressed (B/A desc) ---")
    for r, nm, ta, tb in sorted(rows, reverse=True):
        if r > 1 + thr:
            print(f"{r:5.2f}  {ta:7.3f} -> {tb:7.3f}  {nm}")


if __name__ == "__main__":
    main()
