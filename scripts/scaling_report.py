#!/usr/bin/env python3
"""Per-query scaling exponents from Bench artifacts at multiple scale
factors. exponent = log(t_hi / t_lo) / log(rows_hi / rows_lo) on the
min-of-reps per-query times; < 1 means sub-linear (fixed overheads or
better), ~1 linear, > 1 super-linear. Small absolute times are noise-
dominated, so queries under --floor seconds at the LARGE sf are reported
but not flagged.

Absolute seconds compare only between runs on one host and boot: the
report warns when the two artifacts' `boot_id` or `cpus` differ, and then
the exponents carry the host difference too.

Usage: scaling_report.py <bench_lo.json> <bench_hi.json> <ratio> [--floor 0.5]
"""
import json
import math
import sys


def host_warning(lo, hi):
    """A warning line when the two runs come from different boots or cpu
    counts, else None."""
    diffs = [f"{k} {lo.get(k)} vs {hi.get(k)}" for k in ("boot_id", "cpus")
             if lo.get(k) != hi.get(k)]
    return f"WARNING: runs differ in {'; '.join(diffs)}" if diffs else None


def main() -> int:
    lo_path, hi_path, ratio = sys.argv[1], sys.argv[2], float(sys.argv[3])
    floor = float(sys.argv[sys.argv.index("--floor") + 1]) if "--floor" in sys.argv else 0.5
    lo = json.load(open(lo_path))
    hi = json.load(open(hi_path))
    warning = host_warning(lo, hi)
    if warning:
        print(warning)
    rows = []
    for q in sorted(set(lo["queries"]) & set(hi["queries"])):
        t_lo, t_hi = lo["queries"][q], hi["queries"][q]
        if t_lo <= 0 or t_hi <= 0:
            rows.append((q, t_lo, t_hi, None))
            continue
        rows.append((q, t_lo, t_hi, math.log(t_hi / t_lo) / math.log(ratio)))
    rows.sort(key=lambda r: -(r[3] if r[3] is not None else 99))
    flagged = 0
    print()
    print("| query | t@lo (s) | t@hi (s) | exponent |")
    print("|---|---|---|---|")
    for q, t_lo, t_hi, e in rows:
        if e is None:
            print(f"| {q} | {t_lo:.2f} | {t_hi:.2f} | ERROR |")
            flagged += 1
            continue
        is_flag = e > 1.15 and t_hi >= floor
        if is_flag:
            flagged += 1
        flag = " **super-linear**" if is_flag else ""
        print(f"| {q} | {t_lo:.2f} | {t_hi:.2f} | {e:.2f}{flag} |")
    # totals over queries valid at BOTH scales only: a query that errored
    # at one scale would otherwise contribute seconds to one side of the
    # aggregate exponent and bias it sub-linear exactly when data is
    # missing
    tot_lo = sum(t_lo for _, t_lo, _, e in rows if e is not None)
    tot_hi = sum(t_hi for _, _, t_hi, e in rows if e is not None)
    agg = math.log(tot_hi / tot_lo) / math.log(ratio)
    print(f"\ntotal: {tot_lo:.1f}s -> {tot_hi:.1f}s on a {ratio:.0f}x corpus "
          f"(aggregate exponent {agg:.2f}); {flagged} queries flagged")
    return 0


if __name__ == "__main__":
    sys.exit(main())
