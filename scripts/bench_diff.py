#!/usr/bin/env python3
"""Per-query diff between two bench full-detail lines.

Usage:
    scripts/bench_diff.py                      # last two lines of BENCH_HISTORY.jsonl
    scripts/bench_diff.py A.json B.json        # any two artifacts with "queries"
    scripts/bench_diff.py --history H.jsonl -1 -3   # pick lines by index

Each input is either a one-line JSON artifact (BENCH_ROUND.json /
BENCH_SELF.json) or a line index into the history journal. Reports every
query whose time moved by more than --ratio (default 1.5x) AND --floor
seconds (default 0.2 s absolute difference, to keep ms-noise out), plus
the totals and error deltas, and warns when the two runs differ in
`boot_id` or `cpus` (absolute seconds compare only within one host and
boot).
"""
import argparse
import json
import sys

from scaling_report import host_warning


def load_lines(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("inputs", nargs="*", help="two artifact files, or history line indices")
    ap.add_argument("--history", default="BENCH_HISTORY.jsonl")
    ap.add_argument("--ratio", type=float, default=1.5)
    ap.add_argument("--floor", type=float, default=0.2)
    args = ap.parse_args()

    if len(args.inputs) == 2 and all(i.lstrip("-").isdigit() is False for i in args.inputs):
        a, b = (load_lines(p)[0] for p in args.inputs)
    else:
        hist = load_lines(args.history)
        if len(hist) < 2:
            sys.exit(f"{args.history} holds {len(hist)} line(s); need 2")
        ia, ib = (int(args.inputs[0]), int(args.inputs[1])) if len(args.inputs) == 2 else (-2, -1)
        a, b = hist[ia], hist[ib]

    qa, qb = a["queries"], b["queries"]
    warning = host_warning(a, b)
    if warning:
        print(warning)
    print(f"old: total={a.get('value')}s n={len(qa)} errors={len(a.get('errors', {}))} sf={a.get('sf')}")
    print(f"new: total={b.get('value')}s n={len(qb)} errors={len(b.get('errors', {}))} sf={b.get('sf')}")

    added = sorted(set(qb) - set(qa))
    gone = sorted(set(qa) - set(qb))
    if added:
        print(f"added ({len(added)}): {', '.join(added)}")
    if gone:
        print(f"removed ({len(gone)}): {', '.join(gone)}")

    moves = []
    for q in sorted(set(qa) & set(qb)):
        ta, tb = qa[q], qb[q]
        if ta <= 0 or tb <= 0:
            moves.append((float("inf"), q, ta, tb, "error-state change"))
            continue
        r = tb / ta
        if (r >= args.ratio or r <= 1 / args.ratio) and abs(tb - ta) >= args.floor:
            moves.append((max(r, 1 / r), q, ta, tb, f"{r:.2f}x"))
    moves.sort(reverse=True)
    if not moves:
        print(f"no per-query move beyond {args.ratio}x and {args.floor}s")
    else:
        print(f"\n{len(moves)} quer{'y' if len(moves) == 1 else 'ies'} moved >= {args.ratio}x (and {args.floor}s):")
        for _, q, ta, tb, tag in moves:
            print(f"  {q:45s} {ta:8.3f} -> {tb:8.3f}  ({tag})")


if __name__ == "__main__":
    main()
