#!/usr/bin/env python3
"""Compare two graft.Bench profiles on LOAD-INVARIANT bytes.

The round regression gate (BASELINE.md "judge on BYTES first"): a query
whose shuffle bytes moved is a real plan change; a query whose seconds
moved with bytes flat is ambient load/JIT noise. This tool makes that
adjudication mechanical:

  # same-scale round-over-round diff (default thresholds 15% and 64 KiB)
  # (the anchor tools/round_gate.sh uses: graft.Bench at sf0.1 on 4 cores;
  # bench with SPARK_GRAFT_CPUS="$(nproc)")
  python3 tools/bytes_diff.py tools/baselines/bench_sf01_41bd45a_4c.json target/bench.json

  # cross-scale ratio audit (sf0.1 -> sf1 should be <= ~12x for linear
  # plans; all-pairs ORACLE GATES are expected super-linear and listed)
  python3 tools/bytes_diff.py --ratio 12 sf01.json sf1.json

Exit status 1 when any non-exempt mover/super-linear query is found, so
a round script can gate on it.
"""
import argparse
import json
import sys

# All-pairs oracle gates and small-base artifacts, documented in
# BASELINE.md's sf1 section: expected super-linear, never adjudicated.
RATIO_EXEMPT = {
    "q25_ngram_jaccard", "q66_dedup_clusters", "q78_cluster_representatives",
    "q90_multisignal_dedup", "q135_cluster_stats", "q119_cluster_balance",
}


def load(path):
    with open(path) as f:
        d = json.load(f)
    prof = d.get("profile") or {}
    if not prof:
        sys.exit(f"{path}: no 'profile' map (pre-r7 bench format?)")
    return d, prof


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--pct", type=float, default=15.0,
                    help="relative shuffle-read threshold (same-scale mode)")
    ap.add_argument("--floor", type=int, default=65536,
                    help="ignore absolute deltas below this many bytes")
    ap.add_argument("--ratio", type=float, default=None,
                    help="cross-scale mode: flag byte ratios above this")
    args = ap.parse_args()

    _, base = load(args.base)
    _, new = load(args.new)
    shared = sorted(set(base) & set(new))
    only_base = sorted(set(base) - set(new))
    only_new = sorted(set(new) - set(base))
    flagged = []
    for q in shared:
        b, n = base[q].get("shufR", 0), new[q].get("shufR", 0)
        if args.ratio is not None:
            if q in RATIO_EXEMPT:
                continue
            r = (n / b) if b else (float("inf") if n > args.floor else 0.0)
            if r > args.ratio:
                flagged.append((q, b, n, f"{r:.1f}x"))
        else:
            if abs(n - b) < args.floor:
                continue
            pct = abs(n - b) * 100.0 / max(b, 1)
            if pct > args.pct:
                flagged.append((q, b, n, f"{'+' if n > b else '-'}{pct:.0f}%"))

    mode = f"ratio>{args.ratio}x" if args.ratio is not None else f"delta>{args.pct}%"
    print(f"shared={len(shared)} base-only={len(only_base)} new-only={len(only_new)}")
    if only_new:
        print(f"new queries (not in baseline, unadjudicated): {only_new}")
    ok = True
    if only_base:
        # a partial bench run (SPARK_GRAFT_ONLY subset, or a crashed
        # Bench writing a truncated profile) must NOT pass the gate —
        # every baseline query that went unmeasured is an unreviewed
        # potential regression
        print(f"MISSING from the new profile ({len(only_base)}): {only_base}")
        ok = False
    if flagged:
        print(f"MOVERS ({mode}, floor {args.floor}B): {len(flagged)}")
        for q, b, n, tag in sorted(flagged, key=lambda x: -abs(x[2] - x[1])):
            print(f"  {q:32s} {b:>14,d} -> {n:>14,d}  {tag}")
        ok = False
    if not ok:
        sys.exit(1)
    print(f"OK zero byte movers ({mode}, floor {args.floor}B)")


if __name__ == "__main__":
    main()
