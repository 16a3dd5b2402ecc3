"""Mechanical drift-vs-noise separation over committed bench artifacts.

bench.py keeps every run's full JSON under bench_runs/. This comparator
reads them all (or a --since prefix), computes each query's TRAILING
MEDIAN across prior runs, and flags queries whose latest best exceeds
median * THRESHOLD — so a real plan regression is distinguishable from
the run-to-run noise this host is known for (dedup_ngram swings
2.0–3.3 s across one day at local[32]; BASELINE.md logs 6.4× episodic
steal on identical code).

    python tools/bench_diff.py                # latest vs trailing median
    python tools/bench_diff.py --threshold 1.2
    python tools/bench_diff.py --latest bench_runs/bench_XXX.json

Exit status: number of flagged queries (0 = clean), so it can gate.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import RUNS_DIR  # noqa: E402


def load_runs(runs_dir: str) -> list[tuple[str, dict]]:
    runs = []
    for fname in sorted(os.listdir(runs_dir)):
        if not (fname.startswith("bench_") and fname.endswith(".json")):
            continue
        try:
            with open(os.path.join(runs_dir, fname)) as fh:
                runs.append((fname, json.load(fh)))
        except (OSError, ValueError):
            continue
    return runs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--threshold", type=float, default=1.3)
    ap.add_argument("--latest", help="artifact to judge (default: newest)")
    ap.add_argument("--sf", type=float, default=0.1,
                    help="only compare runs at this scale factor")
    ap.add_argument("--window", type=int, default=12,
                    help="trailing-median window: only the newest N "
                         "prior runs feed the median, so the tripwire "
                         "re-centers itself after a host change (the "
                         "box has rebooted between rounds twice; "
                         "all-history medians compare against a dead "
                         "host). 0 = unlimited (pre-r13 behavior)")
    args = ap.parse_args()

    runs = [(f, r) for f, r in load_runs(RUNS_DIR) if r.get("sf") == args.sf]
    if args.latest:
        latest_name = os.path.basename(args.latest)
        prior = [(f, r) for f, r in runs if f != latest_name]
        latest = dict(runs).get(latest_name)
        if latest is None:
            with open(args.latest) as fh:
                latest = json.load(fh)
    else:
        if len(runs) < 2:
            print("need >=2 artifacts to diff", file=sys.stderr)
            return 0
        latest_name, latest = runs[-1]
        prior = runs[:-1]
    if args.window > 0:
        prior = prior[-args.window:]

    flagged = 0
    print(f"latest: {latest_name}  vs  {len(prior)} prior runs  "
          f"(threshold {args.threshold}x trailing median)")
    for q, t in sorted(latest.get("queries", {}).items()):
        hist = [r["queries"][q] for _, r in prior if q in r.get("queries", {})]
        if not hist:
            print(f"  NEW   {q}: {t}s (no history)")
            continue
        med = statistics.median(hist)
        ratio = t / med if med else float("inf")
        mark = ""
        if ratio > args.threshold:
            mark = "  <-- REGRESSION?"
            flagged += 1
        elif ratio < 1 / args.threshold:
            mark = "  (improved)"
        print(
            f"  {'FLAG' if ratio > args.threshold else 'ok':4s}  {q}: "
            f"{t}s vs median {med:.2f}s over {len(hist)} runs "
            f"= {ratio:.2f}x{mark}"
        )
    print(f"{flagged} flagged")
    return flagged


if __name__ == "__main__":
    sys.exit(main())
