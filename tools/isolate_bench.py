"""Isolated per-key timing: each key timed in one fresh session with
bench.py's estimator (``bench.time_key``: count action, min over
2..MAX_REPS steal-aware reps, release_all after each key), or with a
noop-sink write instead of the count (guide §1.4).

    python tools/isolate_bench.py [--noop] key [key...]

Prints one line per key: best wall, rep walls, steal@best, rows.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import open_session, time_key  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args()
    spark, sf_dir = open_session("jbp-isolate")
    for key in args.keys:
        t = time_key(spark, sf_dir, key, noop=args.noop)
        print(
            f"{key}: best={t.best:.3f}s reps={t.walls} "
            f"steal@best={t.steal_at_best} rows={t.rows}",
            flush=True,
        )


if __name__ == "__main__":
    main()
