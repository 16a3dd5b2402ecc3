"""Timed tripwire for the DISTRIBUTED branches of the adaptive
small-input driver gates (VERDICT r13 #2): at test SFs the gated keys
(graph_kcore, graph_labelprop, dedup_cluster's closure, graph_triangles,
the PQ / IVF-PQ refine fetch, the kmeans expression gate) always take
the driver-side branch, so a regression introduced into the
distributed rounds is invisible to every normal bench row. This tool
forces the distributed branch via SPARK_GRAFT_FORCE_DISTRIBUTED=1
(which makes session.small_input, the one gate, answer False), times
each key with the bench methodology (min over reps, count action,
release_all between keys), VERIFIES the forced output row set equals
the gated path's, and writes one JSON artifact to bench_runs/.

    python tools/distributed_tripwire.py [--reps 4]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _interval_frac, _proc_stat  # noqa: E402
from journal_batch_processer_spark.cache import release_all  # noqa: E402
from journal_batch_processer_spark.queries import REGISTRY  # noqa: E402
from journal_batch_processer_spark.session import get_spark  # noqa: E402

KEYS = [
    "graph_kcore",
    "graph_labelprop",
    "dedup_cluster",
    "kmeans_distributed",
    "graph_triangles",
    "sim_search_pq",
    "sim_search_ivfpq",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=4)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("jbp-dist-tripwire")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()  # warm-up

    out: dict = {"sf_dir": sf_dir, "reps": args.reps, "keys": {}}
    for key in KEYS:
        fn = REGISTRY[key].fn
        # gated-path reference rows (env unset)
        os.environ.pop("SPARK_GRAFT_FORCE_DISTRIBUTED", None)
        ref = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        release_all()
        os.environ["SPARK_GRAFT_FORCE_DISTRIBUTED"] = "1"
        try:
            forced = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
            release_all()
            match = forced == ref
            best, best_steal, walls = float("inf"), 0.0, []
            for _ in range(args.reps):
                spark.sparkContext.setJobDescription(f"dist-tripwire:{key}")
                s0 = _proc_stat()
                t0 = time.perf_counter()
                n = fn(spark, sf_dir).count()
                wall = time.perf_counter() - t0
                frac = _interval_frac(s0, _proc_stat())
                release_all()
                walls.append(round(wall, 3))
                if wall < best:
                    best, best_steal = wall, frac
        finally:
            os.environ.pop("SPARK_GRAFT_FORCE_DISTRIBUTED", None)
        out["keys"][key] = {
            "distributed_best_sec": round(best, 3),
            "walls": walls,
            "steal_at_best": best_steal,
            "rows": n,
            "matches_gated_path": match,
        }
        print(
            f"# {key}: dist best={best:.3f}s walls={walls} rows={n} "
            f"match={match}",
            file=sys.stderr,
            flush=True,
        )
        if not match:
            raise SystemExit(
                f"{key}: forced-distributed rows DIVERGE from gated path"
            )
    fname = (
        f"dist_tripwire_{time.strftime('%Y%m%dT%H%M%SZ', time.gmtime())}.json"
    )
    runs_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench_runs",
    )
    with open(os.path.join(runs_dir, fname), "w") as f:
        f.write(json.dumps(out) + "\n")
    print(json.dumps(out))
    print(f"# artifact: bench_runs/{fname}", file=sys.stderr)


if __name__ == "__main__":
    main()
