"""Timed tripwire for the DISTRIBUTED branches of the adaptive
small-input driver gates (VERDICT r13 #2): at test SFs the gated keys
(graph_kcore, graph_labelprop, dedup_cluster's closure, graph_triangles,
the PQ / IVF-PQ refine fetch, the kmeans expression gate) always take
the driver-side branch, so a regression introduced into the
distributed rounds is invisible to every normal bench row. This tool
forces the distributed branch via SPARK_GRAFT_FORCE_DISTRIBUTED=1
(which makes session.small_input, the one gate, answer False),
VERIFIES the forced output row set equals the gated path's, times each
key with bench.py's estimator (``bench.time_key``: count action, min
over 2..MAX_REPS steal-aware reps, release_all once per key), and
writes one JSON artifact to bench_runs/.

    python tools/distributed_tripwire.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import open_session, time_key, write_artifact  # noqa: E402
from journal_batch_processer_spark.cache import release_all  # noqa: E402
from journal_batch_processer_spark.queries import REGISTRY  # noqa: E402

KEYS = [
    "graph_kcore",
    "graph_labelprop",
    "dedup_cluster",
    "kmeans_distributed",
    "graph_triangles",
    "sim_search_pq",
    "sim_search_ivfpq",
]


def _rows(spark, sf_dir: str, key: str) -> list[tuple]:
    rows = sorted(tuple(r) for r in REGISTRY[key].fn(spark, sf_dir).collect())
    release_all()
    return rows


def main() -> None:
    spark, sf_dir = open_session("jbp-dist-tripwire")
    out: dict = {"sf_dir": sf_dir, "keys": {}}
    for key in KEYS:
        # gated-path reference rows (env unset)
        os.environ.pop("SPARK_GRAFT_FORCE_DISTRIBUTED", None)
        ref = _rows(spark, sf_dir, key)
        os.environ["SPARK_GRAFT_FORCE_DISTRIBUTED"] = "1"
        try:
            match = _rows(spark, sf_dir, key) == ref
            t = time_key(spark, sf_dir, key)
        finally:
            os.environ.pop("SPARK_GRAFT_FORCE_DISTRIBUTED", None)
        out["keys"][key] = {
            "distributed_best_sec": t.best,
            "walls": t.walls,
            "steal_at_best": t.steal_at_best,
            "rows": t.rows,
            "matches_gated_path": match,
        }
        print(
            f"# {key}: dist best={t.best:.3f}s walls={t.walls} rows={t.rows} "
            f"match={match}",
            file=sys.stderr,
            flush=True,
        )
        if not match:
            raise SystemExit(
                f"{key}: forced-distributed rows DIVERGE from gated path"
            )
    write_artifact("dist_tripwire", out)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
