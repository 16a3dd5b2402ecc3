"""One benchmark process: Spark session, cold pass, warm passes.

Started by ``perfbench/run.py`` as ``python3 -m perfbench.worker CONFIG``
with the checkout root as working directory. It reads the JSON config
the parent wrote (inputs, ground truth, mode, run length) and writes
its JSON result next to it. Run length never depends on host steal.

Modes:

- ``run``: cold pass, ``warmup`` discarded passes, then timed passes
  until ``seconds`` of pass wall time and at least ``min_timed`` passes.
- ``trace``: cold pass, warm-up, one untraced pass, then one traced pass
  (``trace.Tracer``) with the Spark event log on; the event log is
  parsed into the per-layer table after the session stops.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback


def proc_stat() -> tuple[int, int]:
    """(total jiffies, steal + iowait jiffies) from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    # guest time is already counted in user time
    return sum(vals[:8]), vals[4] + (vals[7] if len(vals) > 7 else 0)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


class Runner:
    """Runs and checks passes; records one entry per pass attempted."""

    def __init__(self, spark, cfg: dict):
        from perfbench import workloads as W

        self.spark = spark
        self.cfg = cfg
        self.out_dir = cfg["out_dir"]
        if cfg["workload"] in W.ITEMS_SHAPES:
            self.run_pass, self.check = W.items_pass, W.check_items
            self.traced_pass, self.counts = W.traced_items_pass, W.items_counts
        else:
            self.run_pass, self.check = W.corpus_pass, W.check_corpus
            self.traced_pass, self.counts = W.traced_corpus_pass, W.corpus_counts
        self.passes: list[dict] = []

    def one(self, kind: str, tracer=None) -> dict:
        from journal_batch_processer_spark import cache

        rec = {"kind": kind}
        # every pass writes into an empty output directory, as a first run would
        shutil.rmtree(self.out_dir, ignore_errors=True)
        s0 = proc_stat()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                outputs = self.run_pass(self.spark, self.cfg["inputs"], self.out_dir)
            else:
                outputs = self.traced_pass(self.spark, tracer, self.cfg["inputs"],
                                           self.out_dir)
            rec["wall_s"] = time.perf_counter() - t0
            rec["done_mono"] = time.monotonic()
            rec["steal_iowait"] = steal_frac(s0, proc_stat())
            rec["outputs"] = outputs
        except Exception:  # noqa: BLE001 - a failed pass is counted, not retried
            rec["error"] = traceback.format_exc(limit=5)
        if tracer is None:
            rec["pinned"] = cache.release_all()
        if "error" not in rec:
            try:
                rec["digest"] = self.check(rec["outputs"], self.cfg["truth"])
            except Exception:  # noqa: BLE001 - check failure fails the pass
                rec["error"] = traceback.format_exc(limit=3)
        self.passes.append(rec)
        status = rec.get("error", "").strip().splitlines()[-1:] or ["ok"]
        print(f"[perfbench] {kind} pass {rec.get('wall_s', float('nan')):.3f}s "
              f"{status[0]}", file=sys.stderr, flush=True)
        return rec


def session(cfg: dict, extra: dict | None = None):
    from journal_batch_processer_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": cfg["spark_local"],
        **(extra or {}),
    }
    spark = get_spark(f"perfbench-{cfg['workload']}", master=f"local[{cfg['cores']}]",
                      shuffle_partitions=cfg["cores"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_mode(cfg: dict) -> dict:
    t = time.perf_counter()
    spark = session(cfg)
    session_s = time.perf_counter() - t
    r = Runner(spark, cfg)
    cold = r.one("cold")
    for _ in range(cfg["warmup"]):
        r.one("warmup")
    timed = 0.0
    n = 0
    while timed < cfg["seconds"] or n < cfg["min_timed"]:
        timed += r.one("timed").get("wall_s", 0.0)
        n += 1
    spark.stop()
    return {"session_s": session_s, "cold_done_mono": cold.get("done_mono"),
            "passes": r.passes}


def trace_mode(cfg: dict) -> dict:
    from journal_batch_processer_spark import cache
    from perfbench import trace as T

    log_dir = cfg["event_log"]
    os.makedirs(log_dir, exist_ok=True)
    t = time.perf_counter()
    spark = session(cfg, {"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": log_dir,
                          "spark.eventLog.compress": "false"})
    session_s = time.perf_counter() - t
    r = Runner(spark, cfg)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    with T.RssSampler(jvm_pid) as rss:
        r.one("cold")
        for _ in range(cfg["warmup"]):
            r.one("warmup")
        untraced = r.one("untraced")
        tracer = T.Tracer(spark)
        traced = r.one("traced", tracer)
        pinned = cache.release_all()
        spark.sparkContext.setJobGroup(T.COUNTS, T.COUNTS)
        counts = r.counts(spark, tracer, traced.get("outputs", {}))
        jvm_peak = rss.jvm_peak_mb()
    spark.stop()
    groups = T.parse_event_log(T.event_files(log_dir))
    metrics = T.layer_metrics(tracer.walls, groups)
    metrics.update(counts)
    layers_wall = sum(tracer.walls.values())
    metrics.update({
        "cache.pinned": pinned,
        "session.start_s": session_s,
        "proc.jvm_peak_rss_mb": jvm_peak,
        "proc.py_workers_peak_rss_mb": rss.py_peak_kb / 1024.0,
        "trace.pass_s": traced.get("wall_s", 0.0),
        "trace.untraced_pass_s": untraced.get("wall_s", 0.0),
        "trace.overhead_s": traced.get("wall_s", 0.0) - untraced.get("wall_s", 0.0),
        "trace.materialize_s": tracer.materialize_s,
        "trace.unattributed_s":
            traced.get("wall_s", 0.0) - layers_wall - tracer.materialize_s,
    })
    if traced.get("digest") != untraced.get("digest"):
        traced.setdefault("error", "traced pass output digest differs from untraced")
    return {"session_s": session_s, "passes": r.passes, "layers": metrics,
            "groups_seen": sorted(groups)}


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    result = (trace_mode if cfg["mode"] == "trace" else run_mode)(cfg)
    for rec in result["passes"]:
        rec.pop("outputs", None)
    with open(cfg["result"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
