"""Per-layer tracing from outside the program.

A traced pass runs the workload's chain one public layer call at a
time (``workloads.traced_*_pass``). Each call runs under a Spark job
group named after the layer, on a ``localCheckpoint`` copy of its real
input, and is timed through a ``noop`` write (or the layer's own sink
write). Its output is then checkpointed under the ``trace.materialize``
group so the next layer starts from materialised data. The Spark event
log of the session is parsed afterwards into the per-layer table.

Generic metrics per layer ``L``:

- ``L.wall_s``      wall time of the layer's calls (plan building + jobs)
- ``L.driver_s``    ``wall_s`` not covered by any of the layer's jobs
- ``L.jobs``        Spark jobs the layer ran
- ``L.exec_cpu_s``  executor CPU time of the layer's tasks
- ``L.exec_wait_s`` executor run time minus CPU time: Python workers,
                    shuffle fetch, I/O
- ``L.shuffle_mb``  shuffle bytes written
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict

ITEM_LAYERS = (
    "sources.csv_source",
    "pipeline.format_stage",
    "operators.desc_extract",
    "operators.natural_sort",
    "operators.year_impute",
    "pipeline.split_stage",      # remainder: defaults, flags, month names
    "sources.rest",
    "operators.merge",
    "sinks.rest_push",
    "pipeline.update_stage",     # remainder: pre-routing, conform, union
    "sinks.csv_sink",
)
CORPUS_LAYERS = (
    "operators.text_analysis",
    "corpus",
    "sinks.lake",
    "operators.dedup",
    "operators.graph",
)
LAYERS = ITEM_LAYERS + CORPUS_LAYERS
MATERIALIZE = "trace.materialize"
COUNTS = "trace.count"

GENERIC = (
    ("wall_s", "s", "lower"),
    ("driver_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("exec_cpu_s", "s", "lower"),
    ("exec_wait_s", "s", "lower"),
    ("shuffle_mb", "MB", "lower"),
)
SPECIFIC = (
    ("operators.year_impute.groups", "count", "lower"),
    ("operators.year_impute.rows_to_python", "count", "lower"),
    ("operators.year_impute.useful_ratio", "ratio", "higher"),
    ("operators.desc_extract.match_ratio", "ratio", "higher"),
    ("sources.rest.miss_ratio", "ratio", "lower"),
    ("pipeline.update_stage.error_ratio", "ratio", "lower"),
    ("sinks.csv_sink.mb_written", "MB", "lower"),
    ("sinks.lake.files", "count", "lower"),
    ("sinks.lake.mb_written", "MB", "lower"),
    ("operators.text_analysis.keep_ratio", "ratio", "higher"),
    ("corpus.dup_ratio", "ratio", "lower"),
    ("operators.dedup.candidates", "count", "lower"),
    ("operators.dedup.verify_ratio", "ratio", "higher"),
    ("operators.graph.edges", "count", "lower"),
    ("operators.graph.small_graph_edges", "count", "higher"),
    ("cache.pinned", "count", "lower"),
    ("session.start_s", "s", "lower"),
    ("proc.jvm_peak_rss_mb", "MB", "lower"),
    ("proc.py_workers_peak_rss_mb", "MB", "lower"),
    ("trace.pass_s", "s", "lower"),
    ("trace.untraced_pass_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.materialize_s", "s", "lower"),
    ("trace.unattributed_s", "s", "lower"),
)


def metric_catalog() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in print order."""
    out = [(f"{layer}.{m}", unit, better)
           for layer in LAYERS for m, unit, better in GENERIC]
    return out + list(SPECIFIC)


class Tracer:
    """Times layer calls under per-layer Spark job groups."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.walls: dict[str, float] = defaultdict(float)
        self.materialize_s = 0.0
        self.keep: dict = {}      # checkpoints the count probes read later

    def action(self, layer: str, fn, *args):
        """Run ``fn(*args)`` (it must finish its own jobs) as ``layer``."""
        self.sc.setJobGroup(layer, layer)
        t = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.walls[layer] += time.perf_counter() - t
            self.sc.setJobGroup(MATERIALIZE, MATERIALIZE)

    def op(self, layer: str, fn, *args):
        """``fn(*args)`` returns a lazy DataFrame: build it and run it
        through a noop write as ``layer``, then checkpoint it."""
        def run():
            df = fn(*args)
            df.write.format("noop").mode("overwrite").save()
            return df
        return self.materialize(self.action(layer, run))

    def materialize(self, df):
        self.sc.setJobGroup(MATERIALIZE, MATERIALIZE)
        t = time.perf_counter()
        ck = df.localCheckpoint(eager=True)
        self.materialize_s += time.perf_counter() - t
        return ck


def event_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``, in order: Spark 4 rolls the log
    of one application into ``eventlog_v2_<app>/events_<n>_<app>``."""
    return sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )


def parse_event_log(paths: list[str]) -> dict[str, dict]:
    """Job group → jobs, job intervals (ms), executor CPU/run time and
    shuffle bytes written, summed over the group's tasks."""
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "intervals": [], "cpu_ns": 0, "run_ms": 0, "shuffle_bytes": 0,
    })
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or "(none)"
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = ev["Submission Time"]
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        groups[job_group[jid]]["intervals"].append(
                            (job_start[jid], ev["Completion Time"]))
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    acc = groups[g]
                    acc["cpu_ns"] += m.get("Executor CPU Time", 0)
                    acc["run_ms"] += m.get("Executor Run Time", 0)
                    acc["shuffle_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
    return dict(groups)


def covered_s(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals, in s."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def layer_metrics(walls: dict[str, float], groups: dict[str, dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for layer in LAYERS:
        g = groups.get(layer, {"jobs": 0, "intervals": [], "cpu_ns": 0,
                               "run_ms": 0, "shuffle_bytes": 0})
        wall = walls.get(layer, 0.0)
        cpu = g["cpu_ns"] / 1e9
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.driver_s"] = max(0.0, wall - covered_s(g["intervals"]))
        out[f"{layer}.jobs"] = g["jobs"]
        out[f"{layer}.exec_cpu_s"] = cpu
        out[f"{layer}.exec_wait_s"] = max(0.0, g["run_ms"] / 1000.0 - cpu)
        out[f"{layer}.shuffle_mb"] = g["shuffle_bytes"] / 1e6
    return out


def dir_stats(paths: list[str], suffix: str = "") -> tuple[int, float]:
    """(data files, MB) under ``paths``, skipping Spark's hidden/_ files."""
    files, size = 0, 0
    for root in paths:
        for d, _, names in os.walk(root):
            for n in names:
                if n.startswith((".", "_")) or not n.endswith(suffix):
                    continue
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size / 1e6


def _rss_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _parents() -> dict[int, int]:
    """pid → parent pid for every process visible in /proc."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                rest = f.read().rsplit(")", 1)[1].split()
            out[int(stat.split("/")[2])] = int(rest[1])
        except (OSError, IndexError, ValueError):
            pass
    return out


class RssSampler:
    """Peak RSS of the JVM (its VmHWM) and peak summed RSS of the
    Python worker processes under it, sampled every ``period`` s."""

    def __init__(self, jvm_pid: int, period: float = 0.25):
        self.jvm_pid = jvm_pid
        self.period = period
        self.py_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        while not self._stop.is_set():
            parent = _parents()
            below, total = {self.jvm_pid}, 0
            for _ in range(4):   # daemon → forked workers: a few levels
                below |= {p for p, pp in parent.items() if pp in below}
            for pid in below - {self.jvm_pid}:
                total += _rss_kb(pid, "VmRSS:")
            self.py_peak_kb = max(self.py_peak_kb, total)
            self._stop.wait(self.period)

    def jvm_peak_mb(self) -> float:
        return _rss_kb(self.jvm_pid, "VmHWM:") / 1024.0
