#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:

    {"metric": "total_wall_sec", "value": N, "unit": "sec",
     "queries": {"q_name": sec, ...}, "sf": 0.1, "host": {...}}

Each query is timed as a full action (count of the result), after a
shared warm-up that loads the session and JIT paths. Per-query wall
time includes plan + execution — what a user actually waits for.

Steal-awareness: the bench box is a shared microVM with episodic CPU
steal (identical code has measured 12.4s and 79.6s an hour apart —
BASELINE.md). Around every rep we read /proc/stat and record the
steal+iowait fraction of that interval; a rep taken under heavy steal
triggers extra reps, and the reported per-query figure is min-over-reps
(the standard estimator of true cost absent interference). The JSON
carries per-query and whole-run steal fractions so a reader can tell a
plan regression from a noisy host.

This module is also the one timing core of the repo: ``open_session``,
``time_key`` and ``write_artifact`` are what tools/isolate_bench.py and
tools/distributed_tripwire.py time and record with.
"""

from __future__ import annotations

import json
import os
import sys
import time
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from journal_batch_processer_spark.cache import release_all  # noqa: E402
from journal_batch_processer_spark.queries import REGISTRY  # noqa: E402
from journal_batch_processer_spark.session import get_spark  # noqa: E402

# Headline set: the reference's pipeline spine + each operator family's
# heaviest representative (BASELINE.md carries the rows to beat).
BENCH_QUERIES = [
    "pipeline_chain",    # format→split end-to-end (regex+sort+impute)
    "desc_extract",      # regex dispatch alone
    "year_impute",       # applyInPandas sequential per group
    "group_agg",         # TPC-H Q1 shape
    "window_rank",       # partitioned window
    "join_asof",         # union-window as-of join
    "enrich_fetch",      # update-stage enrichment join
    "dedup_ngram",       # naive shingle-join Jaccard (r01 baseline row)
    "dedup_ngram_prefix",  # PPJoin prefix-filtered exact Jaccard
    "dedup_minhash",     # LSH banding
    "dedup_near",        # minhash→band→verify near-dup end-to-end
    "sim_search",        # brute-force cosine top-k (BLAS matrix path)
    "text_quality",      # text scoring
    "window_tumble",     # time-window aggregation
    "text_pii_scrub",    # regex redaction battery
    "dedup_cluster",     # iterative connected components
    "corpus_pipeline",   # gate→scrub→dedup→split corpus pass
    # Structured Streaming drains (VERDICT r04 #7): timed like any
    # other query, plus per-batch listener metrics in "streams"
    "stream_tumble",     # watermarked tumbling window drain
    "stream_session",    # applyInPandasWithState sessionizer drain
    # round-5 late additions (extended set only — the 14-query
    # baseline-comparable subset in BASELINE.md is unchanged)
    "sim_search_pq",     # PQ-ADC shortlist + exact re-rank
    "dedup_semantic",    # SemDeDup cell-local near-dup drop
    "join_bloom",        # bloom semi-join reduction before the join
    # r06: media decode in the timed set (VERDICT r05 #7) so a decoder
    # regression (e.g. a subsampling change) is visible as a number
    "media_image_decode_jpeg",  # stdlib JPEG: 4:4:4/4:2:0/progressive/RSTn
    "media_frames_decode",      # stdlib GIF container decode, per-frame
    # r07 late: AVI container decode joins the tripwire set (frames
    # cycle sequential/progressive/arithmetic JPEG coding)
    "media_video_decode",
    # r08: the iterative multi-round drivers join the timed set
    # (VERDICT r07 #4) — a loop-count or convergence regression in a
    # driver-side round loop is invisible to every single-action query
    "tokenizer_train",     # 8 sequential BPE best-merge rounds
    "graph_labelprop",     # 3 unrolled LPA vote rounds
    "embed_pca_power",     # 12 unrolled integer matvec join+aggs
    "kmeans_distributed",  # Lloyd assign/update rounds over embeddings
    # r08: snapshot-table read path (manifest resolve → per-colset
    # grouped scans → union, x6 versions); the fixture builds once and
    # memoizes, so steady-state reps time the READ side — the tripwire
    # this guards is plan/manifest-resolution regressions, not commits
    "table_snapshot_read",
    # r08 late: the two heaviest new text/dedup paths join the timed
    # set — ngram-LM is the corpus-model train+score spine (three
    # passes over the bigram relation, now pinned), substring dedup is
    # the highest-fanout window emitter in the repo (~n_tokens md5s
    # per doc)
    "text_ngramlm",
    "dedup_substring",
    # r08 session 2: the supervised-curation pair — classifier is a
    # second corpus-model train+score (vocab-keyed join, stopword
    # skew); DSIR adds the fixed-4096-bucket broadcast-join shape
    "quality_classifier",
    "dsir_select",
    # r08 session 2: the heaviest new multi-join driver — wedge
    # counting over the near-dup graph (pairs gen + 3-branch pinned
    # orientation + two joins); a candidate-generator or caching
    # regression shows here first
    "graph_triangles",
    # r08 session 3: the h-index coreness driver (6 unrolled
    # join+window+agg rounds — a window-vs-agg exchange-reuse
    # regression shows here), and the merge-on-read read path (per
    # delete-scoped file group: scan + broadcast anti-joins; a plan
    # that shuffles for the anti-join would triple this row)
    "graph_kcore",
    "table_mor_read",
    # r08 session 4: incremental dedup-index maintenance — the CDF
    # fold + changed-doc band probe; an index-maintenance regression
    # that falls back to corpus re-signaturing would multiply this row
    "dedup_index_incremental",
    # r10: the MOR MERGE read path (stacked positional + equality
    # delete anti-joins over the merge chain — a plan that shuffles
    # for either anti-join kind would multiply this row), and the
    # bloom point-lookup path (manifest bloom probes + pruned scan —
    # a pruning regression turns O(matching files) into O(table))
    "table_merge_mor_read",
    "table_bloom_read",
    # r11 (VERDICT r10 item 8): the 5 late-r10 keys join the timed
    # set — mapInPandas decode→fingerprint shapes (video triple) and
    # window/broadcast shapes (winnowing, langid) with no timing
    # history yet; a decode or selection-rule regression shows here
    "media_video_fingerprint",
    "media_video_pairs",
    "text_winnowing",
    "text_winnowing_pairs",
    "text_langid_ngram",
    # r12: rewritten candidate generator joins the timed set — the
    # pigeonhole chunk/window equi-join replaced the band-only join
    # the first 100x sweep exposed as quadratic; a blocking
    # regression (key dropped from the join, window legs widened)
    # shows here as a superlinear jump
    "dedup_editdist",
    # r12 session 4: the per-bucket BLAS cosine verify replaced the
    # vector-carrying bucket join (which moved ~100 GB of row payload
    # at 100x and never finished); a regression back to a pairwise
    # row path shows here as a superlinear jump
    "dedup_embed_lsh",
]

# extra reps are bought only while a rep saw steal OR the best is
# still improving >15% (JIT warm-up); 4 was too few for the heaviest
# codegen plans in a cold JVM (r06: year_impute read 0.92 at the
# 4-rep cap but 0.84 on rep 5 — still improving when capped)
MAX_REPS = 6
STEAL_RETRY_FRAC = 0.05


def _proc_stat():
    """(busy_or_idle_total, steal, iowait) jiffies from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        total = sum(vals)
        iowait = vals[4] if len(vals) > 4 else 0
        steal = vals[7] if len(vals) > 7 else 0
        return total, steal, iowait
    except OSError:  # non-Linux: report zeros, never fail the bench
        return 0, 0, 0


def _interval_frac(before, after):
    """Steal+iowait fraction of the CPU-time interval between samples."""
    dt = after[0] - before[0]
    if dt <= 0:
        return 0.0
    return round((after[1] - before[1] + after[2] - before[2]) / dt, 4)


def _sample():
    """(wall clock, /proc/stat sample) at one instant: the two ends of
    a timed rep."""
    return time.perf_counter(), _proc_stat()


class _StreamProgressCollector:
    """StreamingQueryListener capturing per-batch rates/latencies so a
    streaming regression is visible in the bench artifact the way batch
    regressions are (VERDICT r04 #7). Keyed by queryName; keeps the
    LAST run's batches per stream (reps overwrite)."""

    def __init__(self) -> None:
        self.by_name: dict[str, list[dict]] = {}
        self._runs: dict[str, str] = {}

    def make_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                name = p.name or str(p.id)
                if outer._runs.get(name) != str(p.runId):
                    outer._runs[name] = str(p.runId)
                    outer.by_name[name] = []
                outer.by_name[name].append(
                    {
                        "batch_id": p.batchId,
                        "input_rows": p.numInputRows,
                        "rows_per_sec": round(p.processedRowsPerSecond or 0.0, 1),
                        "duration_ms": dict(p.durationMs or {}),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _L()


RUNS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_runs")


class KeyTiming(NamedTuple):
    best: float  # min over reps, seconds (rounded like ``walls``)
    steal_at_best: float  # steal+iowait fraction of the best rep
    walls: list[float]  # every rep's wall; rep 1 is cold
    rows: int  # count() of the result, -1 under ``noop``
    capped: bool  # stopped at MAX_REPS while the last rep still improved >15%


def open_session(app: str):
    """``(spark, sf_dir)``: a session over $SPARK_GRAFT_SF_DIR after the
    shared warm-up (JVM + parquet footer reads)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # no console progress bars: they share stderr with the per-key lines
    spark = get_spark(app, extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    return spark, sf_dir


def time_key(spark, sf_dir: str, key: str, noop: bool = False) -> KeyTiming:
    """Time one registry key as a full action (``count()``, or a noop-sink
    write when ``noop``), min over 2..MAX_REPS reps. Each rep's jobs carry
    the key as their description. Pinned relations are shared by the
    reps of one key and released once, after the loop, so nothing stays
    pinned into the next key."""
    fn = REGISTRY[key].fn
    best, best_steal, rows = float("inf"), 0.0, -1
    walls: list[float] = []
    while len(walls) < MAX_REPS:
        spark.sparkContext.setJobDescription(key)
        t0, s0 = _sample()
        df = fn(spark, sf_dir)
        if noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            rows = df.count()
        t1, s1 = _sample()
        wall = t1 - t0
        frac = _interval_frac(s0, s1)
        walls.append(round(wall, 3))
        improving = wall < best * 0.85  # JIT/codegen still warming
        if wall < best:
            best, best_steal = wall, frac
        # always take 2 reps; buy more while the best rep ran under
        # visible steal/iowait OR the latest rep still improved the
        # best by >15% (whole-stage codegen warms over the first
        # executions of a heavy plan — min-of-2 under-measures it)
        if len(walls) >= 2 and best_steal <= STEAL_RETRY_FRAC and not improving:
            break
    release_all()
    spark.sparkContext.setJobDescription(None)
    capped = len(walls) == MAX_REPS and improving
    return KeyTiming(round(best, 3), best_steal, walls, rows, capped)


def write_artifact(name: str, obj: dict, suffix: str = "") -> str:
    """Write ``obj`` as one JSON line to
    ``bench_runs/<name>_<UTC stamp><suffix>.json`` and return that
    relative path. Best-effort: a failed write is reported on stderr,
    never raised, so a run's stdout result survives it."""
    fname = f"{name}_{time.strftime('%Y%m%dT%H%M%SZ', time.gmtime())}{suffix}.json"
    rel = os.path.join(os.path.basename(RUNS_DIR), fname)
    try:
        os.makedirs(RUNS_DIR, exist_ok=True)
        with open(os.path.join(RUNS_DIR, fname), "w") as f:
            f.write(json.dumps(obj) + "\n")
        print(f"# artifact: {rel}", file=sys.stderr)
    except OSError as e:  # pragma: no cover - artifact write best-effort
        print(f"# artifact write failed: {e}", file=sys.stderr)
    return rel


def main() -> None:
    spark, sf_dir = open_session("jbp-bench")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    streams = _StreamProgressCollector()
    listener = None
    try:
        listener = streams.make_listener()
        spark.streams.addListener(listener)
    except Exception:  # noqa: BLE001 - listener is observability only
        listener = None

    run_start = _proc_stat()
    timings: dict[str, float] = {}
    steal_at_best: dict[str, float] = {}
    rep_counts: dict[str, int] = {}
    # r14 (VERDICT r13 #6, additions-only): every rep's wall time goes
    # into the artifact so cold (rep 1, pinned caches empty) vs warm
    # reps are distinguishable for keys that pin relations — the
    # min-over-reps headline estimator is UNCHANGED for cross-round
    # comparability.
    rep_times: dict[str, list[float]] = {}
    capped: list[str] = []
    for name in BENCH_QUERIES:
        t = time_key(spark, sf_dir, name)
        timings[name] = t.best
        steal_at_best[name] = t.steal_at_best
        rep_counts[name] = len(t.walls)
        rep_times[name] = t.walls
        if t.capped:
            capped.append(name)
        print(
            f"# {name}: {t.best}s ({t.rows} rows, {len(t.walls)} reps, "
            f"steal@best={t.steal_at_best})",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    # Full-detail artifact (reps, estimator, streams, host steal): every
    # run keeps its JSON (VERDICT r04 #5: a headline number must always
    # have a committed artifact behind it).
    result = {
        "metric": "total_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # per-query rep counts IN the artifact (ADVICE r04): the
        # estimator is min-over-reps with retry-while-improving
        # (MAX_REPS cap); r01 baseline rows were min-of-2, so
        # cross-round ratios partly reflect the estimator change
        "reps": rep_counts,
        # per-rep walls, rep 1 = cold (pinned caches start empty; they
        # are released after the rep loop, so later reps of pinned keys
        # run warm — VERDICT r13 #3/#6)
        "rep_times": rep_times,
        # keys whose best is an upper bound, not a converged minimum:
        # the rep cap hit while the last rep still improved >15%
        "capped": capped,
        "estimator": f"min over up to {MAX_REPS} reps "
        "(retry on steal>5% or >15% improvement); r01 baseline was min-of-2",
        "streams": streams.by_name,
        "host": {
            "run_steal_iowait_frac": _interval_frac(run_start, _proc_stat()),
            "steal_iowait_frac_at_best": steal_at_best,
            "cpus": os.cpu_count(),
        },
    }
    artifact = write_artifact("bench", result, f"_sf{sf}")
    # Stdout gets a COMPACT line: the driver records only the last ~2KB
    # of stdout and JSON-parses the line it finds there, so the full
    # artifact (streams + per-query steal) overflows the capture window
    # (BENCH_r05/r06 recorded "parsed": null for exactly this reason).
    # Required fields only + steal summary + a pointer to the artifact.
    line = json.dumps(
        {
            "metric": "total_wall_sec",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "steal_frac": _interval_frac(run_start, _proc_stat()),
            "artifact": artifact,
        },
        separators=(",", ":"),
    )
    if len(line) > 1800:  # pragma: no cover - tripwire, never expected
        # keep the line parseable even if the query set grows huge:
        # drop per-query detail before breaking the driver's parse
        line = json.dumps(
            {
                "metric": "total_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": {},
                "sf": sf,
                "artifact": artifact,
            },
            separators=(",", ":"),
        )
    if listener is not None:
        try:
            # detach before the Python gateway closes, else the JVM's
            # callback at shutdown spews a harmless-but-noisy stack
            spark.streams.removeListener(listener)
        except Exception:  # noqa: BLE001
            pass
    print(line)


if __name__ == "__main__":
    main()
