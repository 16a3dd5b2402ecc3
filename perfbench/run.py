"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of this repository. Generates the
workload's inputs from ``--seed`` into ``.perfbench_work/`` (outside
every timed region), starts one worker process that runs the passes
(``perfbench/worker.py``), and prints, as the last line of standard
output, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones
(``setup_s``, ``records_per_s``); with ``--trace 1`` the per-layer
table of a separate traced run. A fuller artifact (input and output
digests, every pass's wall and steal, drift) is written to
``.perfbench_work/artifacts/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "journal_batch_processer_spark"
TIME_LIMIT_S = 170          # the whole invocation, generation included
WARMUP_PASSES = 1
MIN_TIMED_PASSES = 3


def fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def generate(workload: str, seed: int, in_dir: str) -> dict:
    from perfbench import gen
    from perfbench.workloads import CORPUS_SHAPES, ITEMS_SHAPES

    os.makedirs(in_dir, exist_ok=True)
    if workload in ITEMS_SHAPES:
        return gen.write_items(in_dir, ITEMS_SHAPES[workload], seed)
    return gen.write_corpus(in_dir, CORPUS_SHAPES[workload], seed)


def run_worker(cfg: dict, cfg_path: str, deadline: float) -> tuple[dict, float]:
    """Start the worker, wait for it, return (result, spawn monotonic)."""
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    env = dict(os.environ)
    env.update({
        "SPARK_LOCAL_DIRS": cfg["spark_local"],
        "TMPDIR": cfg["tmp"],
        "SPARK_DRIVER_MEMORY": env.get("SPARK_DRIVER_MEMORY", "2g"),
        "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"]
                              if env.get("PYTHONPATH") else ""),
        # no hsperfdata files under /tmp; temp files stay in the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={cfg['tmp']}",
    })
    spawn = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.worker", cfg_path],
        cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        stop_group(proc)
    if code != 0:
        raise RuntimeError(f"worker exited with {code}")
    with open(cfg["result"]) as f:
        return json.load(f), spawn


def stop_group(proc: subprocess.Popen, grace_s: float = 10.0) -> None:
    """Kill the worker's process group (the worker, its JVM and the JVM's
    Python workers) and wait until none of them is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    end = time.monotonic() + grace_s
    while time.monotonic() < end:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def drift(walls: list[float]) -> float:
    """Median of the second half of the timed passes over the first."""
    h = len(walls) // 2
    if h == 0:
        return 1.0
    return statistics.median(walls[-h:]) / statistics.median(walls[:h])


def main(argv: list[str] | None = None) -> int:
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        return fail(f"package {PACKAGE} not found under {ROOT}")
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; one of {WORKLOADS}")

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    art_dir = os.path.join(work, "artifacts")
    for d in ("in", "out", "spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(art_dir, exist_ok=True)
    try:
        t = time.perf_counter()
        inputs = generate(args.workload, args.seed, os.path.join(run_dir, "in"))
        gen_s = time.perf_counter() - t
        cfg = {
            "workload": args.workload,
            "mode": "trace" if args.trace else "run",
            "inputs": inputs["paths"],
            "truth": inputs["truth"],
            "out_dir": os.path.join(run_dir, "out"),
            "spark_local": os.path.join(run_dir, "spark-local"),
            "tmp": os.path.join(run_dir, "tmp"),
            "event_log": os.path.join(run_dir, "eventlog"),
            "result": os.path.join(run_dir, "result.json"),
            "cores": len(os.sched_getaffinity(0)),
            "seconds": args.seconds,
            "warmup": WARMUP_PASSES,
            "min_timed": MIN_TIMED_PASSES,
        }
        try:
            res, spawn = run_worker(cfg, os.path.join(run_dir, "config.json"),
                                    started + TIME_LIMIT_S)
        except (RuntimeError, OSError, ValueError) as exc:
            return fail(str(exc), 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    passes = res["passes"]
    failed = sum(1 for p in passes if "error" in p)
    for p in passes:
        if "error" in p:
            print(f"perfbench: {p['kind']} pass failed:\n{p['error']}", file=sys.stderr)
    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "mode": cfg["mode"],
        "input_digest": inputs["digest"],
        "n_records": inputs["n_records"],
        "truth": inputs["truth"],
        "generate_s": gen_s,
        "session_s": res["session_s"],
        "output_digests": sorted({p["digest"] for p in passes if "digest" in p}),
        "passes": passes,
    }
    if len(artifact["output_digests"]) > 1:
        failed += 1
        print("perfbench: output digest differs between passes", file=sys.stderr)

    timed = [p for p in passes if p["kind"] == "timed" and "error" not in p]
    if args.trace:
        from perfbench.trace import metric_catalog

        layers = res["layers"]
        metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                   for name, unit, _ in metric_catalog()}
        artifact["groups_seen"] = res["groups_seen"]
    else:
        if not timed or res.get("cold_done_mono") is None:
            return fail("no successful timed pass", 1)
        walls = [p["wall_s"] for p in timed]
        metrics = {
            "setup_s": {"value": res["cold_done_mono"] - spawn, "unit": "s"},
            "records_per_s": {"value": inputs["n_records"] / statistics.median(walls),
                              "unit": "1/s"},
        }
        artifact["timed_pass_s"] = walls
        artifact["drift_second_half_over_first"] = drift(walls)
        artifact["steal_iowait_timed"] = [p["steal_iowait"] for p in timed]
    artifact["metrics"] = metrics
    art_path = os.path.join(
        art_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(art_path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"perfbench: artifact {os.path.relpath(art_path, ROOT)}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
