"""Round-14 optimization pins: scale-adaptive streaming state
partitions (streaming_q._stateful_shuffle_partitions)."""

from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="module")
def spark():
    from journal_batch_processer_spark.session import get_spark

    return get_spark("r14-tests", master="local[4]", shuffle_partitions=4)


def test_stateful_partitions_formulas(spark, tmp_path):
    from journal_batch_processer_spark.queries.streaming_q import (
        _PY_STATE_TASK_BYTES,
        _STATE_ADVISORY_BYTES,
        _stateful_shuffle_partitions,
    )

    f = tmp_path / "x.parquet"
    f.write_bytes(b"\0" * (2 * 1024 * 1024))  # 2 MB input
    # JVM stateful agg: AQE-advisory sizing, floor 1
    assert _stateful_shuffle_partitions(spark, str(f), False) == 1
    # python-stateful: CPU-bound floor — bytes/128KB capped at cores
    cores = spark.sparkContext.defaultParallelism
    want = max(1, min(cores, -(-f.stat().st_size // _PY_STATE_TASK_BYTES)))
    assert _stateful_shuffle_partitions(spark, str(f), True) == want
    # large input: advisory sizing scales with bytes, cap holds for python
    g = tmp_path / "big.parquet"
    g.write_bytes(b"\0")
    os.truncate(g, 5 * _STATE_ADVISORY_BYTES)
    assert _stateful_shuffle_partitions(spark, str(g), False) == 5
    assert _stateful_shuffle_partitions(spark, str(g), True) == cores


def test_stateful_partitions_env_override(spark, tmp_path, monkeypatch):
    from journal_batch_processer_spark.queries.streaming_q import (
        _stateful_shuffle_partitions,
    )

    f = tmp_path / "x.parquet"
    f.write_bytes(b"\0" * 1024)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", "7")
    assert _stateful_shuffle_partitions(spark, str(f), False) == 7
    assert _stateful_shuffle_partitions(spark, str(f), True) == 7


def test_env_forces_distributed_branch_same_rows(spark, monkeypatch):
    """SPARK_GRAFT_FORCE_DISTRIBUTED=1 must route the gated keys through
    the distributed branch (plan is no longer a driver-built local
    table) with an identical row set."""
    from journal_batch_processer_spark.queries.trainprep import (
        q_graph_labelprop,
    )

    sf = "/root/testdata/sf0.001"
    monkeypatch.delenv("SPARK_GRAFT_FORCE_DISTRIBUTED", raising=False)
    gated = q_graph_labelprop(spark, sf)
    assert "LocalTableScan" in gated._jdf.queryExecution().executedPlan().toString()
    want = sorted(tuple(r) for r in gated.collect())
    monkeypatch.setenv("SPARK_GRAFT_FORCE_DISTRIBUTED", "1")
    forced = q_graph_labelprop(spark, sf)
    assert (
        "LocalTableScan"
        not in forced._jdf.queryExecution().executedPlan().toString()
    )
    assert sorted(tuple(r) for r in forced.collect()) == want


def test_triangle_driver_gate_matches_distributed(spark, monkeypatch):
    """triangle_counts' driver-side small-graph path must be
    bit-identical to the distributed joins — including parallel edges
    (closing-edge multiplicity) and degree ties — and past its wedge
    bound the driver path gives up and the joins answer."""
    from journal_batch_processer_spark.operators import graph
    from journal_batch_processer_spark.operators.graph import (
        triangle_counts,
    )

    edges = [
        (1, 2), (2, 3), (1, 3),          # triangle
        (3, 4), (4, 5), (3, 5),          # second triangle sharing node 3
        (1, 2),                          # parallel edge inside a triangle
        (5, 6), (6, 7),                  # path, no triangle
        (8, 9),                          # isolated edge
    ]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    monkeypatch.delenv("SPARK_GRAFT_FORCE_DISTRIBUTED", raising=False)
    gated = sorted(tuple(r) for r in triangle_counts(df).collect())
    monkeypatch.setenv("SPARK_GRAFT_FORCE_DISTRIBUTED", "1")
    dist = sorted(tuple(r) for r in triangle_counts(df).collect())
    assert gated == dist
    assert gated  # triangles exist

    monkeypatch.delenv("SPARK_GRAFT_FORCE_DISTRIBUTED")
    monkeypatch.setattr(graph, "TRIANGLE_DRIVER_MAX_WEDGES", 0)
    assert graph.triangle_counts_small(edges) is None
    over = triangle_counts(df)
    plan = over._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan  # the distributed joins ran
    assert sorted(tuple(r) for r in over.collect()) == dist


def test_kmeans_n_rows_hint_matches_count_path(spark):
    """The footer-count hint must be a pure shortcut: identical output
    to the count()-gated path for the same input (both below and above
    the hint value's effect on the gate is the same branch here)."""
    from journal_batch_processer_spark.operators.similarity import (
        kmeans_integer_distributed,
    )

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = embs.count()
    base = sorted(
        tuple(r)
        for r in kmeans_integer_distributed(embs, k=4, n_iters=2).collect()
    )
    hinted = sorted(
        tuple(r)
        for r in kmeans_integer_distributed(
            embs, k=4, n_iters=2, n_rows=n
        ).collect()
    )
    assert hinted == base


def test_pq_refine_gate_branches_match(spark, monkeypatch):
    """pq_topk's small (full-normalize) and large (shortlist-first)
    refine branches must return identical rows."""
    from journal_batch_processer_spark.operators.similarity import (
        pq_topk,
        train_pq_codebooks,
    )

    sf = "/root/testdata/sf0.001"
    embs = spark.read.parquet(f"{sf}/embeddings.parquet")
    books = train_pq_codebooks(f"{sf}/embeddings.parquet", m=16, ksub=16)
    from pyspark.sql import functions as F

    q = embs.filter(F.col("vec_id") < 5)
    monkeypatch.delenv("SPARK_GRAFT_FORCE_DISTRIBUTED", raising=False)
    small = sorted(
        tuple(r)
        for r in pq_topk(
            embs, q, books, dim=64, k=5, refine=20, n_rows=embs.count()
        ).collect()
    )
    large = sorted(
        tuple(r)
        for r in pq_topk(
            embs, q, books, dim=64, k=5, refine=20, n_rows=10**9
        ).collect()
    )
    assert small == large
    assert small


def test_drain_restores_shuffle_partitions(spark, tmp_path):
    """The scoped override must not leak into the session after the
    drain (batch queries planned later would inherit it)."""
    from journal_batch_processer_spark.queries.streaming_q import (
        q_stream_tumble,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    n = q_stream_tumble(spark, "/root/testdata/sf0.001").count()
    assert n > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
