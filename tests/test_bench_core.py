"""The shared timing core (``bench.time_key``) used by bench.py,
tools/isolate_bench.py and tools/distributed_tripwire.py."""

from __future__ import annotations

import bench
from conftest import SF_DIR
from journal_batch_processer_spark import cache
from journal_batch_processer_spark.queries import REGISTRY


def test_time_key_estimator_rows_and_release(spark):
    key = "dedup_ngram"  # cheap at sf0.001 and pins its shingle table
    t = bench.time_key(spark, SF_DIR, key)
    assert 2 <= len(t.walls) <= bench.MAX_REPS
    assert t.best == min(t.walls)
    assert 0.0 <= t.steal_at_best <= 1.0
    assert cache._PINNED == []
    assert t.rows == REGISTRY[key].fn(spark, SF_DIR).count()
    cache.release_all()


def test_time_key_flags_cap_hit_while_improving(monkeypatch):
    from types import SimpleNamespace

    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(setJobDescription=lambda d: None)
    )
    df = SimpleNamespace(count=lambda: 1)
    monkeypatch.setitem(
        REGISTRY, "fake_key", SimpleNamespace(fn=lambda s, sf: df)
    )
    monkeypatch.setattr(bench, "_interval_frac", lambda a, b: 0.0)

    def timed(walls):
        clock = iter(t for w in walls for t in (0.0, w))
        monkeypatch.setattr(bench, "_sample", lambda: (next(clock), None))
        return bench.time_key(spark, SF_DIR, "fake_key")

    t = timed([0.5**i for i in range(bench.MAX_REPS)])  # halves every rep
    assert len(t.walls) == bench.MAX_REPS and t.capped
    t = timed([2.0, 2.0])  # converged at the minimum 2 reps
    assert t.walls == [2.0, 2.0] and not t.capped
