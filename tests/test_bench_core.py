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
