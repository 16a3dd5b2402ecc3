"""Shared file metadata: stat fingerprints, the bounded memo policy,
and footer row counts over files and directories."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from journal_batch_processer_spark import metadata
from tests.conftest import SF_DIR

EMB = os.path.join(SF_DIR, "embeddings.parquet")


def test_parquet_row_count_file_and_two_file_dir(tmp_path):
    t = pq.read_table(EMB)
    assert metadata.parquet_row_count(EMB) == t.num_rows  # 500 at sf0.001
    d = tmp_path / "emb"
    d.mkdir()
    pq.write_table(t.slice(0, 200), d / "part-0.parquet")
    pq.write_table(t.slice(200), d / "part-1.parquet")
    (d / "_SUCCESS").write_bytes(b"")
    assert metadata.parquet_row_count(str(d)) == t.num_rows


def _set_mtime_ns(path, ns):
    os.utime(path, ns=(ns, ns))


def test_same_size_rewrite_within_1ms_misses_relation_memo(spark, tmp_path):
    from journal_batch_processer_spark.operators.table_format import (
        _path_relation,
    )

    p = str(tmp_path / "a.parquet")
    t = pq.read_table(EMB).slice(0, 10)
    pq.write_table(t, p)
    base = 1_700_000_000 * 10**9 + 100_000  # 0.1 ms past a whole second
    _set_mtime_ns(p, base)
    ddl = "vec_id long"
    first = _path_relation(spark, ddl, [p])
    assert _path_relation(spark, ddl, [p]) is first  # unchanged file: hit
    size = os.path.getsize(p)
    pq.write_table(t, p)  # same bytes count, rewritten in place
    assert os.path.getsize(p) == size
    _set_mtime_ns(p, base + 500_000)  # same millisecond, later ns
    assert _path_relation(spark, ddl, [p]) is not first


def test_new_session_does_not_get_parent_relation(spark, tmp_path):
    from journal_batch_processer_spark.operators.table_format import (
        _path_relation,
    )

    p = str(tmp_path / "b.parquet")
    pq.write_table(pq.read_table(EMB).slice(0, 10), p)
    parent = _path_relation(spark, "vec_id long", [p])
    clone = spark.newSession()
    child = _path_relation(clone, "vec_id long", [p])
    assert child is not parent
    assert child.sparkSession is clone
    assert _path_relation(clone, "vec_id long", [p]) is child
    assert child.count() == 10


def test_schema_memo_stays_within_cap(spark, tmp_path, monkeypatch):
    from journal_batch_processer_spark.streaming import jobs

    monkeypatch.setattr(metadata, "MEMO_MAX", 2)
    monkeypatch.setattr(jobs, "_SCHEMA_MEMO", {})
    t = pq.read_table(EMB).slice(0, 5)
    for i in range(5):
        d = tmp_path / f"events{i}"
        d.mkdir()
        pq.write_table(t, d / "part-0.parquet")
        schema = jobs._probe_events_schema(spark, str(d))
        assert "vec_id" in schema.fieldNames()
        assert 1 <= len(jobs._SCHEMA_MEMO) <= 2



def test_train_memo_stays_within_cap(tmp_path, monkeypatch):
    from journal_batch_processer_spark.operators import similarity

    monkeypatch.setattr(metadata, "MEMO_MAX", 2)
    monkeypatch.setattr(similarity, "_TRAINED", {})
    for i in range(5):
        p = tmp_path / f"emb{i}.parquet"
        p.write_bytes(b"x" * (i + 1))
        got = similarity._train_memo(str(p), "t", (), lambda: [i])
        got.append("caller mutation")  # a copy: the memo stays clean
        assert similarity._train_memo(str(p), "t", (), lambda: None) == [i]
        assert 1 <= len(similarity._TRAINED) <= 2
