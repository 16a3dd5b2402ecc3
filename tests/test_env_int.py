"""SPARK_GRAFT_* integer env vars fail early on a bad value, naming
the variable and the value, and fall back to the default when unset."""

from __future__ import annotations

import pytest

from journal_batch_processer_spark.session import env_int, get_spark

VAR = "SPARK_GRAFT_TEST_INT"


@pytest.mark.parametrize("raw", ["0", "-3", "abc"])
def test_env_int_rejects_bad_values(monkeypatch, raw):
    monkeypatch.setenv(VAR, raw)
    with pytest.raises(ValueError, match=rf"{VAR}.*'{raw}'"):
        env_int(VAR, 5)


def test_env_int_unset_and_valid(monkeypatch):
    monkeypatch.delenv(VAR, raising=False)
    assert env_int(VAR) is None
    assert env_int(VAR, 180) == 180
    monkeypatch.setenv(VAR, "")
    assert env_int(VAR, 180) == 180
    monkeypatch.setenv(VAR, "12")
    assert env_int(VAR, 180) == 12


@pytest.mark.parametrize("raw", ["0", "-3", "abc"])
def test_call_sites_fail_early(monkeypatch, raw):
    from journal_batch_processer_spark.queries.streaming_q import (
        _await_drain,
        _stateful_shuffle_partitions,
    )
    from journal_batch_processer_spark.streaming.jobs import run_available_now

    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark("env-int-probe")

    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_STATE_PARTS"):
        _stateful_shuffle_partitions(None, "unused", python_stateful=False)

    monkeypatch.setenv("SPARK_GRAFT_STREAM_DRAIN_TIMEOUT", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_DRAIN_TIMEOUT"):
        _await_drain(None, "probe")
    with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_DRAIN_TIMEOUT"):
        run_available_now(None, "probe")
