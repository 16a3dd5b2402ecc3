"""The one small-input gate (session.small_input)."""

from __future__ import annotations

import pytest

from journal_batch_processer_spark.session import small_input

BOUND = 100_000


def test_small_input_at_threshold(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_FORCE_DISTRIBUTED", raising=False)
    assert small_input(BOUND, BOUND) is True
    assert small_input(0, BOUND) is True
    assert small_input(BOUND + 1, BOUND) is False
    assert small_input(None, BOUND) is False


@pytest.mark.parametrize("value", ["", "0", "true", "yes"])
def test_small_input_other_env_values_do_not_force(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_FORCE_DISTRIBUTED", value)
    assert small_input(BOUND, BOUND) is True


def test_small_input_env_forces_distributed(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_FORCE_DISTRIBUTED", "1")
    for n in (None, 0, 1, BOUND, BOUND + 1):
        assert small_input(n, BOUND) is False

