"""split_stage runs on one shuffle: a range partition by MMS ID.

The per-title year imputation reuses that clustering (no hash exchange
of its own) and a partition-local sort on ``natural_keys`` yields the
global natural order. The row values are pinned by the goldens in
test_golden_pipeline.py; these tests pin the plan shape, the order and
the degenerate inputs.
"""

from __future__ import annotations

import re
from collections import Counter
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from journal_batch_processer_spark.operators.natural_sort import natural_sort
from journal_batch_processer_spark.pipeline import format_stage, split_stage
from journal_batch_processer_spark.sources.csv_source import read_items_csv


@pytest.fixture(scope="module")
def formatted(spark, fixture_csv):
    raw = read_items_csv(spark, fixture_csv, strict_reference_mode=True)
    return format_stage(raw)


@pytest.fixture(scope="module")
def full_rows(formatted):
    return split_stage(formatted).collect()


@contextmanager
def _no_coalesce(spark):
    """Keep every range partition of a fixture-sized input separate."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _final_plan(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize("exact", [True, False])
def test_split_stage_has_one_range_exchange(formatted, exact):
    plan = _final_plan(split_stage(formatted, exact_year_impute=exact))
    exchanges = re.findall(r"Exchange (\w+)\((.*)", plan)
    assert len(exchanges) == 1, plan
    kind, args = exchanges[0]
    assert kind == "rangepartitioning" and args.startswith("MMS ID#"), plan
    assert "hashpartitioning" not in plan
    assert plan.count("FlatMapGroupsInPandas") == (1 if exact else 0), plan


def test_split_stage_rows_in_natural_order(spark, formatted, full_rows):
    with _no_coalesce(spark):
        out = split_stage(formatted)
        sizes = out.rdd.glom().map(len).collect()
        rows = out.collect()
    assert sum(1 for n in sizes if n) >= 2, sizes
    assert len({r["MMS ID"] for r in rows}) >= 3
    assert rows == full_rows
    # natural_sort is the global orderBy on the same key list
    assert rows == natural_sort(out).collect()


def test_split_stage_zero_rows(spark, fixture_csv, formatted, tmp_path):
    # a header-only file: the range partitioner samples no rows
    path = tmp_path / "empty.csv"
    with open(fixture_csv) as fh:
        path.write_text(fh.readline())
    raw = read_items_csv(spark, str(path), strict_reference_mode=True)
    out = split_stage(format_stage(raw))
    assert out.collect() == []
    assert out.schema == split_stage(formatted).schema


def _title_input(formatted, full_rows, n_rows):
    """The input rows of one title with ``n_rows`` items, and that
    title's rows of the full output. Imputation is per title, so the
    title alone must come out as it does among all titles."""
    counts = Counter(r["MMS ID"] for r in full_rows)
    title = next(t for t, n in counts.items() if n == n_rows)
    expected = [r for r in full_rows if r["MMS ID"] == title]
    return formatted.filter(F.col("MMS ID") == title), expected


def test_split_stage_one_row(formatted, full_rows):
    df, expected = _title_input(formatted, full_rows, 1)
    assert split_stage(df).collect() == expected


def test_split_stage_hot_key(spark, formatted, full_rows):
    # one title holds every input row: it lands in a single partition
    n_max = max(Counter(r["MMS ID"] for r in full_rows).values())
    df, expected = _title_input(formatted, full_rows, n_max)
    with _no_coalesce(spark):
        out = split_stage(df)
        sizes = out.rdd.glom().map(len).collect()
        rows = out.collect()
    assert [n for n in sizes if n] == [n_max], sizes
    assert rows == expected
