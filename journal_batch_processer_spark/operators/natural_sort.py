"""Natural (numeric-aware) ordering of serial items.

The reference sorts rows by ``(MMS ID, series#, volume#, Description)``
with series/volume numbers regex-extracted from the Description so that
``v10`` sorts after ``v2`` (BatchUpdate.py:271-298). Without a
Description column it sorts by MMS ID alone (:295-297).

Spark-first shape: compute the two numeric keys as expressions once
(they are reused by the year-imputation grouping), then sort on the key
list that ``natural_keys`` names — the one definition of the order.
``natural_sort`` sorts globally with ``orderBy`` (one range-partitioned
shuffle); ``pipeline.split_stage`` reaches the same order with a range
partition by MMS ID alone plus a partition-local sort on the same keys.
MMS ID compares as a STRING, faithfully.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# BatchUpdate.py:272 — optional "ser.N" prefix, then a v/vol marker, then digits.
VOL_PATTERN = r"^(?:[sS][eE][rR]\.?\s*)?(\d+)?\s*(?:[vV][oO]?[lL]?\.?\s*)(\d+)"

PRE_VOL_COL = "__pre_vol"
VOL_COL = "__vol"


def _int_group(desc: Column, idx: int) -> Column:
    # regexp_extract yields "" on miss / non-participating group → 0
    # (reference: match==None or group==None → 0, BatchUpdate.py:283-292).
    return F.coalesce(
        F.nullif(F.regexp_extract(desc, VOL_PATTERN, idx), F.lit("")).cast("int"),
        F.lit(0),
    )


def with_sort_keys(df: DataFrame, desc_col: str = "Description") -> DataFrame:
    """Materialize the numeric sort keys as columns (computed once,
    shared by the natural-order sort and the per-group imputation
    ordering)."""
    desc = F.coalesce(F.col(desc_col), F.lit(""))
    return df.withColumns(
        {PRE_VOL_COL: _int_group(desc, 1), VOL_COL: _int_group(desc, 2)}
    )


def natural_keys(
    columns: list[str], mms_col: str = "MMS ID", desc_col: str = "Description"
) -> list[str]:
    """The natural-order key columns: ``(MMS ID, series#, volume#,
    Description)`` when ``columns`` holds a Description (the numeric
    keys must be materialized by ``with_sort_keys``), else MMS ID
    alone. The title comes first, so the remaining keys are the order
    within one title."""
    if desc_col in columns:
        return [mms_col, PRE_VOL_COL, VOL_COL, desc_col]
    return [mms_col]


def natural_sort(
    df: DataFrame,
    mms_col: str = "MMS ID",
    desc_col: str = "Description",
    extra_tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Global natural order. Adds the key columns if missing, sorts,
    drops them. ``extra_tiebreakers`` makes the order total when
    Descriptions collide (the reference relies on stable sort + file
    order; a distributed engine needs an explicit key)."""
    added = desc_col in df.columns and PRE_VOL_COL not in df.columns
    if added:
        df = with_sort_keys(df, desc_col)
    keys = natural_keys(df.columns, mms_col, desc_col) + (extra_tiebreakers or [])
    out = df.orderBy(*[F.col(c) for c in keys])
    if added:
        out = out.drop(PRE_VOL_COL, VOL_COL)
    return out
