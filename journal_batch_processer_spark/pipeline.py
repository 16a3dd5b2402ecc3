"""The three reference stages as composable DataFrame transforms.

``format`` → ``split`` → ``update`` (BatchUpdate.py:122-133), but with
lazy in-memory handoff instead of a CSV materialization per stage —
one Catalyst plan end-to-end unless the caller explicitly writes the
intermediate (``write_stage_csv``) to mimic stage artifacts.

Shuffle budget for the whole pipeline (SURVEY.md §3): one range
partition by MMS ID in split, plus the enrich join in update.
Everything else is narrow. That one shuffle serves both consumers of
the reference's sort-then-adjacent-scan: each title lands whole in one
partition, which the per-title year imputation needs, and partitions
hold ascending title ranges, so a partition-local sort yields the
global natural order. A separate hash partition for the imputation
under a range partition for the sort ran the Python imputation twice
per pass, because a range exchange runs its input once to sample its
bounds and again to shuffle.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from journal_batch_processer_spark.functions.guards import apply_numeric_guard
from journal_batch_processer_spark.operators.desc_extract import desc_extract
from journal_batch_processer_spark.functions.text import month_normalize
from journal_batch_processer_spark.operators.flags import (
    fill_blank_defaults,
    flag_i_barcode,
    flag_missing_barcode,
    overwrite_constants,
)
from journal_batch_processer_spark.operators.merge import field_merge
from journal_batch_processer_spark.operators.natural_sort import (
    PRE_VOL_COL,
    VOL_COL,
    natural_keys,
    with_sort_keys,
)
from journal_batch_processer_spark.operators.routing import Routed, error_route
from journal_batch_processer_spark.operators.year_impute import (
    year_impute_exact,
    year_impute_window,
)
from journal_batch_processer_spark.schema_policy import (
    DEFAULT_CONTRACT,
    Contract,
    contract_order,
    ensure_columns,
    ensure_extra,
)
from journal_batch_processer_spark.sinks.rest_push import simulate_push
from journal_batch_processer_spark.sources.rest import enrich_fetch


def format_stage(df: DataFrame, contract: Contract = DEFAULT_CONTRACT) -> DataFrame:
    """Project to exactly the contract columns (contract order) and
    guard numeric columns (BatchUpdate.py:144-175). Narrow, no shuffle."""
    df = ensure_columns(df, contract)
    cols = contract_order(df, contract)
    out = df.select([F.col(f"`{c}`") for c in cols])
    return apply_numeric_guard(out, contract.expand_dependents().numeric_cols)


def split_stage(
    df: DataFrame,
    contract: Contract = DEFAULT_CONTRACT,
    strict_reference_mode: bool = False,
    exact_year_impute: bool = True,
) -> DataFrame:
    """Defaults → range partition by MMS ID → regex extraction →
    barcode flags → year imputation → month normalization → natural
    order (BatchUpdate.py:189-423).

    The reference sorts the file, then scans adjacent rows of one title.
    Here the one shuffle is ``repartitionByRange("MMS ID")``, placed
    before the regex so that the range partitioner's bound-sampling
    pass re-reads only the input scan, and the regex runs in parallel
    after it. The imputation reuses that clustering with no exchange of
    its own, and ``sortWithinPartitions`` on ``natural_keys`` gives the
    same global order as ``natural_sort``'s ``orderBy``."""
    contract = contract.expand_dependents()
    df = ensure_columns(df, contract)
    df = ensure_extra(df, "Pattern", "Notes")
    df = fill_blank_defaults(df, contract, strict_reference_mode)
    df = overwrite_constants(df, contract, strict_reference_mode)
    df = df.repartitionByRange("MMS ID")

    has_desc = "Description" in df.columns
    if has_desc:
        df = with_sort_keys(desc_extract(df))
    keys = natural_keys(df.columns)

    df = flag_missing_barcode(df)
    df = flag_i_barcode(df)

    if has_desc:
        impute = year_impute_exact if exact_year_impute else year_impute_window
        df = impute(df, order_cols=keys[1:])
        df = df.withColumn(
            "Chron J", month_normalize(F.col("Chron J"), strict_reference_mode)
        )

    # the sort keys are dropped after the sort (a no-op without Description)
    return df.sortWithinPartitions(*keys).drop(PRE_VOL_COL, VOL_COL)


class UpdateResult(NamedTuple):
    success: DataFrame
    error: DataFrame


def update_stage(
    df: DataFrame,
    items_remote: DataFrame,
    contract: Contract = DEFAULT_CONTRACT,
) -> UpdateResult:
    """Pre-route errored rows → enrich join → field merge → simulated
    push → success/error routing (BatchUpdate.py:425-568).

    The lookup-join path; swap ``enrich_fetch`` for the mapInPandas
    HTTP source in production (sources.rest).
    """
    contract = contract.expand_dependents()
    df = ensure_columns(df, contract)
    df = ensure_extra(df, "Notes")

    pre = error_route(df)
    enriched = enrich_fetch(pre.good, items_remote)
    fetch_ok = enriched.filter(~F.col("Notes").contains("Err"))
    fetch_err = enriched.filter(F.col("Notes").contains("Err"))

    merged = field_merge(fetch_ok) if "item" in fetch_ok.columns else fetch_ok
    pushed = simulate_push(merged)

    target_cols = pushed.error.columns

    def conform(d: DataFrame) -> DataFrame:
        # case-INsensitive membership: Spark resolves `Barcode` ==
        # `barcode`, so adding a lit(None) twin would shadow the real one.
        have = {c.lower() for c in d.columns}
        missing = [c for c in target_cols if c.lower() not in have]
        if missing:
            d = d.withColumns({c: F.lit(None) for c in missing})
        return d.select(target_cols)

    errors = (
        conform(pre.error).unionByName(conform(fetch_err)).unionByName(pushed.error)
    )
    return UpdateResult(success=pushed.good, error=errors)
