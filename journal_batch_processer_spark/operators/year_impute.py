"""Chron I "smart guess": two-digit-year imputation within a serial run.

Reference semantics (BatchUpdate.py:327-413): rows are globally sorted;
for each row whose ``Chron I`` starts with a <4-digit year, scan
backward and forward *within the same MMS ID* for the nearest rows
whose ``Chron I`` starts with an exactly-4-digit year (anchors), then:

- both anchors: prepend ``prev[:4-len(y)]`` if that reading lands in
  ``[prev, next]``, else ``next[:4-len(y)]`` if that lands in range,
  else pick the century among ``{prev_century-1, prev_century,
  prev_century+1}`` whose reading is closest to the anchor average
  (first minimum wins). The chosen prefix is PREPENDED to the whole
  field (a range like ``98-99`` becomes ``1998-99``).
- only a next anchor: modular extrapolation backward; the field is
  REPLACED by the bare 4-digit year (any range remainder is dropped).
- only a prev anchor: mirrored extrapolation forward; same replacement.
- neither: append ``Err: Problem interpreting Chron I`` to Notes.

Crucially the pass is sequential and self-referencing: a repaired row
becomes a 4-digit anchor for later rows in the same group (the
backward scan re-reads repaired state). That propagation makes the
exact computation a per-group sequential algorithm, not a window
function — in Spark: ``groupBy(MMS ID).applyInPandas`` (groups are the
items of one serial title — tens of rows — so the Arrow batch per
group is tiny; any clustering by MMS ID, such as ``split_stage``'s
range partition, serves as the grouping shuffle).

A pure-window fast path (`year_impute_window`) covers the common case
where no 2-digit year needs a *repaired* row as its anchor; it stays
entirely in whole-stage codegen. It is opt-in: ``split_stage`` and the
CLI default to the exact path. Both paths stay because neither wins
everywhere:

- at sf0.1 the window path is faster: best 0.63–0.87 s vs 1.42–1.72 s
  for the exact path (``tools/isolate_bench.py``, local[4], two
  interleaved blocks, one process each);
- at 100× (15M rows) it is slower: 31.5 s vs 20.9 s
  (SWEEP_r13_rows.json);
- it differs from the exact path on chained 2-digit years that
  straddle a century boundary (SURVEY.md §2e;
  tests/test_golden_pipeline.py
  ``test_window_fast_path_agrees_on_unchained_groups``).
"""

from __future__ import annotations

import re
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

YEAR_ERR = "Err: Problem interpreting Chron I"
_START_YEAR = re.compile(r"^(\d+)(.*)")


def _leading_digits(value: str) -> str | None:
    m = _START_YEAR.match(value if value is not None else "")
    return m.group(1) if m else None


def _impute_group(pdf: pd.DataFrame, chron_col: str, notes_col: str) -> pd.DataFrame:
    """Sequential in-order pass over one MMS ID group (pre-sorted).

    O(n), not O(n·k): the reference's backward scan over repaired
    state is equivalent to tracking the most recent 4-digit value seen
    so far (every repair produces a 4-digit value, so the nearest
    current-state anchor IS the running last one); the forward scan
    sees only not-yet-repaired rows, so next-anchors are precomputable
    from the original values in one reverse sweep.
    """
    chron = pdf[chron_col].fillna("").tolist()
    notes = pdf[notes_col].fillna("").tolist()
    n = len(chron)

    # leading digit runs of the ORIGINAL values, vectorized
    lead = pdf[chron_col].fillna("").str.extract(r"^(\d+)", expand=False)
    orig_digits = lead.fillna("").tolist()
    # next original 4-digit anchor at or after each position
    next_anchor: list[str | None] = [None] * n
    nxt = None
    for i in range(n - 1, -1, -1):
        next_anchor[i] = nxt
        if len(orig_digits[i]) == 4:
            nxt = orig_digits[i]

    prev_anchor: str | None = None  # runs over CURRENT (repaired) state
    for i in range(n):
        year = orig_digits[i]
        if not year:
            continue
        if len(year) >= 4:
            if len(year) == 4:
                prev_anchor = year
            continue
        prev_year, next_year = prev_anchor, next_anchor[i]

        if prev_year is not None and next_year is not None:
            digits = 4 - len(year)
            if int(prev_year) <= int(prev_year[:digits] + year) <= int(next_year):
                chron[i] = prev_year[:digits] + chron[i]
            elif int(prev_year) <= int(next_year[:digits] + year) <= int(next_year):
                chron[i] = next_year[:digits] + chron[i]
            else:
                cents = [int(prev_year[:2]) - 1, int(prev_year[:2]), int(prev_year[:2]) + 1]
                avg = (int(prev_year) + int(next_year)) / 2
                diffs = [abs(avg - (c * 100 + int(year))) for c in cents]
                chron[i] = str(cents[diffs.index(min(diffs))]) + chron[i]
        elif next_year is not None:
            nd, cur = int(next_year[-2:]), int(year)
            if cur > nd:
                chron[i] = str(int(next_year) - nd - 100 + cur)
            else:
                chron[i] = str(int(next_year) - nd + cur)
        elif prev_year is not None:
            pdg, cur = int(prev_year[-2:]), int(year)
            if pdg > cur:
                chron[i] = str(int(prev_year) - pdg + 100 + cur)
            else:
                chron[i] = str(int(prev_year) - pdg + cur)
        else:
            notes[i] = notes[i] + ("" if notes[i] == "" else "; ") + YEAR_ERR

        # a repaired row becomes an anchor for later rows iff its new
        # leading digit run is exactly 4 (mirrors the reference's
        # backward re-scan of repaired state)
        d = _leading_digits(chron[i])
        if d is not None and len(d) == 4:
            prev_anchor = d

    out = pdf.copy()
    out[chron_col] = chron
    out[notes_col] = notes
    return out


def year_impute_exact(
    df: DataFrame,
    group_col: str = "MMS ID",
    order_cols: Iterable[str] = ("__pre_vol", "__vol", "Description"),
    chron_col: str = "Chron I",
    notes_col: str = "Notes",
) -> DataFrame:
    """Semantics-exact path: per-group sequential pass via Arrow
    (``groupBy(group_col).applyInPandas``). Any input clustering by
    ``group_col`` satisfies the grouping with no exchange of its own —
    ``split_stage`` feeds it a range partition by MMS ID; otherwise
    Spark adds a hash partition. ``order_cols`` must reproduce the
    natural-sort order within the group."""
    order_cols = [c for c in order_cols if c in df.columns]
    schema = df.schema

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if order_cols:
            pdf = pdf.sort_values(order_cols, kind="stable").reset_index(drop=True)
        return _impute_group(pdf, chron_col, notes_col)

    return df.groupBy(group_col).applyInPandas(fn, schema)


def year_impute_window(
    df: DataFrame,
    group_col: str = "MMS ID",
    order_cols: Iterable[str] = ("__pre_vol", "__vol", "Description"),
    chron_col: str = "Chron I",
    notes_col: str = "Notes",
) -> DataFrame:
    """Window fast path: anchors come from *original* values via
    ignore-nulls last/first over the group window; all century
    arithmetic is expression-level (whole-stage codegen, no Python).

    Equivalent to the exact path whenever no 2-digit year's nearest
    anchor is itself a repaired 2-digit row (and agrees even then
    unless the chain straddles a century in the avg-century branch).
    """
    present = [c for c in order_cols if c in df.columns]
    order = [F.col(c) for c in present]
    w_prev = (
        Window.partitionBy(group_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # The forward anchor must NOT use a (1, unboundedFollowing) frame:
    # Spark's UnboundedFollowingWindowFunctionFrame re-scans from the
    # current row to the partition end for EVERY row — O(n²) per
    # group. At 150 groups × 100k rows (the 100× corpus) that frame
    # never finishes while the exact applyInPandas path takes 27 s.
    # Reversing the sort turns it into a running (unboundedPreceding,
    # -1) frame, which Spark evaluates incrementally in O(n): in
    # descending order, "rows before the current one" are exactly the
    # rows AFTER it in ascending order, and last(ignorenulls) over
    # that running frame is the nearest following anchor.
    w_next_rev = (
        Window.partitionBy(group_col)
        .orderBy(*[F.col(c).desc() for c in present])
        .rowsBetween(Window.unboundedPreceding, -1)
    )

    chron = F.coalesce(F.col(chron_col), F.lit(""))
    lead_digits = F.regexp_extract(chron, r"^(\d+)", 1)
    anchor = F.when(F.length(lead_digits) == 4, lead_digits)  # else NULL
    prev_y = F.last(anchor, ignorenulls=True).over(w_prev)
    next_y = F.last(anchor, ignorenulls=True).over(w_next_rev)

    needs = (lead_digits != "") & (F.length(lead_digits) < 4)
    year = lead_digits
    year_i = year.cast("int")
    digits = F.lit(4) - F.length(year)

    prev_i = prev_y.cast("int")
    next_i = next_y.cast("int")

    # both anchors: try prev-prefix, then next-prefix, then avg-century
    prev_pref = prev_y.substr(F.lit(1), digits)
    next_pref = next_y.substr(F.lit(1), digits)
    cand_prev = F.concat(prev_pref, year).cast("int")
    cand_next = F.concat(next_pref, year).cast("int")

    p_cent = F.substring(prev_y, 1, 2).cast("int")
    avg = (prev_i + next_i) / F.lit(2.0)
    c0, c1, c2 = p_cent - 1, p_cent, p_cent + 1
    d0 = F.abs(avg - (c0 * 100 + year_i))
    d1 = F.abs(avg - (c1 * 100 + year_i))
    d2 = F.abs(avg - (c2 * 100 + year_i))
    best_cent = (
        F.when((d0 <= d1) & (d0 <= d2), c0).when(d1 <= d2, c1).otherwise(c2)
    )

    both = (
        F.when((prev_i <= cand_prev) & (cand_prev <= next_i), F.concat(prev_pref, chron))
        .when((prev_i <= cand_next) & (cand_next <= next_i), F.concat(next_pref, chron))
        .otherwise(F.concat(best_cent.cast("string"), chron))
    )

    # single-anchor extrapolation (field replaced by the bare year)
    nd = F.substring(next_y, 3, 2).cast("int")
    only_next = F.when(
        year_i > nd, (next_i - nd - 100 + year_i)
    ).otherwise(next_i - nd + year_i)
    pdg = F.substring(prev_y, 3, 2).cast("int")
    only_prev = F.when(
        pdg > year_i, (prev_i - pdg + 100 + year_i)
    ).otherwise(prev_i - pdg + year_i)

    new_chron = F.when(
        needs,
        F.when(prev_y.isNotNull() & next_y.isNotNull(), both)
        .when(next_y.isNotNull(), only_next.cast("string"))
        .when(prev_y.isNotNull(), only_prev.cast("string"))
        .otherwise(chron),
    ).otherwise(chron)

    notes = F.coalesce(F.col(notes_col), F.lit(""))
    new_notes = F.when(
        needs & prev_y.isNull() & next_y.isNull(),
        F.concat(notes, F.when(notes == "", F.lit("")).otherwise(F.lit("; ")), F.lit(YEAR_ERR)),
    ).otherwise(notes)

    return df.withColumns({chron_col: new_chron, notes_col: new_notes})
