"""Enumeration/chronology extraction from free-text ``Description``.

Re-expresses the reference's multi-pattern first-match-wins regex
dispatch (``_matchDescriptions``, BatchUpdate.py:684-760) as a
``when``-cascade of ``rlike`` + ``regexp_extract`` — pure JVM
expressions inside whole-stage codegen, no Python in the hot path.

Translation notes (SURVEY.md §7 hard part 2):
- Python named groups ``(?P<g>...)`` become numbered groups; Java
  ``regexp_extract`` is index-based. Group numbering below is the
  in-order position of each named group (all other groups in the
  source patterns are non-capturing).
- ``re.I`` becomes an inline ``(?i)`` prefix.
- Lookbehind ``(?<!\\d)`` and lookahead are supported by Java regex
  unchanged.
- First-match-wins ordering is preserved because ``when`` evaluates
  its branches in order.

Assignment semantics on a match (BatchUpdate.py:719-746): Enum A is
always overwritten with enumAType+enumANum; Enum B with the stripped
enumB group; Chron I/J are overwritten only when their groups
participated in the match. For StdMatch the chron block is one
optional group whose participation is equivalent to a non-empty
chronI capture (chronI is mandatory inside the block), which is how
we detect it expression-side. Captured values are assigned RAW (no
trimming beyond the reference's own ``.strip()`` on enumB) — e.g.
StdMatch's chronJ keeps its trailing space, faithfully.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The month/season token alternation shared by all three patterns
# (BatchUpdate.py:696-700).
_MONTH = (
    r"JAN?[A-Z]*|FE[A-Z]*|MA?R[CH]*|AP[RIL]*|MA?Y|JU?[NE]E?|JU?[LY]Y?"
    r"|AU?G[UST]*|SE[PTEMBR]*|O[A-Z]*|NO?V[A-Z]*|D[A-Z]*"
    r"|SP[RING]*|SU[MER]*|AUT[UMN]*|FA[L]*|W[A-Z]*"
)

_ENUM_A_TYPE = r"((?:SER\.?\s*\d+\s*)?VO?L?\s*[\.:]?\s?)"          # group 1
_ENUM_A_NUM = r"(\d+[-/]?\d*)"                                      # group 2
_ENUM_B = r"((?:(?:\s+NO?S?|\s+P[PTG]?)\s*\.?\s*\d+[-/]?\d*)*)"     # group 3
_PREFIX = r"^\s*" + _ENUM_A_TYPE + r"\s*" + _ENUM_A_NUM + r"\s*" + _ENUM_B + r"\s*"

# StdMatch: vol → issues → optional "(months year)" (BatchUpdate.py:696).
# groups: 1 enumAType, 2 enumANum, 3 enumB, 4 chronJ, 5 chronI
P_STD = (
    "(?i)" + _PREFIX
    + r"(?:\(?\s*((?:(?:" + _MONTH + r")\.?\s*[-/]?\s*){0,2})\s*"
    + r"((?<!\d)\d{2,4}(?:[-/]\d{1,4})?)\s*\)?)?[ \t]*$"
)

# YearBeforeMonth: "(1998 Oct)" (BatchUpdate.py:698).
# groups: 1 enumAType, 2 enumANum, 3 enumB, 4 chronI, 5 chronJ
P_YBM = (
    "(?i)" + _PREFIX
    + r"\(?\s*((?<!\d)\d{4}(?:[-/]\d{1,4})?)\s*"
    + r"((?:(?:" + _MONTH + r")\.?\s*[-/]?\s*){1,2})\s*\)?[ \t]*$"
)

# SplitYears: "(Nov 1998 - Feb 1999)" (BatchUpdate.py:700).
# groups: 1..3 as above, 4 chronJpt1, 5 chronIpt1, 6 chronJpt2, 7 chronIpt2
P_SPLIT = (
    "(?i)" + _PREFIX
    + r"\(?\s*(" + _MONTH + r")\s*((?<!\d)\d{2,4})\s*[-/]\s*"
    + r"(" + _MONTH + r")\s*((?<!\d)\d{2,4})\s*\)?[ \t]*$"
)

# Group-bundle markers: one regex execution per pattern per row.
# ``regexp_extract`` re-runs the whole (backtracking) regex for every
# group index, so extracting 5 groups costs 5 matches; an anchored
# ``regexp_replace`` whose replacement emits ALL groups joined on a
# control char costs one. The marker prefix distinguishes "matched"
# (replaced) from "unmatched" (string returned untouched) — the
# patterns all require a leading volume digit run, so they can never
# produce an empty match, and item descriptions never contain control
# chars. Non-participating optional groups substitute as "" exactly
# like ``regexp_extract``'s behavior.
_SEP = "\x01"
_MARK = "\x02"


def _group_bundle(desc: Column, pat: str, n_groups: int) -> Column:
    repl = _MARK + _SEP.join(f"${i}" for i in range(1, n_groups + 1))
    return F.regexp_replace(desc, pat, repl)


def _bundle_matched(bundle: Column) -> Column:
    return bundle.startswith(_MARK)


def _bundle_group(bundle: Column, idx: int) -> Column:
    # substring(2) strips the marker; split on the literal control char.
    # try_element_at: an UNMATCHED bundle splits to a short array, and
    # ANSI mode would error if codegen hoists the access above its
    # when()-guard — NULL is safe (the guard discards it).
    return F.try_element_at(F.split(F.substring(bundle, 2, 1 << 30), _SEP), F.lit(idx))


def desc_extract(
    df: DataFrame,
    desc_col: str = "Description",
    enum_a: str = "Enum A",
    enum_b: str = "Enum B",
    chron_i: str = "Chron I",
    chron_j: str = "Chron J",
    pattern: str = "Pattern",
) -> DataFrame:
    """Apply the three-pattern dispatch; fills enum/chron/pattern columns.

    Existing enum/chron values are preserved on no-match and (for the
    optional StdMatch chron block) on partial matches — exactly the
    reference's overwrite-only-when-captured behavior.
    """
    desc = F.coalesce(F.col(desc_col), F.lit(""))
    b_std = _group_bundle(desc, P_STD, 5)
    b_ybm = _group_bundle(desc, P_YBM, 5)
    b_split = _group_bundle(desc, P_SPLIT, 7)
    m_std = _bundle_matched(b_std)
    m_ybm = _bundle_matched(b_ybm)
    m_split = _bundle_matched(b_split)
    std = lambda i: _bundle_group(b_std, i)  # noqa: E731
    ybm = lambda i: _bundle_group(b_ybm, i)  # noqa: E731
    spl = lambda i: _bundle_group(b_split, i)  # noqa: E731

    std_chron_i = std(5)

    keep = lambda name: F.coalesce(F.col(name), F.lit(""))  # noqa: E731

    new_enum_a = (
        F.when(m_std, F.concat(std(1), std(2)))
        .when(m_ybm, F.concat(ybm(1), ybm(2)))
        .when(m_split, F.concat(spl(1), spl(2)))
        .otherwise(keep(enum_a))
    )
    new_enum_b = (
        F.when(m_std, F.trim(std(3)))
        .when(m_ybm, F.trim(ybm(3)))
        .when(m_split, F.trim(spl(3)))
        .otherwise(keep(enum_b))
    )
    new_chron_i = (
        F.when(m_std, F.when(std_chron_i != "", std_chron_i).otherwise(keep(chron_i)))
        .when(m_ybm, ybm(4))
        .when(m_split, F.concat(spl(5), F.lit("-"), spl(7)))
        .otherwise(keep(chron_i))
    )
    new_chron_j = (
        F.when(
            m_std,
            F.when(std_chron_i != "", std(4)).otherwise(keep(chron_j)),
        )
        .when(m_ybm, ybm(5))
        .when(m_split, F.concat(spl(4), F.lit("-"), spl(6)))
        .otherwise(keep(chron_j))
    )
    new_pattern = (
        F.when(m_std, F.lit("StdMatch"))
        .when(m_ybm, F.lit("YearBeforeMonth"))
        .when(m_split, F.lit("SplitYears"))
        .otherwise(F.lit("N/A"))
    )

    return df.withColumns(
        {
            enum_a: new_enum_a,
            enum_b: new_enum_b,
            chron_i: new_chron_i,
            chron_j: new_chron_j,
            pattern: new_pattern,
        }
    )


def nomatch_count(df: DataFrame, pattern: str = "Pattern"):
    """Count of rows no pattern matched (BatchUpdate.py:709,750-758)."""
    return df.filter(F.col(pattern) == "N/A").count()
