"""Local mimic of the driver's correctness gate.

Runs every (or the named) REGISTRY query at sf0.01 on Spark AND its
DuckDB oracle over the same parquet, comparing row count, sorted
column names, and the order-insensitive multiset of rows.

    python tools/check_oracle.py                 # all
    python tools/check_oracle.py desc_extract …  # subset
    python tools/check_oracle.py --hash …        # engine-side hash

--hash (VERDICT r10 item 2): at 100× scale the sweep wall is ~90%
THIS SCRIPT's Python multiset normalization of 10M+ row results (672 s
for table_mor_pos_read's 16.75M rows — SWEEP_r10.md), not the engines.
With --hash, any key whose output schema is hash-safe on BOTH sides is
reduced engine-side to (count, sum(h1), sum(h2)) where h1/h2 are two
60-bit slices of a per-row md5 over type-tagged canonical cell
renderings (sorted by column name; string cells are themselves md5'd
so no separator ambiguity exists) — a Spark global aggregate and a
DuckDB relation aggregate, so only 1 row crosses into Python per side.
SUM is multiset-sensitive (unlike XOR, multiplicities count), and the
type tags keep the compare as type-strict as the driver's hash.
Renderings were probed equal across engines for every tagged type
(bool/int/decimal/date/timestamp incl. trimmed fractions/binary-hex);
any divergence surfaces as a hash mismatch which FALLS BACK to the
strict multiset path, so an imperfect rendering can cost time, never a
wrong verdict. Hash-machinery ERRORS (not just mismatches) take the
same fallback: the fast path is an accelerator, never a verdict gate. Keys with float/double/array/map/struct outputs always
take the strict path. tests/test_check_oracle_hash.py pins hash-vs-
strict verdict agreement and mismatch detection.
"""

from __future__ import annotations

import datetime
import math
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")
# Lazy oracle builders (trained IVF centroids / PQ codebooks / k-means
# literals) read SPARK_GRAFT_ORACLE_SF_DIR to train the SQL side's
# inlined literals. When sweeping a non-default directory, the two
# engines MUST train on the same corpus — default it to SF_DIR instead
# of silently training the oracle on sf0.01 (r06 10×-sweep footgun:
# every lazy-trained key "failed" with centroid-literal drift).
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_val(v, strict: bool = False):
    """Canonicalize a cell for cross-engine compare.

    strict=True preserves type identity (bool != int, Decimal stays
    exact, tz kept) — the driver's hash is type-sensitive, so only a
    strict match predicts driver parity. strict=False is the legacy
    loose compare, used to LABEL which queries rely on normalization.
    """
    if v is None:
        return None
    if isinstance(v, bool):
        return v if strict else int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime.datetime):
        if strict:
            return ("ts", v.isoformat(), v.tzinfo is not None)
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return ("date", v.isoformat()) if strict else v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return tuple(norm_val(x, strict) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm_val(x, strict)) for k, x in v.items()))
    import decimal

    if isinstance(v, decimal.Decimal):
        return ("dec", str(v)) if strict else float(v)
    return v


def _sort_key(t):
    return tuple((v is None, str(type(v)), str(v)) for v in t)


def rows_to_multiset(cols, rows, strict: bool = False):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm_val(r[i], strict) for i in order) for r in rows), key=_sort_key
    )


# ---------------------------------------------------------------------------
# Engine-side multiset hash (--hash fast path)
# ---------------------------------------------------------------------------

# Spark typeName() → type tag shared with the DuckDB mapping below.
# A tag distinguishes the same classes the strict compare does: all
# integer widths collapse to 'i' (Python ints compare equal), decimals
# stay distinct from ints ('n' — strict keeps ("dec", str)), etc.
_SPARK_TAG = {
    "string": "s",
    "byte": "i",
    "short": "i",
    "integer": "i",
    "long": "i",
    "boolean": "b",
    "date": "d",
    "timestamp": "t",
    "timestamp_ntz": "t",
    "binary": "x",
    "decimal": "n",
    # float/double: rendered as the IEEE-754 bit pattern of the
    # value widened to double (float32→float64 is exact), so the
    # compare is BIT-exact — probed identical across engines for
    # ±0, ±inf, denormals, and 10M real values (NOTES_r12). Both
    # sides use a vectorized Arrow/pandas UDF over the float64
    # buffer (register_spark_hash_fns / register_duck_hash_fns).
    "double": "f",
    "float": "f",
}


def _duck_tag(duck_type: str) -> str | None:
    t = duck_type.upper()
    if t.startswith("DECIMAL"):
        return "n"
    return {
        "VARCHAR": "s",
        "TINYINT": "i",
        "SMALLINT": "i",
        "INTEGER": "i",
        "BIGINT": "i",
        "UTINYINT": "i",
        "USMALLINT": "i",
        "UINTEGER": "i",
        "BOOLEAN": "b",
        "DATE": "d",
        "TIMESTAMP": "t",
        "TIMESTAMP_NS": "t",
        "BLOB": "x",
        "DOUBLE": "f",
        "FLOAT": "f",
        "REAL": "f",
    }.get(t)


def register_spark_hash_fns(spark) -> None:
    """Register the vectorized double→IEEE-bits pandas UDF the 'f'
    cell rendering needs. Idempotent per session.

    A pandas UDF, NOT reflect('java.lang.Double','doubleToRawLongBits',
    …): reflect is classified nondeterministic (banned in aggregates)
    and was observed returning 0 for every row when projected over a
    cogroup-applyInPandas plan (cogroup_conversion, r12) — the
    mismatch-fallback kept the verdict right, but the fast path never
    fired. The Arrow-batched UDF is deterministic, plan-independent,
    and bit-exact, mirroring the DuckDB side's dbits64. NULL and NaN
    both surface as NaN in the float64 batch, so genuine NaN cells
    render as NULL here — a divergence from the DuckDB side that only
    forces the strict fallback, where NaN never compares equal anyway."""
    if getattr(spark, "_ms_dbits64_registered", False):
        return
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _dbits64(s: pd.Series) -> pd.Series:
        arr = s.to_numpy(dtype=np.float64, copy=False)
        return pd.Series(arr.view(np.int64)).astype("Int64").mask(s.isna())

    spark.udf.register("ms_dbits64", _dbits64)
    spark._ms_dbits64_registered = True


def register_duck_hash_fns(con) -> None:
    """Register the vectorized double→IEEE-bits UDF the 'f' cell
    rendering needs. Idempotent per connection."""
    import pyarrow as pa

    import duckdb as _duckdb

    def dbits64(a):
        v = a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a
        bits = v.to_numpy(zero_copy_only=False).view(np.int64)
        mask = v.is_null().to_numpy(zero_copy_only=False)
        return pa.array(bits, mask=mask)

    try:
        con.create_function(
            "dbits64",
            dbits64,
            [_duckdb.typing.DOUBLE],
            _duckdb.typing.BIGINT,
            type="arrow",
        )
    except _duckdb.CatalogException:
        pass  # already registered on this connection


def _cell_spark(col: str, tag: str) -> str:
    q = f"`{col}`"
    if tag == "s":
        body = f"md5({q})"
    elif tag == "x":
        body = f"lower(hex({q}))"
    elif tag == "f":
        body = f"CAST(ms_dbits64(CAST({q} AS DOUBLE)) AS STRING)"
    else:
        body = f"CAST({q} AS STRING)"
    return f"coalesce(concat('{tag}:', {body}), '{tag}:NULL')"


def _cell_duck(col: str, tag: str) -> str:
    q = f'"{col}"'
    if tag == "s":
        body = f"md5({q})"
    elif tag == "x":
        body = f"lower(hex({q}))"
    elif tag == "f":
        body = f"CAST(dbits64(CAST({q} AS DOUBLE)) AS VARCHAR)"
    else:
        body = f"CAST({q} AS VARCHAR)"
    return f"coalesce('{tag}:' || {body}, '{tag}:NULL')"


def spark_hash_row_expr(schema) -> str | None:
    """Per-row hash expression for a hash-safe schema, else None.

    Returned as a PROJECTION expression, not an aggregate argument:
    the 'f' bit rendering is a pandas UDF, and projecting it first
    keeps the aggregate stage a plain whole-stage-codegen sum over
    the already-materialized row hashes (see SPARK_HASH_AGG_EXPRS).
    Requires register_spark_hash_fns on the session when any 'f'
    column is present (spark_hash_signature does both)."""
    tags = {}
    for f in schema.fields:
        tag = _SPARK_TAG.get(f.dataType.typeName())
        if tag is None:
            return None
        tags[f.name] = tag
    cells = [_cell_spark(c, tags[c]) for c in sorted(tags, key=str.lower)]
    return f"md5(concat_ws(char(31), {', '.join(cells)}))"


SPARK_HASH_AGG_EXPRS = [
    "count(*) AS c",
    "sum(CAST(conv(substr(__ms_row_hash, 1, 15), 16, 10) "
    "AS DECIMAL(38,0))) AS h1",
    "sum(CAST(conv(substr(__ms_row_hash, 17, 15), 16, 10) "
    "AS DECIMAL(38,0))) AS h2",
]


def spark_hash_signature(sdf):
    """(count, h1, h2) for a hash-safe DataFrame, else None."""
    row = spark_hash_row_expr(sdf.schema)
    if row is None:
        return None
    register_spark_hash_fns(sdf.sparkSession)
    r = (
        sdf.selectExpr(f"{row} AS __ms_row_hash")
        .selectExpr(*SPARK_HASH_AGG_EXPRS)
        .collect()[0]
    )
    return (int(r[0]), int(r[1] or 0), int(r[2] or 0))


def duck_hash_expr(cols: list[str], types: list[str]) -> str | None:
    """DuckDB relation .aggregate() expression, else None if unsafe."""
    tags = {}
    for c, t in zip(cols, types):
        tag = _duck_tag(str(t))
        if tag is None:
            return None
        tags[c] = tag
    cells = [_cell_duck(c, tags[c]) for c in sorted(tags, key=str.lower)]
    row = f"md5(concat_ws(chr(31), {', '.join(cells)}))"
    return (
        "count(*) AS c, "
        f"sum(('0x' || substr({row}, 1, 15))::BIGINT)::HUGEINT AS h1, "
        f"sum(('0x' || substr({row}, 17, 15))::BIGINT)::HUGEINT AS h2"
    )


def main() -> int:
    import duckdb

    from journal_batch_processer_spark.cache import release_all
    from journal_batch_processer_spark.queries import REGISTRY
    from journal_batch_processer_spark.queries.registry import resolve_oracle
    from journal_batch_processer_spark.session import get_spark

    argv = sys.argv[1:]
    flags = {a for a in argv if a.startswith("--")}
    unknown = flags - {"--hash"}
    if unknown:
        print(f"unknown flag(s): {sorted(unknown)} (supported: --hash)")
        return 2
    use_hash = "--hash" in flags
    names = [a for a in argv if not a.startswith("--")] or sorted(REGISTRY)
    # local[8]/8 matches the per-round driver budget; the env overrides
    # exist for HEAVY-TAIL 100× keys whose shuffles carry 1e9+ rows —
    # 8 reduce partitions puts ~600M rows in one partial-distinct map
    # and GC-thrashes, which no real deployment would do (a cluster
    # runs hundreds of reducers; AQE coalesces when small).
    spark = get_spark(
        "check-oracle",
        master=os.environ.get("SPARK_GRAFT_CHECK_MASTER", "local[8]"),
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_CHECK_SHUFFLE", "8")),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    # Cap oracle-side parallelism: with the default threads=32 the
    # bundled jemalloc's per-thread arenas + decay madvise()s split
    # VMAs so fast during big aggregate-state teardown (the 100×
    # text_entropy oracle: 500k ORDER BY'd list() states) that the
    # process hits vm.max_map_count (65530) and every later malloc
    # fails ENOMEM with >100 GB of RAM free — measured maps 4.3k →
    # 65.5k in 6 s while RSS FELL. 8 threads peaks at ~53k maps on
    # the same query (and the oracle is the referee, not the engine
    # under test — it does not need to race Spark).
    con.execute("SET threads=8")
    register_duck_hash_fns(con)
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    # Sweep accelerator: expensive shared oracle fragments (the
    # connected-component fixpoint) are materialized ONCE per run and
    # dependent keys run their table-referencing variants — identical
    # verdicts (same fixpoint text), ~O(keys)× less recursive-CTE
    # work. The driver still gets the self-contained strings.
    from journal_batch_processer_spark.queries.llmops import ORACLE_PRECOMPUTE

    pre_built: set[str] = set()

    def oracle_for(name: str, spec) -> str | None:
        for tbl, info in ORACLE_PRECOMPUTE.items():
            if name in info["keys"]:
                if tbl not in pre_built:
                    t0 = time.perf_counter()
                    # "stmts" form: an ordered statement list (builds
                    # several temp tables / sliced INSERTs — each its
                    # own bounded pipeline, see _ngram_precompute_stmts)
                    for s in info.get("stmts") or (
                        [f"CREATE TEMP TABLE {tbl} AS {info['sql']}"]
                    ):
                        con.execute(s)
                    print(f"      [{tbl} materialized in "
                          f"{time.perf_counter()-t0:.1f}s]")
                    pre_built.add(tbl)
                return info["keys"][name]
        return resolve_oracle(spec)

    n_pass = n_fail = n_skip = 0
    for name in names:
        spec = REGISTRY[name]
        t0 = time.perf_counter()
        try:
            try:
                sdf = spec.fn(spark, SF_DIR)
                s_cols = sdf.columns
                if spec.oracle is None:
                    n = sdf.count()
                    print(f"skip  {name}: rows-only ({n} rows, "
                          f"{time.perf_counter()-t0:.1f}s)")
                    n_skip += 1
                    continue
            except Exception as exc:  # noqa: BLE001
                print(f"FAIL  {name}: spark error: {exc}")
                n_fail += 1
                continue
            try:
                rel = con.sql(oracle_for(name, spec))
                o_cols = list(rel.columns)
                o_types = [str(t).upper() for t in rel.types]
            except Exception as exc:  # noqa: BLE001
                print(f"FAIL  {name}: duckdb error: {exc}")
                n_fail += 1
                continue

            # --hash fast path: engine-side multiset hash; only 1 row
            # per side reaches Python. Mismatch falls back to strict.
            hash_note = ""
            if use_hash:
                s_row = spark_hash_row_expr(sdf.schema)
                d_expr = duck_hash_expr(o_cols, o_types)
                if (
                    s_row is not None
                    and d_expr is not None
                    and sorted(c.lower() for c in s_cols)
                    == sorted(c.lower() for c in o_cols)
                ):
                    s_sig = o_sig = None
                    try:
                        s_sig = spark_hash_signature(sdf)
                        oa = rel.aggregate(d_expr).fetchall()[0]
                        o_sig = (int(oa[0]), int(oa[1] or 0), int(oa[2] or 0))
                    except Exception as exc:  # noqa: BLE001
                        # An ERROR in the hash machinery is not a
                        # verdict — fall back to the strict path the
                        # same way a mismatch does (r12: a jemalloc
                        # VMA-exhaustion ENOMEM here FAILed the key
                        # and poisoned the rest of the sweep).
                        hash_note = f"  [hash-path error: {exc} — strict fallback]"
                        print(f"      {name}:{hash_note}")
                    if o_sig is not None:
                        if s_sig == o_sig:
                            print(f"ok    {name} (hash, {s_sig[0]} rows, "
                                  f"{time.perf_counter()-t0:.1f}s)")
                            n_pass += 1
                            continue
                        hash_note = (
                            f"  [HASH MISMATCH spark={s_sig} oracle={o_sig} — "
                            f"strict fallback]"
                        )
                        if s_sig[0] == o_sig[0]:
                            print(f"      {name}:{hash_note}")

            try:
                s_rows = sdf.collect()
                o_rows = rel.fetchall()
            except Exception as exc:  # noqa: BLE001
                print(f"FAIL  {name}: fetch error: {exc}")
                n_fail += 1
                continue
        finally:
            # scoped caches (ADVICE r06): operators pin shared
            # relations; the checker is the action driver, so it
            # releases them once the key's output is materialized
            release_all()

        problems = []
        # The driver's pandas canonicalizer sort_values()-es every
        # column, so a complex-typed Spark output column (array/map/
        # struct — unhashable in pandas) ERRORS driver-side even though
        # this script's own multiset compare handles lists fine
        # (r05 lesson: embed_quantize). Flag it as a failure here.
        complex_cols = [
            f.name
            for f in sdf.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if complex_cols:
            problems.append(
                f"spark cols {complex_cols} are complex-typed (driver "
                f"canonicalizer errs on list cells); emit array_join/"
                f"to_json instead"
            )
        # The driver's value hash is Arrow-type-sensitive: a DuckDB
        # HUGEINT (int128 in Arrow) never hash-matches Spark's int64
        # even when every value is equal — Python-level fetchall()
        # can't see the difference, so check the relation types.
        for c, t in zip(o_cols, o_types):
            if "HUGEINT" in t or "INT128" in t:
                problems.append(
                    f"oracle col {c!r} is {t} (Arrow int128 — driver "
                    f"hash-mismatch); CAST(... AS BIGINT) in the SQL"
                )
        if len(s_rows) != len(o_rows):
            problems.append(f"rows {len(s_rows)} != {len(o_rows)}")
        if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in o_cols):
            problems.append(f"cols {sorted(s_cols)} != {sorted(o_cols)}")
        normalized_note = ""
        if not problems:
            srows = [list(r) for r in s_rows]
            ms = rows_to_multiset(s_cols, srows, strict=True)
            mo = rows_to_multiset(o_cols, o_rows, strict=True)
            if ms != mo:
                # Strict (type-identity) mismatch: the driver's hash is
                # type-sensitive, so fall back to the loose compare only
                # to distinguish "value bug" from "type reliance" — and
                # flag the latter loudly instead of a silent pass.
                ls = rows_to_multiset(s_cols, srows)
                lo = rows_to_multiset(o_cols, o_rows)
                if ls == lo:
                    for a, b in zip(ms, mo):
                        if a != b:
                            normalized_note = (
                                f"  [TYPE-NORMALIZED ONLY — driver may fail: "
                                f"spark={a!r} vs oracle={b!r}]"
                            )
                            break
                else:
                    for i, (a, b) in enumerate(zip(ls, lo)):
                        if a != b:
                            problems.append(
                                f"first diff @sorted[{i}]: spark={a!r} oracle={b!r}"
                            )
                            break
                    else:
                        problems.append("length equal but content diff at tail")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems) + hash_note)
            n_fail += 1
        else:
            print(
                f"ok    {name} ({len(s_rows)} rows, "
                f"{time.perf_counter()-t0:.1f}s){normalized_note}{hash_note}"
            )
            n_pass += 1

    print(f"\n{n_pass} ok, {n_fail} fail, {n_skip} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
