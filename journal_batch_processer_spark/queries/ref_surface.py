"""Oracle-checked queries for the reference-surface operators
(SURVEY.md §2), expressed over the driver's TPC-H-ish tables.

Each function runs the REAL engine operator on a deterministic input
derived from the parquet tables; the paired DuckDB oracle reconstructs
the expected output with independent arithmetic (never by re-running
the same regex), so a translation bug can't cancel out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from journal_batch_processer_spark.code_tables import (
    CODE_TABLES,
    code_lookup as ct_lookup,
    code_validate as ct_validate,
)
from journal_batch_processer_spark.functions.notes import append_note_when
from journal_batch_processer_spark.functions.guards import (
    numeric_guard,
    strip_guard_quote,
)
from journal_batch_processer_spark.functions.text import month_normalize
from journal_batch_processer_spark.operators.desc_extract import desc_extract
from journal_batch_processer_spark.operators.flags import (
    flag_i_barcode,
    flag_missing_barcode,
)
from journal_batch_processer_spark.operators.merge import merge_flat
from journal_batch_processer_spark.operators.natural_sort import (
    natural_keys,
    with_sort_keys,
)
from journal_batch_processer_spark.operators.routing import error_condition
from journal_batch_processer_spark.operators.year_impute import (
    year_impute_exact,
    year_impute_window,
)
from journal_batch_processer_spark.pipeline import format_stage, split_stage
from journal_batch_processer_spark.queries.itemview import (
    BASE_CTE,
    EXPECTED_EXTRACT_SQL,
    base_columns,
    item_view,
)
from journal_batch_processer_spark.sources.rest import enrich_fetch
from journal_batch_processer_spark.sinks.rest_push import simulate_push

# ---------------------------------------------------------------------------
# desc_extract / nomatch_count
# ---------------------------------------------------------------------------


def q_desc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = desc_extract(item_view(spark, sf_dir))
    return df.select(
        "o_orderkey",
        F.col("Enum A").alias("enum_a"),
        F.col("Enum B").alias("enum_b"),
        F.col("Chron I").alias("chron_i"),
        F.col("Chron J").alias("chron_j"),
        F.col("Pattern").alias("pattern"),
    )


SQL_DESC_EXTRACT = f"""
WITH {BASE_CTE}, {EXPECTED_EXTRACT_SQL}
SELECT o_orderkey, enum_a, enum_b, chron_i, chron_j, pattern FROM expected
"""


def q_nomatch_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = desc_extract(item_view(spark, sf_dir))
    return df.agg(
        F.count(F.when(F.col("Pattern") == "N/A", F.lit(1))).alias("n_nomatch")
    )


SQL_NOMATCH_COUNT = f"""
WITH {BASE_CTE}
SELECT count(*) FILTER (WHERE style = 5) AS n_nomatch FROM iv
"""


def q_row_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.agg(F.count(F.lit(1)).alias("n_rows"))


SQL_ROW_COUNT = "SELECT count(*) AS n_rows FROM lineitem"


# ---------------------------------------------------------------------------
# format-stage family: projection, numeric guard, schema contract
# ---------------------------------------------------------------------------


def q_project_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = format_stage(item_view(spark, sf_dir).drop("g", "k", "o_orderkey"))
    return out.select(
        F.col("MMS ID").alias("mms_id"),
        F.col("Barcode").alias("barcode"),
        F.col("title"),
        F.col("Material Type").alias("material_type"),
        F.col("Item Policy").alias("item_policy"),
    )


SQL_PROJECT_COLUMNS = f"""
WITH {BASE_CTE}
SELECT
    '''' || CAST(9000000000000 + g AS VARCHAR) AS mms_id,
    '''' || CAST(o_orderkey AS VARCHAR) AS barcode,
    'Journal ' || g AS title,
    '' AS material_type,
    '' AS item_policy
FROM iv
"""


def q_numeric_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.select(
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("l_orderkey").cast("string").alias("raw"),
    )
    return df.select(
        "l_orderkey", "l_linenumber", numeric_guard(F.col("raw")).alias("guarded")
    )


SQL_NUMERIC_GUARD = """
SELECT l_orderkey, l_linenumber,
       '''' || CAST(l_orderkey AS VARCHAR) AS guarded
FROM lineitem
"""


def q_strip_guard_quote(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        F.concat(F.lit("'"), F.col("l_orderkey").cast("string")).alias("guarded"),
    )
    return df.select(
        "l_orderkey",
        "l_linenumber",
        strip_guard_quote(F.col("guarded")).alias("stripped"),
    )


SQL_STRIP_GUARD_QUOTE = """
SELECT l_orderkey, l_linenumber, CAST(l_orderkey AS VARCHAR) AS stripped
FROM lineitem
"""


def q_ensure_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Drop the add-tier columns, let the contract re-add them with "".
    from journal_batch_processer_spark.schema_policy import (
        DEFAULT_CONTRACT,
        ensure_columns,
    )

    iv = item_view(spark, sf_dir).select("o_orderkey", "MMS ID", "Barcode", "title")
    out = ensure_columns(iv, DEFAULT_CONTRACT)
    return out.select(
        "o_orderkey",
        F.col("Material Type").alias("material_type"),
        F.col("Item Policy").alias("item_policy"),
        F.col("Description").alias("description"),
    )


SQL_ENSURE_COLUMNS = """
SELECT o_orderkey, '' AS material_type, '' AS item_policy, '' AS description
FROM orders
"""


def q_dependent_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from journal_batch_processer_spark.schema_policy import (
        DEFAULT_CONTRACT,
        ensure_columns,
    )

    iv = item_view(spark, sf_dir).select(
        "o_orderkey", "MMS ID", "Barcode", "title", "Description"
    )
    out = ensure_columns(iv, DEFAULT_CONTRACT)  # pulls Enum/Chron via Description
    return out.select(
        "o_orderkey",
        F.col("Enum A").alias("enum_a"),
        F.col("Enum B").alias("enum_b"),
        F.col("Chron I").alias("chron_i"),
        F.col("Chron J").alias("chron_j"),
    )


SQL_DEPENDENT_COLUMNS = """
SELECT o_orderkey, '' AS enum_a, '' AS enum_b, '' AS chron_i, '' AS chron_j
FROM orders
"""


# ---------------------------------------------------------------------------
# fills / constants
# ---------------------------------------------------------------------------


def q_fill_blank_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    from journal_batch_processer_spark.operators.flags import fill_blank_defaults
    from journal_batch_processer_spark.schema_policy import ColumnSpec, Contract

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("")).otherwise(
            F.lit("Item in place")
        ).alias("Status"),
    )
    contract = Contract(
        mand=(ColumnSpec("o_orderkey", "t"),),
        opt=(ColumnSpec("Status", "t", "Item not in place"),),
    )
    out = fill_blank_defaults(df, contract)
    return out.select("o_orderkey", F.col("Status").alias("status"))


SQL_FILL_BLANK_DEFAULT = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 5 = 0 THEN 'Item not in place'
            ELSE 'Item in place' END AS status
FROM orders
"""


def q_overwrite_constant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from journal_batch_processer_spark.operators.flags import overwrite_constants
    from journal_batch_processer_spark.schema_policy import ColumnSpec, Contract

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = orders.select("o_orderkey", F.col("o_orderstatus").alias("Material Type"))
    contract = Contract(
        mand=(ColumnSpec("o_orderkey", "t"),),
        add=(ColumnSpec("Material Type", "t", "Bound Issue"),),
    )
    out = overwrite_constants(df, contract)
    return out.select("o_orderkey", F.col("Material Type").alias("material_type"))


SQL_OVERWRITE_CONSTANT = """
SELECT o_orderkey, 'Bound Issue' AS material_type FROM orders
"""


# ---------------------------------------------------------------------------
# code tables
# ---------------------------------------------------------------------------

_MAT_DESCS = list(CODE_TABLES["Material Type"].keys())  # 9 entries
_MAT_CASE_SQL = "CASE p_partkey % 9 " + " ".join(
    f"WHEN {i} THEN '{d}'" for i, d in enumerate(_MAT_DESCS)
) + " END"
_MAT_CODE_CASE_SQL = "CASE p_partkey % 9 " + " ".join(
    f"WHEN {i} THEN '{CODE_TABLES['Material Type'][d]}'"
    for i, d in enumerate(_MAT_DESCS)
) + " END"


def _mat_desc_col() -> F.Column:
    arr = F.array(*[F.lit(d) for d in _MAT_DESCS])
    return F.element_at(arr, (F.col("p_partkey") % 9).cast("int") + 1)


def q_code_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    df = part.select("p_partkey", _mat_desc_col().alias("material_type"))
    out = ct_lookup(df, "Material Type", "material_type", "material_code")
    return out.select("p_partkey", "material_type", "material_code")


SQL_CODE_LOOKUP = f"""
SELECT p_partkey, {_MAT_CASE_SQL} AS material_type,
       {_MAT_CODE_CASE_SQL} AS material_code
FROM part
"""


def q_code_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    # every 10th row carries an out-of-domain value
    desc = F.when(F.col("p_partkey") % 10 == 9, F.lit("Microfilm")).otherwise(
        _mat_desc_col()
    )
    df = part.select("p_partkey", desc.alias("material_type"))
    bad = ct_validate(df, "Material Type", "material_type")
    return bad.groupBy("material_type").agg(F.count(F.lit(1)).alias("n_bad"))


SQL_CODE_VALIDATE = """
SELECT 'Microfilm' AS material_type, count(*) AS n_bad
FROM part WHERE p_partkey % 10 = 9
"""


def q_dim_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("n_nationkey").alias("nationkey"),
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )


SQL_DIM_JOIN_BROADCAST = """
SELECT n_nationkey AS nationkey, n_name AS nation, r_name AS region
FROM nation JOIN region ON n_regionkey = r_regionkey
"""


# ---------------------------------------------------------------------------
# enrich / merge / route / push (update-stage family)
# ---------------------------------------------------------------------------


def _items_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return orders.select(
        "o_orderkey",
        F.concat(F.lit("'"), F.col("o_custkey").cast("string")).alias("Barcode"),
        F.lit("").alias("Notes"),
    )


def _remote_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return cust.filter(F.col("c_custkey") % 7 != 0).select(
        F.col("c_custkey").cast("string").alias("barcode"),
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("c_custkey") % 97 == 0, F.lit(503))
        .otherwise(F.lit(200))
        .alias("http_status"),
    )


def q_enrich_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = enrich_fetch(_items_df(spark, sf_dir), _remote_df(spark, sf_dir))
    return out.select(
        "o_orderkey",
        F.coalesce(F.col("segment"), F.lit("")).alias("segment"),
        F.col("Notes").alias("notes"),
    )


SQL_ENRICH_FETCH = """
SELECT o_orderkey,
       COALESCE(c_mktsegment, '') AS segment,
       CASE WHEN c_custkey IS NULL
                THEN 'Err: Problem fetching item information. Code 404'
            WHEN c_custkey % 97 = 0
                THEN 'Err: Problem fetching item information. Code 503'
            ELSE '' END AS notes
FROM orders
LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 7 <> 0) c
       ON CAST(o_custkey AS VARCHAR) = CAST(c_custkey AS VARCHAR)
"""


def q_rest_fetch_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fetch-status distribution — the source's contract at a glance
    out = enrich_fetch(_items_df(spark, sf_dir), _remote_df(spark, sf_dir))
    status = F.when(F.col("Notes") == "", F.lit(200)).otherwise(
        F.regexp_extract(F.col("Notes"), r"Code (\d+)", 1).cast("int")
    )
    return out.select(status.alias("status")).groupBy("status").agg(
        F.count(F.lit(1)).alias("n")
    )


SQL_REST_FETCH_SOURCE = """
SELECT CASE WHEN c_custkey IS NULL THEN 404
            WHEN c_custkey % 97 = 0 THEN 503
            ELSE 200 END AS status,
       count(*) AS n
FROM orders
LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 7 <> 0) c
       ON CAST(o_custkey AS VARCHAR) = CAST(c_custkey AS VARCHAR)
GROUP BY 1
"""


def q_field_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    df = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 3 == 0, F.lit("")).otherwise(
                F.col("o_orderpriority")
            ).alias("csv_priority"),
            F.col("c_mktsegment").alias("remote_priority"),
        )
    )
    out = merge_flat(df, "csv_priority", "remote_priority", "merged_priority")
    return out.select("o_orderkey", "merged_priority")


SQL_FIELD_MERGE = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0 THEN c_mktsegment
            ELSE o_orderpriority END AS merged_priority
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def q_error_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_linenumber") % 4 == 0, F.lit("Err: bad row"))
        .otherwise(F.lit("")).alias("Notes"),
        F.when(F.col("l_orderkey") % 11 == 0, F.lit("N/A"))
        .otherwise(F.lit("StdMatch")).alias("Pattern"),
    )
    route = F.when(error_condition(df), F.lit("error")).otherwise(F.lit("good"))
    return df.select("l_orderkey", "l_linenumber", route.alias("route"))


SQL_ERROR_ROUTE = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_linenumber % 4 = 0 OR l_orderkey % 11 = 0
            THEN 'error' ELSE 'good' END AS route
FROM lineitem
"""


def q_rest_push_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _items_df(spark, sf_dir).withColumn(
        "put_status",
        F.when(F.col("o_orderkey") % 101 == 0, F.lit(500)).otherwise(F.lit(200)),
    )
    routed = simulate_push(df)
    good = routed.good.select("o_orderkey", F.col("Notes").alias("notes"))
    bad = routed.error.select("o_orderkey", F.col("Notes").alias("notes"))
    return good.unionByName(bad)


SQL_REST_PUSH_SINK = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 101 = 0
            THEN 'Err: #Problem with Networking request. Code 500'
            ELSE '' END AS notes
FROM orders
"""


# ---------------------------------------------------------------------------
# flags / notes
# ---------------------------------------------------------------------------


def _barcode_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bc = (
        F.when(F.col("l_orderkey") % 17 == 0, F.lit("'"))
        .when(
            F.col("l_orderkey") % 17 == 1,
            F.concat(F.lit("'i"), F.col("l_orderkey").cast("string")),
        )
        .otherwise(F.concat(F.lit("'"), F.col("l_orderkey").cast("string")))
    )
    notes = F.when(F.col("l_linenumber") % 3 == 0, F.lit("Err: seed")).otherwise(
        F.lit("")
    )
    return li.select(
        "l_orderkey", "l_linenumber", bc.alias("Barcode"), notes.alias("Notes")
    )


_SQL_BARCODE_ITEMS = """
items AS (
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_orderkey % 17 = 0 THEN ''''
                WHEN l_orderkey % 17 = 1 THEN '''i' || CAST(l_orderkey AS VARCHAR)
                ELSE '''' || CAST(l_orderkey AS VARCHAR) END AS barcode,
           CASE WHEN l_linenumber % 3 = 0 THEN 'Err: seed' ELSE '' END AS notes
    FROM lineitem
)
"""


def q_flag_missing_barcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = flag_missing_barcode(_barcode_items(spark, sf_dir))
    return out.select("l_orderkey", "l_linenumber", F.col("Notes").alias("notes"))


SQL_FLAG_MISSING_BARCODE = f"""
WITH {_SQL_BARCODE_ITEMS}
SELECT l_orderkey, l_linenumber,
       CASE WHEN barcode = ''''
            THEN notes || (CASE WHEN notes = '' THEN '' ELSE '; ' END)
                 || 'Err: Missing barcode'
            ELSE notes END AS notes
FROM items
"""


def q_flag_i_barcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = flag_i_barcode(_barcode_items(spark, sf_dir))
    return out.select("l_orderkey", "l_linenumber", F.col("Notes").alias("notes"))


SQL_FLAG_I_BARCODE = f"""
WITH {_SQL_BARCODE_ITEMS}
SELECT l_orderkey, l_linenumber,
       CASE WHEN length(barcode) > 2 AND substr(barcode, 2, 1) = 'i'
            THEN notes || (CASE WHEN notes = '' THEN '' ELSE '; ' END)
                 || 'Err: i-barcode'
            ELSE notes END AS notes
FROM items
"""


def q_notes_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _barcode_items(spark, sf_dir)
    out = df.withColumn(
        "Notes",
        append_note_when(
            F.col("Notes"), F.col("l_orderkey") % 2 == 0, "note: even order"
        ),
    )
    return out.select("l_orderkey", "l_linenumber", F.col("Notes").alias("notes"))


SQL_NOTES_APPEND = f"""
WITH {_SQL_BARCODE_ITEMS}
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_orderkey % 2 = 0
            THEN notes || (CASE WHEN notes = '' THEN '' ELSE '; ' END)
                 || 'note: even order'
            ELSE notes END AS notes
FROM items
"""


# ---------------------------------------------------------------------------
# month_normalize
# ---------------------------------------------------------------------------

_MONTH_TOKENS = [
    "Jan", "january", "febr", "MAR", "march", "Apr", "may", "JUNE", "Jul",
    "aug", "Sept", "october", "nov", "Dec", "Spring", "summ", "autumn",
    "fall", "winter", "author", "Oct", "wint", "spr", "Summer", "nV",
]
_MONTH_EXPECTED = [
    "Jan", "Jan", "Feb", "Mar", "Mar", "Apr", "May", "Jun", "Jul",
    "Aug", "Sep", "Oct", "Nov", "Dec", "Spr", "Sum", "Fal",
    "Fal", "Win", "author", "Oct", "Win", "Spr", "Sum", "Nov",
]


def q_month_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    arr = F.array(*[F.lit(t) for t in _MONTH_TOKENS])
    idx = ((F.col("l_orderkey") + F.col("l_linenumber")) % len(_MONTH_TOKENS)).cast(
        "int"
    ) + 1
    df = li.select(
        "l_orderkey", "l_linenumber", F.element_at(arr, idx).alias("token")
    )
    return df.select(
        "l_orderkey",
        "l_linenumber",
        month_normalize(F.col("token")).alias("normalized"),
    )


_MONTH_EXPECT_CASE = "CASE CAST((l_orderkey + l_linenumber) % 25 AS INT) " + " ".join(
    f"WHEN {i} THEN '{e}'" for i, e in enumerate(_MONTH_EXPECTED)
) + " END"

SQL_MONTH_NORMALIZE = f"""
SELECT l_orderkey, l_linenumber, {_MONTH_EXPECT_CASE} AS normalized
FROM lineitem
"""


# ---------------------------------------------------------------------------
# natural_sort
# ---------------------------------------------------------------------------


def q_natural_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = with_sort_keys(item_view(spark, sf_dir))
    w = Window.orderBy(*[F.col(c) for c in natural_keys(iv.columns)])
    return iv.select(
        F.col("o_orderkey"),
        F.col("MMS ID").alias("mms_id"),
        F.col("Description").alias("description"),
        F.row_number().over(w).alias("rnk"),
    )


_DESC_SQL = """
CASE style
    WHEN 0 THEN 'v.' || vol || ' no.' || m || ' (' || mon1 || ' ' || y4 || ')'
    WHEN 1 THEN 'Vol ' || vol || ' (' || y4 || ' ' || mon1 || ')'
    WHEN 2 THEN 'v.' || vol || ' (' || mon1 || ' ' || y4 || ' - ' || mon2 || ' ' || (y4+1) || ')'
    WHEN 3 THEN 'ser. 2 v. ' || vol || ' no ' || m || '-' || (m+1) || ' (' || mon1 || ' ' || y4 || ')'
    WHEN 4 THEN 'v' || vol || ' pt.' || m || ' (' || y4 || ')'
    WHEN 5 THEN 'index ' || y4
    ELSE 'v ' || vol || ' nos. ' || m || '/' || (m+1) || ' (' || mon1 || ' ' || substr(CAST(y4 AS VARCHAR), 3, 2) || ')'
END
"""

SQL_NATURAL_SORT = f"""
WITH {BASE_CTE},
keyed AS (
    SELECT o_orderkey,
           CAST(9000000000000 + g AS VARCHAR) AS mms_id,
           {_DESC_SQL} AS description,
           CASE WHEN style = 5 THEN 0 WHEN style = 3 THEN 2 ELSE 0 END AS pre_vol,
           CASE WHEN style = 5 THEN 0 ELSE vol END AS vol_num
    FROM iv
)
SELECT o_orderkey, mms_id, description,
       ROW_NUMBER() OVER (ORDER BY mms_id, pre_vol, vol_num, description) AS rnk
FROM keyed
"""


# ---------------------------------------------------------------------------
# year_impute (exact applyInPandas) + window fast path, same oracle
# ---------------------------------------------------------------------------


def _chron_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = base_columns(spark, sf_dir)
    kmax = F.max("k").over(Window.partitionBy("g"))
    y4s = F.col("y4").cast("string")
    y2s = F.substring(y4s, 3, 2)
    scheme = F.col("g") % 4
    two_digit = (
        ((scheme == 0) & (F.col("k") % 2 == 0))
        | ((scheme == 1) & (F.col("k") == 1))
        | ((scheme == 2) & (F.col("k") == kmax))
        | (scheme == 3)
    )
    return base.select(
        "g",
        "k",
        F.when(two_digit, y2s).otherwise(y4s).alias("chron_i"),
        F.lit("").alias("note"),
    )


def q_year_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _chron_input(spark, sf_dir)
    return year_impute_exact(
        df, group_col="g", order_cols=("k",), chron_col="chron_i", notes_col="note"
    )


def q_year_impute_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _chron_input(spark, sf_dir)
    return year_impute_window(
        df, group_col="g", order_cols=("k",), chron_col="chron_i", notes_col="note"
    )


SQL_YEAR_IMPUTE = f"""
WITH {BASE_CTE},
c AS (
    SELECT g, k, CAST(y4 AS VARCHAR) AS y4s,
           substr(CAST(y4 AS VARCHAR), 3, 2) AS y2s,
           MAX(k) OVER (PARTITION BY g) AS kmax
    FROM iv
),
inp AS (
    SELECT g, k,
           CASE WHEN (g % 4 = 0 AND k % 2 = 0) OR (g % 4 = 1 AND k = 1)
                     OR (g % 4 = 2 AND k = kmax) OR (g % 4 = 3)
                THEN y2s ELSE y4s END AS chron_in
    FROM c
),
anch AS (
    SELECT g, k, chron_in,
           last_value(CASE WHEN length(chron_in) = 4 THEN chron_in END IGNORE NULLS)
               OVER (PARTITION BY g ORDER BY k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev,
           first_value(CASE WHEN length(chron_in) = 4 THEN chron_in END IGNORE NULLS)
               OVER (PARTITION BY g ORDER BY k
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next
    FROM inp
),
calc AS (
    SELECT g, k, chron_in, prev, next,
           CAST(chron_in AS INT) AS yi,
           CAST(prev AS INT) AS prev_i, CAST(next AS INT) AS next_i,
           CAST(substr(prev, 1, 2) || chron_in AS INT) AS cand_p,
           CAST(substr(next, 1, 2) || chron_in AS INT) AS cand_n,
           CAST(substr(prev, 1, 2) AS INT) AS p2,
           CAST(substr(next, 3, 2) AS INT) AS nd,
           CAST(substr(prev, 3, 2) AS INT) AS pdg
    FROM anch
)
SELECT g, k,
       CASE
           WHEN length(chron_in) = 4 THEN chron_in
           WHEN prev IS NOT NULL AND next IS NOT NULL THEN
               CASE
                   WHEN prev_i <= cand_p AND cand_p <= next_i
                       THEN substr(prev, 1, 2) || chron_in
                   WHEN prev_i <= cand_n AND cand_n <= next_i
                       THEN substr(next, 1, 2) || chron_in
                   ELSE CAST(
                       CASE
                           WHEN abs((prev_i + next_i)/2.0 - ((p2-1)*100 + yi))
                                <= abs((prev_i + next_i)/2.0 - (p2*100 + yi))
                            AND abs((prev_i + next_i)/2.0 - ((p2-1)*100 + yi))
                                <= abs((prev_i + next_i)/2.0 - ((p2+1)*100 + yi))
                               THEN p2 - 1
                           WHEN abs((prev_i + next_i)/2.0 - (p2*100 + yi))
                                <= abs((prev_i + next_i)/2.0 - ((p2+1)*100 + yi))
                               THEN p2
                           ELSE p2 + 1
                       END AS VARCHAR) || chron_in
               END
           WHEN next IS NOT NULL THEN
               CAST(CASE WHEN yi > nd THEN next_i - nd - 100 + yi
                         ELSE next_i - nd + yi END AS VARCHAR)
           WHEN prev IS NOT NULL THEN
               CAST(CASE WHEN pdg > yi THEN prev_i - pdg + 100 + yi
                         ELSE prev_i - pdg + yi END AS VARCHAR)
           ELSE chron_in
       END AS chron_i,
       CASE WHEN length(chron_in) < 4 AND prev IS NULL AND next IS NULL
            THEN 'Err: Problem interpreting Chron I' ELSE '' END AS note
FROM calc
"""


QUERIES = {
    "desc_extract": (q_desc_extract, SQL_DESC_EXTRACT),
    "nomatch_count": (q_nomatch_count, SQL_NOMATCH_COUNT),
    "row_count": (q_row_count, SQL_ROW_COUNT),
    "project_columns": (q_project_columns, SQL_PROJECT_COLUMNS),
    "numeric_guard": (q_numeric_guard, SQL_NUMERIC_GUARD),
    "strip_guard_quote": (q_strip_guard_quote, SQL_STRIP_GUARD_QUOTE),
    "ensure_columns": (q_ensure_columns, SQL_ENSURE_COLUMNS),
    "dependent_columns": (q_dependent_columns, SQL_DEPENDENT_COLUMNS),
    "fill_blank_default": (q_fill_blank_default, SQL_FILL_BLANK_DEFAULT),
    "overwrite_constant": (q_overwrite_constant, SQL_OVERWRITE_CONSTANT),
    "code_lookup": (q_code_lookup, SQL_CODE_LOOKUP),
    "code_validate": (q_code_validate, SQL_CODE_VALIDATE),
    "dim_join_broadcast": (q_dim_join_broadcast, SQL_DIM_JOIN_BROADCAST),
    "enrich_fetch": (q_enrich_fetch, SQL_ENRICH_FETCH),
    "rest_fetch_source": (q_rest_fetch_source, SQL_REST_FETCH_SOURCE),
    "rest_push_sink": (q_rest_push_sink, SQL_REST_PUSH_SINK),
    "field_merge": (q_field_merge, SQL_FIELD_MERGE),
    "error_route": (q_error_route, SQL_ERROR_ROUTE),
    "flag_missing_barcode": (q_flag_missing_barcode, SQL_FLAG_MISSING_BARCODE),
    "flag_i_barcode": (q_flag_i_barcode, SQL_FLAG_I_BARCODE),
    "notes_append": (q_notes_append, SQL_NOTES_APPEND),
    "month_normalize": (q_month_normalize, SQL_MONTH_NORMALIZE),
    "natural_sort": (q_natural_sort, SQL_NATURAL_SORT),
    "year_impute": (q_year_impute, SQL_YEAR_IMPUTE),
    "year_impute_window": (q_year_impute_window, SQL_YEAR_IMPUTE),
}
