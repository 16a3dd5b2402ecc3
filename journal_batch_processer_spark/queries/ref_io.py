"""I/O and full-pipeline queries: CSV scan/sink round-trips, XML
parse/serialize at the REST edge, and the flagship ``pipeline_chain``
(format → split end-to-end with a fully independent arithmetic oracle).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from journal_batch_processer_spark.metadata import (
    fixture_dir,
    fixture_root,
    scratch_dir,
)
from journal_batch_processer_spark.pipeline import format_stage, split_stage
from journal_batch_processer_spark.queries.itemview import (
    BASE_CTE,
    EXPECTED_EXTRACT_SQL,
    MONTHS,
    item_view,
)
from journal_batch_processer_spark.sinks.csv_sink import (
    stage_output_name,
    write_stage_csv,
)
from journal_batch_processer_spark.sources.csv_source import read_items_csv
from journal_batch_processer_spark.sources.xml import (
    ITEM_XML_SCHEMA,
    xml_parse,
    xml_serialize,
)


def _ensure_csv(spark: SparkSession, sf_dir: str) -> str:
    """Materialize lineitem keys as a header CSV at a stable per-sf
    root, rebuilt whenever lineitem.parquet changes — even
    mid-process — instead of serving the previous fixture's bytes."""
    src = os.path.join(sf_dir, "lineitem.parquet")
    root = fixture_root("csv_lineitem", sf_dir)

    def build() -> None:
        li = spark.read.parquet(src).select(
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            F.col("l_returnflag"),
        )
        write_stage_csv(li, root, "f_", "lineitem.csv")

    fixture_dir(root, "lineitem.csv", [src], build)
    return os.path.join(root, stage_output_name("f_", "lineitem.csv"))


def q_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-string CSV scan semantics (split-on-comma fidelity)."""
    path = _ensure_csv(spark, sf_dir)
    return read_items_csv(spark, path)


SQL_CSV_SCAN = """
SELECT CAST(l_orderkey AS VARCHAR) AS l_orderkey,
       CAST(l_linenumber AS VARCHAR) AS l_linenumber,
       l_returnflag
FROM lineitem
"""


def q_csv_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: write through the stage sink, read back, aggregate."""
    path = _ensure_csv(spark, sf_dir)
    back = read_items_csv(spark, path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_orderkey").cast("bigint")).alias("sum_key"),
    )


SQL_CSV_SINK = """
SELECT COUNT(*) AS n_rows, CAST(SUM(l_orderkey) AS BIGINT) AS sum_key FROM lineitem
"""


# ---------------------------------------------------------------------------
# Avro edge (pure-Python DataSource — sources/avro.py)
# ---------------------------------------------------------------------------


def _ensure_avro(spark: SparkSession, sf_dir: str) -> str:
    """Materialize an orders subset as a TWO-PART deflate Avro
    container dir at a stable per-sf root (source-stamped like the CSV
    fixture). ``o_priority`` is written through a genuinely-null union
    branch for every 7th order so the scan exercises both union
    paths."""
    src = os.path.join(sf_dir, "orders.parquet")
    out_dir = fixture_root("avro_orders", sf_dir)
    return fixture_dir(
        out_dir, "orders.avro", [src], lambda: _write_avro(src, out_dir)
    )


def _write_avro(src: str, out_dir: str) -> None:
    import duckdb

    from journal_batch_processer_spark.sources.avro import write_container

    rows = duckdb.sql(
        f"SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, "
        f"CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE t.o_orderpriority END AS o_priority "
        f"FROM read_parquet('{src}') t ORDER BY o_orderkey"
    ).fetchall()
    schema = {
        "type": "record",
        "name": "order",
        "fields": [
            {"name": "o_orderkey", "type": "long"},
            {"name": "o_custkey", "type": "long"},
            {"name": "o_totalprice", "type": "double"},
            {"name": "o_orderstatus", "type": "string"},
            {"name": "o_priority", "type": ["null", "string"]},
        ],
    }
    names = [f["name"] for f in schema["fields"]]
    half = len(rows) // 2
    os.makedirs(out_dir)
    for pi, chunk in enumerate((rows[:half], rows[half:])):
        write_container(
            os.path.join(out_dir, f"part-{pi}.avro"),
            schema,
            (dict(zip(names, r)) for r in chunk),
            codec="deflate",
        )


def _register_avro(spark: SparkSession) -> None:
    from journal_batch_processer_spark.sources.avro import make_avro_source
    from journal_batch_processer_spark.sources.python_source import (
        register_once,
    )

    register_once(spark, make_avro_source())


def q_avro_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro Object Container scan through the pure-Python ``avro_py``
    DataSource (the spark-avro connector jar is absent from this
    distribution — NOTES r05/r06; Spark 4's Python DataSource API
    turns the blocker into a feature). Schema inferred from the
    container metadata; one input partition per file; deflate codec;
    nullable-union column exercised. The codec itself is
    cross-validated against the JAVA Avro reference implementation in
    tests/test_avro.py (both directions)."""
    _register_avro(spark)
    path = _ensure_avro(spark, sf_dir)
    return spark.read.format("avro_py").load(path)


SQL_AVRO_SCAN = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
       CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE t.o_orderpriority END AS o_priority
FROM orders t
"""


def q_avro_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-path round-trip: aggregate per status, write through the
    ``avro_py`` DataSourceWriter (one container per Spark partition
    under the commit protocol), read back through the scan path."""
    import shutil

    _register_avro(spark)
    path = _ensure_avro(spark, sf_dir)
    agg = (
        spark.read.format("avro_py")
        .load(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_custkey").alias("sum_cust"),
        )
    )
    out_dir = os.path.join(tempfile.gettempdir(), "jbp_avro_sink")
    shutil.rmtree(out_dir, ignore_errors=True)
    agg.write.format("avro_py").mode("append").option("path", out_dir).save()
    return spark.read.format("avro_py").load(out_dir)


SQL_AVRO_SINK = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
FROM orders GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# XML edge
# ---------------------------------------------------------------------------


def _xml_col():
    link = F.concat(F.lit("https://api/items/"), F.col("c_custkey").cast("string"))
    return xml_serialize(
        link=link,
        barcode=F.col("c_custkey").cast("string"),
        mat_code=F.lit("ISSBD"),
        mat_desc=F.lit("Bound Issue"),
        pol_code=F.lit("1"),
        pol_desc=F.lit("non-circulating"),
        enum_a=F.concat(F.lit("v."), (F.col("c_custkey") % 40).cast("string")),
        enum_b=F.lit(""),
        chron_i=(F.lit(1980) + F.col("c_custkey") % 40).cast("string"),
        chron_j=F.lit("Jan"),
    )


_SQL_XML_STR = """
'<item link="https://api/items/' || c_custkey || '"><item_data><barcode>'
|| c_custkey || '</barcode><physical_material_type desc="Bound Issue">ISSBD'
|| '</physical_material_type><policy desc="non-circulating">1</policy>'
|| '<enumeration_a>v.' || (c_custkey % 40) || '</enumeration_a>'
|| '<enumeration_b></enumeration_b>'
|| '<chronology_i>' || (1980 + c_custkey % 40) || '</chronology_i>'
|| '<chronology_j>Jan</chronology_j></item_data></item>'
"""


def q_xml_serialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return cust.select("c_custkey", _xml_col().alias("xml"))


SQL_XML_SERIALIZE = f"""
SELECT c_custkey, {_SQL_XML_STR} AS xml FROM customer
"""


def q_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    parsed = cust.select(
        "c_custkey", xml_parse(_xml_col()).alias("item")
    )
    return parsed.select(
        "c_custkey",
        F.col("item._link").alias("link"),
        F.col("item.item_data.barcode").alias("barcode"),
        F.col("item.item_data.physical_material_type._VALUE").alias("mat_code"),
        F.col("item.item_data.physical_material_type._desc").alias("mat_desc"),
        F.col("item.item_data.chronology_i").alias("chron_i"),
    )


SQL_XML_PARSE = """
SELECT c_custkey,
       'https://api/items/' || c_custkey AS link,
       CAST(c_custkey AS VARCHAR) AS barcode,
       'ISSBD' AS mat_code,
       'Bound Issue' AS mat_desc,
       CAST(1980 + c_custkey % 40 AS VARCHAR) AS chron_i
FROM customer
"""


# ---------------------------------------------------------------------------
# pipeline_chain: format → split end-to-end over the item view
# ---------------------------------------------------------------------------


def q_pipeline_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = item_view(spark, sf_dir).drop("g", "k", "o_orderkey")
    out = split_stage(format_stage(iv))
    return out.select(
        F.col("MMS ID").alias("mms_id"),
        F.col("Barcode").alias("barcode"),
        F.col("title"),
        F.col("Material Type").alias("material_type"),
        F.col("Item Policy").alias("item_policy"),
        F.col("Description").alias("description"),
        F.col("Enum A").alias("enum_a"),
        F.col("Enum B").alias("enum_b"),
        F.col("Chron I").alias("chron_i"),
        F.col("Chron J").alias("chron_j"),
        F.col("Pattern").alias("pattern"),
        F.col("Notes").alias("notes"),
    )


# canonicalization of the 12 generated month spellings (verified
# against the sequential-regexp reference semantics in tests)
_MONTH_NORM = {
    "Jan": "Jan", "february": "Feb", "MAR": "Mar", "Apr": "Apr", "may": "May",
    "JUNE": "Jun", "Jul": "Jul", "aug": "Aug", "Sept": "Sep", "Oct": "Oct",
    "nov": "Nov", "Dec": "Dec",
}


def _norm_case(col: str, strict: bool = False) -> str:
    """strict=True reproduces the reference's November bug: the rule at
    BatchUpdate.py:322 substitutes '\"' instead of 'Nov'."""
    branches = " ".join(
        f"WHEN '{m}' THEN "
        + ("'\"'" if strict and _MONTH_NORM[m] == "Nov" else f"'{_MONTH_NORM[m]}'")
        for m in MONTHS
    )
    return f"CASE {col} {branches} END"


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

# chron-imputation model (r06, replaces the adjudicated r05 oracle
# idealization that stated the GENERATOR's true year): the oracle now
# models the ALGORITHM — the reference's year repair
# (BatchUpdate.py:327-413) over the pipeline's natural-sort order
# within each MMS ID group — exactly as the year_impute key's oracle
# does (which is green at every scale). Anchors are the original
# 4-digit leading-digit runs (styles 0-4: y4; style 2's '1990-1991'
# leads with y4; style 5 '' has none; style 6's 2-digit y2 is the
# repair target); the window model equals the propagating exact pass
# on this fixture because styles cycle mod 7, so ≥4 original anchors
# separate any two style-6 rows within a group — a repaired row is
# never the nearest anchor.
_CHRON_MODEL_CTE = f"""
srt AS (
    SELECT o_orderkey, g, style,
           CASE WHEN style = 3 THEN 2 ELSE 0 END AS pre_vol,
           CASE WHEN style = 5 THEN 0 ELSE vol END AS vol_num,
           {_DESC_SQL} AS description,
           -- anchors are EXACTLY-4-digit leading runs (the reference's
           -- rule): a 5-digit year (possible only outside the fixture
           -- generator's y4 <= 9999 domain) is never an anchor
           CASE WHEN style IN (5, 6) OR y4 > 9999 THEN NULL
                ELSE CAST(y4 AS VARCHAR) END AS anchor,
           substr(CAST(y4 AS VARCHAR), 3, 2) AS y2
    FROM iv
),
anch AS (
    SELECT o_orderkey, style, y2,
           last_value(anchor IGNORE NULLS)
               OVER (PARTITION BY g ORDER BY pre_vol, vol_num, description
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev,
           first_value(anchor IGNORE NULLS)
               OVER (PARTITION BY g ORDER BY pre_vol, vol_num, description
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next
    FROM srt
),
ccalc AS (
    SELECT o_orderkey, style, y2, prev, next,
           CAST(y2 AS INT) AS yi,
           CAST(prev AS INT) AS prev_i, CAST(next AS INT) AS next_i,
           CAST(substr(prev, 1, 2) || y2 AS INT) AS cand_p,
           CAST(substr(next, 1, 2) || y2 AS INT) AS cand_n,
           CAST(substr(prev, 1, 2) AS INT) AS p2,
           CAST(substr(next, 3, 2) AS INT) AS nd,
           CAST(substr(prev, 3, 2) AS INT) AS pdg
    FROM anch
),
cfix AS (
    SELECT o_orderkey,
        CASE
            WHEN style <> 6 THEN NULL
            WHEN prev IS NOT NULL AND next IS NOT NULL THEN
                CASE
                    WHEN prev_i <= cand_p AND cand_p <= next_i
                        THEN substr(prev, 1, 2) || y2
                    WHEN prev_i <= cand_n AND cand_n <= next_i
                        THEN substr(next, 1, 2) || y2
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
                        END AS VARCHAR) || y2
                END
            WHEN next IS NOT NULL THEN
                CAST(CASE WHEN yi > nd THEN next_i - nd - 100 + yi
                          ELSE next_i - nd + yi END AS VARCHAR)
            WHEN prev IS NOT NULL THEN
                CAST(CASE WHEN pdg > yi THEN prev_i - pdg + 100 + yi
                          ELSE prev_i - pdg + yi END AS VARCHAR)
            ELSE y2
        END AS chron6
    FROM ccalc
)
"""

SQL_PIPELINE_CHAIN = f"""
WITH {BASE_CTE}, {EXPECTED_EXTRACT_SQL}, {_CHRON_MODEL_CTE}
SELECT
    '''' || CAST(9000000000000 + iv.g AS VARCHAR) AS mms_id,
    '''' || CAST(iv.o_orderkey AS VARCHAR) AS barcode,
    'Journal ' || iv.g AS title,
    'Bound Issue' AS material_type,
    'non-circulating' AS item_policy,
    {_DESC_SQL} AS description,
    e.enum_a, e.enum_b,
    CASE WHEN iv.style = 6 THEN cf.chron6 ELSE e.chron_i END AS chron_i,
    CASE iv.style
        WHEN 0 THEN {_norm_case('mon1')} || ' '
        WHEN 1 THEN {_norm_case('mon1')}
        WHEN 2 THEN {_norm_case('mon1')} || '-' || {_norm_case('mon2')}
        WHEN 3 THEN {_norm_case('mon1')} || ' '
        WHEN 4 THEN ''
        WHEN 5 THEN ''
        ELSE {_norm_case('mon1')} || ' '
    END AS chron_j,
    e.pattern,
    '' AS notes
FROM iv
JOIN expected e ON iv.o_orderkey = e.o_orderkey
JOIN cfix cf ON iv.o_orderkey = cf.o_orderkey
"""


def q_pipeline_chain_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline_chain under ``strict_reference_mode=True`` — bit-parity
    with the reference's ACTUAL (buggy) behavior (VERDICT r04 #8).

    Of the three latent reference bugs the mode reproduces, exactly one
    is observable in this view: the November rule substitutes ``\"``
    instead of ``Nov`` (BatchUpdate.py:322), so every chron_j that
    canonicalizes a 'nov' spelling carries the bug bit-for-bit. The
    code-table-scoped fill quirk (:231,:258) is a no-op here because
    the default contract's add-tier defaults (Material Type, Item
    Policy) ARE code-table columns, and the unstripped suc_/err_
    filename prefixes live at the CSV sink, not in this DataFrame
    (both covered by tests/test_golden_pipeline.py goldens)."""
    iv = item_view(spark, sf_dir).drop("g", "k", "o_orderkey")
    out = split_stage(format_stage(iv), strict_reference_mode=True)
    return out.select(
        F.col("MMS ID").alias("mms_id"),
        F.col("Barcode").alias("barcode"),
        F.col("title"),
        F.col("Material Type").alias("material_type"),
        F.col("Item Policy").alias("item_policy"),
        F.col("Description").alias("description"),
        F.col("Enum A").alias("enum_a"),
        F.col("Enum B").alias("enum_b"),
        F.col("Chron I").alias("chron_i"),
        F.col("Chron J").alias("chron_j"),
        F.col("Pattern").alias("pattern"),
        F.col("Notes").alias("notes"),
    )


SQL_PIPELINE_CHAIN_STRICT = f"""
WITH {BASE_CTE}, {EXPECTED_EXTRACT_SQL}, {_CHRON_MODEL_CTE}
SELECT
    '''' || CAST(9000000000000 + iv.g AS VARCHAR) AS mms_id,
    '''' || CAST(iv.o_orderkey AS VARCHAR) AS barcode,
    'Journal ' || iv.g AS title,
    'Bound Issue' AS material_type,
    'non-circulating' AS item_policy,
    {_DESC_SQL} AS description,
    e.enum_a, e.enum_b,
    CASE WHEN iv.style = 6 THEN cf.chron6 ELSE e.chron_i END AS chron_i,
    CASE iv.style
        WHEN 0 THEN {_norm_case('mon1', strict=True)} || ' '
        WHEN 1 THEN {_norm_case('mon1', strict=True)}
        WHEN 2 THEN {_norm_case('mon1', strict=True)} || '-' || {_norm_case('mon2', strict=True)}
        WHEN 3 THEN {_norm_case('mon1', strict=True)} || ' '
        WHEN 4 THEN ''
        WHEN 5 THEN ''
        ELSE {_norm_case('mon1', strict=True)} || ' '
    END AS chron_j,
    e.pattern,
    '' AS notes
FROM iv
JOIN expected e ON iv.o_orderkey = e.o_orderkey
JOIN cfix cf ON iv.o_orderkey = cf.o_orderkey
"""


# ---------------------------------------------------------------------------
# pipeline_update: the update stage end-to-end (route → enrich → push)
# ---------------------------------------------------------------------------


def q_pipeline_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    from journal_batch_processer_spark.pipeline import update_stage

    split_out = q_pipeline_chain(spark, sf_dir)
    items = split_out.select(
        F.col("mms_id").alias("MMS ID"),
        F.col("barcode").alias("Barcode"),
        F.col("title"),
        F.col("material_type").alias("Material Type"),
        F.col("item_policy").alias("Item Policy"),
        F.col("description").alias("Description"),
        F.col("enum_a").alias("Enum A"),
        F.col("enum_b").alias("Enum B"),
        F.col("chron_i").alias("Chron I"),
        F.col("chron_j").alias("Chron J"),
        F.col("pattern").alias("Pattern"),
        F.col("notes").alias("Notes"),
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    remote = orders.select(
        F.col("o_orderkey").cast("string").alias("barcode"),
        F.concat(F.lit("https://api/items/"), F.col("o_orderkey").cast("string")).alias(
            "update_url"
        ),
        F.when(F.col("o_orderkey") % 211 == 0, F.lit(503))
        .otherwise(F.lit(200)).alias("http_status"),
        F.when(F.col("o_orderkey") % 223 == 0, F.lit(500))
        .otherwise(F.lit(200)).alias("put_status"),
    )
    res = update_stage(items, remote)
    good = res.success.select(
        F.col("Barcode").alias("barcode"),
        F.col("Pattern").alias("pattern"),
        F.col("Notes").alias("notes"),
        F.lit("success").alias("side"),
    )
    bad = res.error.select(
        F.col("Barcode").alias("barcode"),
        F.col("Pattern").alias("pattern"),
        F.col("Notes").alias("notes"),
        F.lit("error").alias("side"),
    )
    return good.unionByName(bad)


SQL_PIPELINE_UPDATE = f"""
WITH {BASE_CTE}, {EXPECTED_EXTRACT_SQL}
SELECT
    '''' || CAST(iv.o_orderkey AS VARCHAR) AS barcode,
    e.pattern,
    CASE
        WHEN e.pattern = 'N/A' THEN ''
        WHEN iv.o_orderkey % 211 = 0
            THEN 'Err: Problem fetching item information. Code 503'
        WHEN iv.o_orderkey % 223 = 0
            THEN 'Err: #Problem with Networking request. Code 500'
        ELSE ''
    END AS notes,
    CASE
        WHEN e.pattern = 'N/A' OR iv.o_orderkey % 211 = 0
             OR iv.o_orderkey % 223 = 0
            THEN 'error' ELSE 'success'
    END AS side
FROM iv JOIN expected e ON iv.o_orderkey = e.o_orderkey
"""


def q_runtime_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wall-clock instrumentation analog of the reference's update-
    stage timer (BatchUpdate.py:462,567-568). Values are inherently
    run-dependent → rows-only check."""
    import time

    t0 = time.perf_counter()
    n = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    elapsed = time.perf_counter() - t0
    return spark.createDataFrame(
        [("lineitem_scan_count", float(n)), ("elapsed_sec", round(elapsed, 3))],
        "metric string, value double",
    )


def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PySpark 4 Python DataSource API: a custom connector
    (sources/python_source.ShardedLogSource) declaring 8 shards that
    executors read IN PARALLEL — the sanctioned pure-Python connector
    shape (Kafka partitions / S3 prefixes / DB ranges in real use),
    replacing driver-side materialization or RDD hacks. Rows are a
    pure md5 function of (shard, seq), so the DuckDB oracle
    regenerates the identical stream from generate_series and the
    whole custom-source read path is value-checked."""
    from journal_batch_processer_spark.sources.python_source import (
        ShardedLogSource,
        register_once,
    )

    register_once(spark, ShardedLogSource)
    df = spark.read.format("jbp_shardlog").load()
    return df.groupBy("level").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("latency_us").alias("sum_latency_us"),
        F.min("latency_us").alias("min_latency_us"),
        F.max("latency_us").alias("max_latency_us"),
        F.countDistinct("shard").alias("n_shards"),
    )


def _pyds_oracle_sql() -> str:
    from journal_batch_processer_spark.sources.python_source import (
        HEXPOS_SQL as _HEXPOS,
        LEVELS,
        N_SHARDS,
        ROWS_PER_SHARD,
    )

    lv = ", ".join(f"'{x}'" for x in LEVELS)
    c = [_HEXPOS.format(i=i) for i in range(1, 6)]
    return f"""
WITH g AS (
    SELECT s.shard, q.seq,
           md5('log:' || s.shard || ':' || q.seq) AS h
    FROM generate_series(0, {N_SHARDS - 1}) s(shard),
         generate_series(0, {ROWS_PER_SHARD - 1}) q(seq)
),
r AS (
    SELECT CAST(shard AS INTEGER) AS shard,
           [{lv}][(({c[0]}) % 4) + 1] AS level,
           CAST(({c[1]}) * 4096 + ({c[2]}) * 256
                + ({c[3]}) * 16 + ({c[4]}) AS INTEGER) AS latency_us
    FROM g
)
SELECT level, COUNT(*) AS n,
       CAST(SUM(latency_us) AS BIGINT) AS sum_latency_us,
       MIN(latency_us) AS min_latency_us,
       MAX(latency_us) AS max_latency_us,
       COUNT(DISTINCT shard) AS n_shards
FROM r GROUP BY 1
"""


SQL_PYTHON_DATASOURCE = _pyds_oracle_sql

def q_python_datasink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITER half of the Python DataSource API: events rows pushed
    through a custom two-phase-commit sink (tasks write temp files +
    commit messages; the driver's commit() renames into place and
    writes the _SUCCESS manifest — failed/speculative tasks never
    become visible), then read back and aggregated. The oracle is the
    same aggregate over the source table, so the custom write path is
    value-checked end to end: any dropped/duplicated/mangled row
    hash-fails."""
    import os as _os

    from journal_batch_processer_spark.sources.python_source import (
        ShardedLogSink,
        register_once,
    )
    from journal_batch_processer_spark.session import load_events

    register_once(spark, ShardedLogSink)
    out = scratch_dir("jbp_sink_")
    ev = load_events(spark, sf_dir).select(
        "event_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    ev.repartition(4).write.format("jbp_shardsink").option("path", out).mode(
        "append"
    ).save()
    if not _os.path.exists(_os.path.join(out, "_SUCCESS")):
        raise RuntimeError("custom sink commit did not write _SUCCESS")
    back = spark.read.json(
        _os.path.join(out, "part-*.jsonl"),
        schema="event_id long, event_type string, ts_us long",
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("id_checksum"),
        F.min("ts_us").alias("min_ts_us"),
        F.max("ts_us").alias("max_ts_us"),
    )


SQL_PYTHON_DATASINK = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum,
       MIN(epoch_us(ts)) AS min_ts_us,
       MAX(epoch_us(ts)) AS max_ts_us
FROM events GROUP BY 1
"""


QUERIES = {
    "csv_scan": (q_csv_scan, SQL_CSV_SCAN),
    "csv_sink": (q_csv_sink, SQL_CSV_SINK),
    "avro_scan": (q_avro_scan, SQL_AVRO_SCAN),
    "avro_sink": (q_avro_sink, SQL_AVRO_SINK),
    "xml_serialize": (q_xml_serialize, SQL_XML_SERIALIZE),
    "xml_parse": (q_xml_parse, SQL_XML_PARSE),
    "pipeline_chain": (q_pipeline_chain, SQL_PIPELINE_CHAIN),
    "pipeline_chain_strict": (q_pipeline_chain_strict, SQL_PIPELINE_CHAIN_STRICT),
    "pipeline_update": (q_pipeline_update, SQL_PIPELINE_UPDATE),
    "runtime_metric": (q_runtime_metric, None),
    "python_datasource": (q_python_datasource, SQL_PYTHON_DATASOURCE),
    "python_datasink": (q_python_datasink, SQL_PYTHON_DATASINK),
}
