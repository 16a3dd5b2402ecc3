"""Storage-layout and table-maintenance operators: ORC round-trip,
partitioned writes with partition-pruned reads, CDC-style upsert
merge, and SCD Type-2 dimension builds.

These are the warehouse-side operations a 100 TB corpus store runs
daily: land data in a columnar format, lay it out partitioned so
probes read 1/Nth of the files, apply nightly change batches without
rewriting the snapshot, and keep slowly-changing dimensions versioned.
The reference (BatchUpdate.py) materializes every stage boundary as a
flat CSV (SURVEY §3) — this module is that boundary done Spark-first:
columnar, partitioned, pruned.

All four keys carry FULL DuckDB value oracles. Round-trips are oracled
as the identity aggregate over the source parquet (lossless-format
contract); merge/SCD2 arithmetic is doubling and integer epoch-µs only,
so cross-engine hashes are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from journal_batch_processer_spark.metadata import scratch_dir
from journal_batch_processer_spark.operators.layout import (
    zorder_key,
    zorder_terms_sql,
)
from journal_batch_processer_spark.queries.llmops import _docs
from journal_batch_processer_spark.session import load_events, oracle_sf_dir


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write → read → aggregate (the second columnar format next
    to parquet; some warehouses are ORC-native). The oracle is the
    same aggregate over the source parquet, so any type coercion or
    value mangling through the ORC writer/reader hash-fails. The
    aggregate includes a doc_id checksum so row identity — not just
    counts — survives the round-trip."""
    out = scratch_dir("jbp_orc_")
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
    docs.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("id_checksum"),
    )


SQL_ORC_ROUNDTRIP = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents GROUP BY 1
"""


def q_xml_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's NATIVE XML data source (write + schema'd read — new
    in 4.0; the custom reference-parity XML edge in sources/xml.py
    predates it and models the reference's quirks instead): documents
    round-tripped through .format("xml") and aggregated, with the
    identity aggregate over the source parquet as the oracle — any
    escaping/type mangling through the XML writer/reader hash-fails.
    Complements xml_parse/xml_serialize, which stay on the custom
    expression-level path the reference's semantics require."""
    out = scratch_dir("jbp_xmlnative_")
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
    (
        docs.write.format("xml")
        .option("rootTag", "docs")
        .option("rowTag", "doc")
        .mode("overwrite")
        .save(out)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema("doc_id long, lang string, source string, n_chars long")
        .load(out)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("id_checksum"),
        # the string column must survive the XML escaping round-trip
        # too — distinct count + extrema put it inside the hash check
        F.countDistinct("source").alias("n_sources"),
        F.min("source").alias("min_source"),
        F.max("source").alias("max_source"),
    )


SQL_XML_NATIVE = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       COUNT(DISTINCT source) AS n_sources,
       MIN(source) AS min_source,
       MAX(source) AS max_source
FROM documents GROUP BY 1
"""


def q_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + partition-PRUNED read: documents land
    partitioned by lang (`write.partitionBy`), and the filtered
    re-read must touch only the en/de directories — the layout that
    turns a 100 TB scan into a 2-partition scan. The pruning itself is
    pinned by a plan test (PartitionFilters in the scan node); this
    key value-checks that the pruned read returns exactly the filtered
    source rows."""
    out = scratch_dir("jbp_part_")
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out).filter(F.col("lang").isin("en", "de"))
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("id_checksum"),
    )


SQL_PARTITIONED_PRUNE = """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents
WHERE lang IN ('en', 'de')
GROUP BY 1, 2
"""


def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style MERGE (the nightly upsert a snapshot store without
    MERGE INTO still needs): a change batch — updates doubling `value`
    for event_id % 7 == 0, plus inserts of new keys — is applied to
    the events snapshot via one full outer join with COALESCE
    reconciliation, tagging each row kept/updated/inserted.

    Scale shape: one shuffle on the merge key; at real scale the
    snapshot is written bucketed by key so the nightly merge joins
    co-located (operators/bucketing.py), and the change batch —
    typically ≪ snapshot — broadcasts under AQE. Doubling is exact in
    binary floating point, so the oracle hash is exact."""
    ev = load_events(spark, sf_dir).select("event_id", "value")
    updates = ev.filter(F.col("event_id") % 7 == 0).select(
        "event_id", (F.col("value") * 2).alias("value")
    )
    inserts = ev.filter(F.col("event_id") % 1000 == 0).select(
        (F.col("event_id") + 10_000_000).alias("event_id"), "value"
    )
    batch = updates.unionAll(inserts)
    b = batch.select(
        F.col("event_id").alias("u_event_id"), F.col("value").alias("u_value")
    )
    merged = ev.join(b, ev.event_id == b.u_event_id, "full_outer")
    return merged.select(
        F.coalesce("u_event_id", "event_id").alias("event_id"),
        F.coalesce("u_value", "value").alias("value_final"),
        F.when(F.col("event_id").isNull(), "inserted")
        .when(F.col("u_event_id").isNull(), "kept")
        .otherwise("updated")
        .alias("src"),
    )


SQL_UPSERT_MERGE = """
WITH batch AS (
    SELECT event_id, value * 2 AS value FROM events WHERE event_id % 7 = 0
    UNION ALL
    SELECT event_id + 10000000, value FROM events WHERE event_id % 1000 = 0
)
SELECT COALESCE(b.event_id, e.event_id) AS event_id,
       COALESCE(b.value, e.value) AS value_final,
       CASE WHEN e.event_id IS NULL THEN 'inserted'
            WHEN b.event_id IS NULL THEN 'kept'
            ELSE 'updated' END AS src
FROM events e FULL OUTER JOIN batch b ON e.event_id = b.event_id
"""


def q_scd2_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from a change log: per user, each
    change of `event_type` opens a new version row with
    [valid_from, valid_to) bounds and an is_current flag — the
    versioned-dimension shape every warehouse keeps for
    point-in-time joins.

    Two window passes, both partitioned by user_id (ONE shuffle — the
    second window reuses the partitioning): pass 1 drops rows equal to
    their predecessor (lag), pass 2 numbers the surviving versions and
    closes each with the successor's open time (lead). Ordering
    tie-breaks on event_id so the build is deterministic; bounds are
    epoch-µs integers, so the oracle is exact."""
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = ev.withColumn("prev_type", F.lag("event_type").over(w_all)).filter(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    )
    w_kept = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("valid_from_us"),
        F.lead(F.unix_micros("ts")).over(w_kept).alias("valid_to_us"),
        F.row_number().over(w_kept).alias("version"),
        F.lead(F.unix_micros("ts")).over(w_kept).isNull().alias("is_current"),
    )


SQL_SCD2_DIM = """
WITH chg AS (
    SELECT user_id, event_type, ts, event_id,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_type
    FROM events
),
kept AS (
    SELECT user_id, event_type, ts, event_id FROM chg
    WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, event_type,
       epoch_us(ts) AS valid_from_us,
       LEAD(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
       ) AS valid_to_us,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts, event_id
       ) AS INTEGER) AS version,
       LEAD(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
       ) IS NULL AS is_current
FROM kept
"""


def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over the two dimensions events are
    actually probed by — user and hour-of-day: 8+8 bits interleaved
    into a 16-bit Z-value plus the 16-way range bucket the row would
    land in under OPTIMIZE ZORDER BY. The interleave is pure integer
    div/mod arithmetic (identical in both engines — bit-shift
    OPERATORS are not portable), so every Z-value and bucket is
    value-oracled. The actual clustering (repartitionByRange + sort
    within partitions) lives in operators/layout.cluster_by_zorder and
    is pinned by a plan test asserting the range exchange; this key
    checks the math that layout depends on."""
    ev = load_events(spark, sf_dir).select("event_id", "user_id", "ts")
    base = ev.select(
        "event_id",
        (F.col("user_id") % 256).alias("x"),
        F.hour("ts").cast("bigint").alias("y"),
    )
    z = zorder_key("x", "y", bits=8)
    return base.select(
        "event_id", "x", "y", z.alias("zvalue"),
        F.expr(f"({zorder_terms_sql('x', 'y', 8).format(div='div')}) div 4096")
        .alias("zbucket"),
    )


SQL_LAYOUT_ZORDER = f"""
WITH base AS (
    SELECT event_id, user_id % 256 AS x,
           CAST(hour(ts) AS BIGINT) AS y
    FROM events
)
SELECT event_id, x, y,
       CAST({zorder_terms_sql("x", "y", 8).format(div="//")} AS BIGINT)
           AS zvalue,
       CAST(({zorder_terms_sql("x", "y", 8).format(div="//")}) // 4096
           AS BIGINT) AS zbucket
FROM base
"""


COMPACT_TARGET_BYTES = 4096


def q_compact_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (the table-maintenance pass every
    long-lived warehouse needs — thousands of tiny ingest files →
    target-sized rewrites): list the payload directory via the
    binaryFile source, lay files end to end in name order, and cut
    bins at the byte target. A file spanning a boundary starts the
    next bin (whole files only — compaction concatenates, never
    splits), implemented as `start div target` over the running size
    cumsum, exactly the seq_pack integer shape, so the manifest is
    hash-exact.

    Scale shape: the plan runs over file METADATA (one row per file,
    ~millions at 100 TB — window over name order within each table
    partition, not a data scan); the rewrite the manifest drives is
    the data pass. Fixture reuses the binary_ingest payload dir so the
    DuckDB oracle lists the same files via read_blob."""
    import os as _os

    from journal_batch_processer_spark.queries.llmops import (
        _materialize_blobs,
    )

    d = _materialize_blobs(sf_dir)
    files = (
        spark.read.format("binaryFile")
        .load(_os.path.join(d, "*.bin"))
        .select(
            F.regexp_extract("path", r"[^/]+$", 0).alias("fname"),
            F.col("length").alias("n_bytes"),
        )
    )
    w = Window.orderBy("fname").rowsBetween(Window.unboundedPreceding, -1)
    return (
        files.withColumn(
            "start", F.coalesce(F.sum("n_bytes").over(w), F.lit(0))
        )
        .select(
            "fname",
            "n_bytes",
            F.expr(f"start div {COMPACT_TARGET_BYTES}").alias("bin_id"),
        )
    )


def _compact_plan_sql() -> str:
    import os as _os
    import tempfile as _tf

    from journal_batch_processer_spark.queries.llmops import (
        _materialize_blobs,
    )

    sf_dir = oracle_sf_dir()
    tag = _os.path.basename(_os.path.normpath(sf_dir)) or "sf"
    _materialize_blobs(sf_dir)
    return f"""
WITH f AS (
    SELECT regexp_extract(filename, '[^/]+$') AS fname,
           octet_length(content) AS n_bytes
    FROM read_blob('{_tf.gettempdir()}/jbp_blobs_{tag}/*.bin')
),
s AS (
    SELECT fname, n_bytes,
           COALESCE(SUM(n_bytes) OVER (
               ORDER BY fname
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS start
    FROM f
)
SELECT fname, n_bytes,
       CAST(start // {COMPACT_TARGET_BYTES} AS BIGINT) AS bin_id
FROM s
"""


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations (every long-lived lake
    table hits this): generation 1 is written without a column that
    generation 2 adds; `mergeSchema` reads both as ONE table with the
    missing column null-filled for old files. The oracle replays the
    same two generations with DuckDB's union_by_name, so the unified
    schema, null-filling, and values all hash-check. At 100 TB schema
    merging is metadata-only (footers), never a data rewrite — which
    is exactly why additive evolution is the only kind a lake allows."""
    out = scratch_dir("jbp_evo_")
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    gen1 = docs.filter(F.col("doc_id") % 2 == 0)
    gen2 = docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "quality_ppm", (F.col("n_chars") % 1000) * 1000
    )
    gen1.write.mode("overwrite").parquet(f"{out}/g=1")
    gen2.write.mode("overwrite").parquet(f"{out}/g=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/g=1", f"{out}/g=2"
    )
    return back.select("doc_id", "lang", "n_chars", "quality_ppm")


SQL_SCHEMA_EVOLUTION = """
SELECT doc_id, lang, n_chars, CAST(NULL AS BIGINT) AS quality_ppm
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, lang, n_chars, (n_chars % 1000) * 1000 AS quality_ppm
FROM documents WHERE doc_id % 2 = 1
"""


ANON_K = 5


def q_anonymize_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression over quasi-identifiers (the privacy
    gate a training corpus with user-derived records needs): rows are
    grouped by the quasi-identifier tuple (lang, 50-char length band —
    granular enough that suppression BINDS on the fixtures: 27 rows
    in 12 under-k groups drop at sf0.01);
    any row whose group has fewer than k=5 members is SUPPRESSED —
    re-identification needs < k candidates, so those rows can't ship.
    Output keeps the group size as the audit column.

    One aggregate over the quasi-identifier (group cardinality ≪
    rows) broadcast back onto the scan — the corpus_mix plan shape, no
    corpus shuffle. Composes with text_pii_scrub (value-level
    redaction) — this is the ROW-level counterpart."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    docs = docs.withColumn("len_band", F.expr("n_chars div 50"))
    sizes = docs.groupBy("lang", "len_band").agg(
        F.count(F.lit(1)).alias("group_n")
    )
    return (
        docs.join(F.broadcast(sizes), ["lang", "len_band"])
        .filter(F.col("group_n") >= ANON_K)
        .select("doc_id", "lang", "len_band", "group_n")
    )


SQL_ANONYMIZE_K = f"""
WITH b AS (
    SELECT doc_id, lang, n_chars // 50 AS len_band FROM documents
),
s AS (
    SELECT lang, len_band, COUNT(*) AS group_n FROM b GROUP BY 1, 2
)
SELECT b.doc_id, b.lang, CAST(b.len_band AS BIGINT) AS len_band, s.group_n
FROM b JOIN s USING (lang, len_band)
WHERE s.group_n >= {ANON_K}
"""


ANON_L = 5  # minimum distinct sensitive values per published group


def q_anonymize_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-DIVERSITY on top of k-anonymity (the stricter privacy gate):
    a group can satisfy k-anonymity yet still leak — if every member
    shares the same SENSITIVE attribute value, knowing someone is in
    the group reveals it (the homogeneity attack). Each
    quasi-identifier group (lang, 50-char length band) must therefore
    also contain ≥ l = 5 DISTINCT sensitive values (``source`` plays
    the sensitive attribute here); groups failing either bound are
    suppressed — and the l bound BINDS on the fixtures beyond the k
    bound (two k-surviving groups carry only 4 distinct sources: 12
    more rows drop at sf0.01). Output keeps both audit columns
    (group size, distinct sensitive count).

    Plan shape: the same single aggregate over the quasi-identifier
    broadcast back onto the scan as anonymize_k — countDistinct adds a
    partial-distinct inside the aggregate, still no corpus shuffle."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
    docs = docs.withColumn("len_band", F.expr("n_chars div 50"))
    sizes = docs.groupBy("lang", "len_band").agg(
        F.count(F.lit(1)).alias("group_n"),
        F.countDistinct("source").alias("n_sensitive"),
    )
    return (
        docs.join(F.broadcast(sizes), ["lang", "len_band"])
        .filter(
            (F.col("group_n") >= ANON_K) & (F.col("n_sensitive") >= ANON_L)
        )
        .select("doc_id", "lang", "len_band", "group_n", "n_sensitive")
    )


SQL_ANONYMIZE_L = f"""
WITH b AS (
    SELECT doc_id, lang, source, n_chars // 50 AS len_band FROM documents
),
s AS (
    SELECT lang, len_band, COUNT(*) AS group_n,
           COUNT(DISTINCT source) AS n_sensitive
    FROM b GROUP BY 1, 2
)
SELECT b.doc_id, b.lang, CAST(b.len_band AS BIGINT) AS len_band,
       s.group_n, s.n_sensitive
FROM b JOIN s USING (lang, len_band)
WHERE s.group_n >= {ANON_K} AND s.n_sensitive >= {ANON_L}
"""


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint battery (the dbt-test /
    Great-Expectations shape every warehouse runs before publishing):
    each rule is one aggregate expression over a single shared scan —
    NOT one job per rule — so the whole battery costs one pass per
    table however many rules are declared. Emitted as a (rule,
    n_violations, n_checked) summary the orchestrator gates on.

    Rules: not-null, domain membership, uniqueness, referential
    integrity (orders→customer), range, and cross-column consistency
    (documents.n_chars == length(text))."""
    ev = load_events(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("ck")
    )

    def rules_over(df, rules):
        aggs = []
        for rule, bad in rules:
            # when(bad, 1).otherwise(0), not sum(bad.cast): a predicate
            # that is NULL for every row (e.g. all `value` NULL) must
            # count as 0 violations like the oracle's CASE, not sum to
            # NULL and blow up the int() below (ADVICE r05)
            aggs.append(
                F.sum(F.when(bad, F.lit(1)).otherwise(F.lit(0)).cast("bigint"))
                .alias(f"v_{rule}")
            )
        row = df.agg(F.count(F.lit(1)).alias("n"), *aggs)
        return row, [r for r, _ in rules]

    ev_row, ev_rules = rules_over(
        ev,
        [
            ("events_user_id_not_null", F.col("user_id").isNull()),
            (
                "events_type_in_domain",
                ~F.col("event_type").isin(
                    "view", "click", "purchase", "signup", "error"
                ),
            ),
            ("events_value_nonnegative", F.col("value") < 0),
        ],
    )
    doc_row, doc_rules = rules_over(
        docs,
        [
            (
                "docs_nchars_consistent",
                F.col("n_chars") != F.length("text"),
            ),
            ("docs_lang_known", ~F.col("lang").isin("en", "de", "fr", "es", "zh")),
        ],
    )
    # uniqueness + referential integrity need their own (small) aggs
    dup_events = (
        ev.groupBy("event_id")
        .count()
        .filter(F.col("count") > 1)
        .agg(
            F.coalesce(F.sum(F.col("count") - 1), F.lit(0)).alias("v"),
        )
    )
    orphan_orders = (
        orders.join(cust, orders.o_custkey == cust.ck, "left_anti")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    n_ev = ev_row.collect()[0]
    n_doc = doc_row.collect()[0]
    n_orders = orders.count()
    rows = [
        (r, int(n_ev[f"v_{r}"]), int(n_ev["n"])) for r in ev_rules
    ] + [
        (r, int(n_doc[f"v_{r}"]), int(n_doc["n"])) for r in doc_rules
    ]
    rows.append(
        ("events_id_unique", int(dup_events.collect()[0]["v"]), int(n_ev["n"]))
    )
    rows.append(
        (
            "orders_custkey_exists",
            int(orphan_orders.collect()[0]["v"]),
            n_orders,
        )
    )
    return spark.createDataFrame(
        rows, "rule string, n_violations bigint, n_checked bigint"
    )


SQL_DQ_CHECKS = """
SELECT 'events_user_id_not_null' AS rule,
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violations,
       COUNT(*) AS n_checked
FROM events
UNION ALL
SELECT 'events_type_in_domain',
       CAST(SUM(CASE WHEN event_type NOT IN
                ('view','click','purchase','signup','error')
                THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(*)
FROM events
UNION ALL
SELECT 'events_value_nonnegative',
       CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(*)
FROM events
UNION ALL
SELECT 'docs_nchars_consistent',
       CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
            AS BIGINT),
       COUNT(*)
FROM documents
UNION ALL
SELECT 'docs_lang_known',
       CAST(SUM(CASE WHEN lang NOT IN ('en','de','fr','es','zh')
                THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(*)
FROM documents
UNION ALL
SELECT 'events_id_unique',
       CAST(COALESCE((SELECT SUM(c - 1) FROM (
           SELECT COUNT(*) AS c FROM events GROUP BY event_id
           HAVING COUNT(*) > 1)), 0) AS BIGINT),
       (SELECT COUNT(*) FROM events)
UNION ALL
SELECT 'orders_custkey_exists',
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
       (SELECT COUNT(*) FROM orders)
"""


QUERIES = {
    "layout_zorder": (q_layout_zorder, SQL_LAYOUT_ZORDER),
    "dq_checks": (q_dq_checks, SQL_DQ_CHECKS),
    "compact_plan": (q_compact_plan, _compact_plan_sql),
    "schema_evolution": (q_schema_evolution, SQL_SCHEMA_EVOLUTION),
    "anonymize_k": (q_anonymize_k, SQL_ANONYMIZE_K),
    "anonymize_l": (q_anonymize_l, SQL_ANONYMIZE_L),
    "orc_roundtrip": (q_orc_roundtrip, SQL_ORC_ROUNDTRIP),
    "xml_native": (q_xml_native, SQL_XML_NATIVE),
    "partitioned_prune": (q_partitioned_prune, SQL_PARTITIONED_PRUNE),
    "upsert_merge": (q_upsert_merge, SQL_UPSERT_MERGE),
    "scd2_dim": (q_scd2_dim, SQL_SCD2_DIM),
}
