"""Driver-verifiable Structured Streaming queries.

Round 1 covered streaming only through pytest (stream == batch
equality); these registry entries put a REAL streaming execution —
file source → watermarked window aggregate → availableNow drain into
a memory sink — under the driver's DuckDB oracle, so the streaming
path has the same hard correctness signal as every batch operator.

Determinism: the whole fixture drains in one availableNow batch (one
file, maxFilesPerTrigger=1), so the watermark can never drop a row
mid-stream and the complete-mode output equals the batch aggregate —
which is exactly what the oracle SQL computes. At production scale
the same job runs unbounded (Kafka source, update mode) and the
watermark bounds state; the semantics under test are identical.

Reference: the reference engine (BatchUpdate.py) is pure batch; this
is EXT surface mandated by the streaming capability row in SURVEY §2h.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..metadata import scratch_dir
from ..session import env_int


def _stream_dir(sf_dir: str, table: str, prefix: str) -> str:
    """File-source streams list a DIRECTORY; expose the single parquet
    through a stable per-sf symlink dir. lexists + re-point handles a
    stale/broken symlink left by an earlier run against a since-
    removed sf_dir (exists() follows the link and would then let
    os.symlink raise FileExistsError)."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    d = os.path.join(tempfile.gettempdir(), f"{prefix}_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    target = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.lexists(link):
        if not os.path.islink(link) or os.readlink(link) != target:
            os.unlink(link)
            os.symlink(target, link)
    else:
        os.symlink(target, link)
    # The stream oracles (DISTINCT for dedup, final-watermark-only
    # session close) assume the whole fixture drains as ONE file in ONE
    # micro-batch so the watermark stays at 0 while data is in flight.
    # A multi-file source would advance the watermark mid-stream —
    # evicting dedup state (re-emitting keys) and firing session timers
    # early — making output file-arrival-order dependent vs the oracle.
    # Guard the assumption instead of silently mismatching.
    if not os.path.isfile(target):
        raise RuntimeError(
            f"stream source {target!r} is not a single parquet file; the "
            "single-batch determinism the stream oracles rely on no "
            "longer holds — re-derive the oracles for multi-file input"
        )
    extra = [
        f for f in os.listdir(d) if f.endswith(".parquet") and f != f"{table}.parquet"
    ]
    if extra:
        raise RuntimeError(
            f"stream dir {d!r} holds extra parquet entries {extra}; "
            "expected exactly one file-per-batch source"
        )
    return d


def _events_stream_dir(sf_dir: str) -> str:
    return _stream_dir(sf_dir, "events", "jbp_stream_events")


# --- scale-adaptive stateful shuffle sizing (r14, guide §2.2) ---------------
#
# A NEW streaming query fixes its state-store partition count from
# spark.sql.shuffle.partitions at first batch, and AQE cannot coalesce a
# stateful streaming shuffle the way it does batch exchanges. The session
# default (= core count) is a cluster-parallelism constant, not a data-derived
# one: at sf0.1 the 100k-row micro-batch paid 32 state partitions of store
# open/commit/iteration fixed cost per batch INCLUDING the no-data timer
# batch. Interleaved measurement (OPTIMIZATION_r14.md §1, rows in
# plans/r14/stream_partitions_experiment.txt; 3 rounds per count,
# BASELINE.md protocol) at sf0.1:
#
#   stream_tumble  p=32/8/4/2/1  min wall 1.96/1.27/1.30/1.13/1.00 s
#   stream_session p=32/16/8/4/1 min wall 5.28/3.66/4.08/5.45/12.58 s
#
# Two regimes, so two derivations — both from counted input bytes, never a
# local[32] constant (the AQE-coalescing analog the engine already applies to
# batch):
#
# - JVM stateful aggregates (tumble/slide/stats...): stage cost ∝ state-store
#   fixed cost per partition; size partitions to the AQE advisory target
#   (64 MB of input per partition, floor 1). At 100 TB this yields thousands
#   of partitions — the same number a batch AQE coalesce would pick.
# - applyInPandasWithState (session): the stage is Python-CPU-bound, the
#   exact case session.py's 16 KB AQE floor documents — bytes-proportional
#   coalescing must NOT collapse it below the cores that do the work. Floor
#   each task at ~128 KB of input and cap at defaultParallelism: at sf0.1
#   min(32, 2 MB/128 KB) = 16 (the measured optimum); at 100× the formula
#   returns defaultParallelism (today's behavior); at 100 TB the byte term
#   saturates the cap, i.e. every core busy.
#
# SPARK_GRAFT_STREAM_STATE_PARTS pins the count for sweeps/AB runs.
_STATE_ADVISORY_BYTES = 64 * 1024 * 1024
_PY_STATE_TASK_BYTES = 128 * 1024


def _stateful_shuffle_partitions(
    spark: SparkSession, src_path: str, python_stateful: bool
) -> int:
    override = env_int("SPARK_GRAFT_STREAM_STATE_PARTS")
    if override:
        return override
    try:
        size = os.path.getsize(src_path)
    except OSError:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    if python_stateful:
        cores = spark.sparkContext.defaultParallelism
        return max(1, min(cores, -(-size // _PY_STATE_TASK_BYTES)))
    return max(1, -(-size // _STATE_ADVISORY_BYTES))


def _await_drain(q, name: str, timeout: int | None = None) -> None:
    """Fail-LOUD drain wait (a partial sink/snapshot would be silently
    wrong) — the one copy of the protocol every streaming key uses.

    The bound scales with the corpus: 180 s catches a hung drain fast
    at test SFs, but a 100× availableNow drain legitimately needs
    minutes — SPARK_GRAFT_STREAM_DRAIN_TIMEOUT overrides (sweeps set
    it; the fail-loud semantics are unchanged, only the bound)."""
    if timeout is None:
        timeout = env_int("SPARK_GRAFT_STREAM_DRAIN_TIMEOUT", 180)
    q.awaitTermination(timeout=timeout)
    if q.isActive:  # pragma: no cover - defensive against a hung drain
        q.stop()
        raise TimeoutError(
            f"stream {name!r} did not drain within {timeout}s; a partial "
            "sink would be silently wrong — failing loud instead"
        )


def _drain_to_memory(spark, stream, name: str, output_mode: str,
                     state_parts: int | None = None):
    """Shared memory-sink drain: start, availableNow-drain via
    _await_drain, return the sink table.

    ``state_parts`` (from _stateful_shuffle_partitions) scopes a
    shuffle-partition override to this query: set before start, restored
    after the drain completes — the stream's cloned session captures the
    value at start, and restoring only after _await_drain keeps the
    batch-0 planning race closed."""
    prev = None
    if state_parts is not None:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_parts))
    try:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(q, name)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def q_stream_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling counts, executed as a genuine
    Structured Streaming job and drained with availableNow into a
    memory sink; returns the sink table. Oracle = the batch tumble
    SQL (complete-mode output over fully-drained input is the batch
    aggregate by definition)."""
    from journal_batch_processer_spark.streaming.jobs import (
        read_events_stream,
        tumbling_counts,
    )

    name = "jbp_stream_tumble_mem"
    d = _events_stream_dir(sf_dir)
    stream = tumbling_counts(read_events_stream(spark, d))
    return _drain_to_memory(
        spark,
        stream,
        name,
        "complete",
        state_parts=_stateful_shuffle_partitions(
            spark, os.path.join(d, "events.parquet"), python_stateful=False
        ),
    )


SQL_STREAM_TUMBLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup: dropDuplicates on the content hash
    over a documents file stream, drained with availableNow. The
    surviving KEY SET is deterministic (which full row wins is not, so
    only the hash column is emitted), giving the streaming dedup state
    store a full value oracle: DISTINCT md5(text). At production scale
    the same query runs watermarked (dropDuplicatesWithinWatermark)
    to bound state."""
    d = _stream_dir(sf_dir, "documents", "jbp_stream_docs")

    from pyspark.sql import functions as F

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    stream = (
        spark.readStream.schema(schema)
        .parquet(d)
        .select(F.md5("text").alias("content_hash"))
        .dropDuplicates(["content_hash"])
    )
    name = "jbp_stream_dedup_mem"
    return _drain_to_memory(spark, stream, name, "append")


SQL_STREAM_DEDUP = "SELECT DISTINCT md5(text) AS content_hash FROM documents"


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM STATEFUL streaming operator under a full value
    oracle: per-user sessionization via ``applyInPandasWithState``
    with event-time (watermark) timeouts, drained with availableNow.

    Deterministic because every state transition is event-time-driven:
    a session row is emitted either (a) in-data, when a user's
    consecutive gap exceeds 30 min, or (b) by a watermark timer, when
    the final watermark (max event time − 2 h) passes the session's
    last_ts + 30 min — availableNow runs one closing no-data batch
    that fires exactly those timers. Both rules are closed-form over
    the input, so DuckDB recomputes the identical row set: all
    non-final sessions per user, plus final sessions strictly older
    than the watermark minus the gap. Verified exact (943/943 rows at
    sf0.001) — the state store, timer wiring, and Arrow state codec
    are all inside the checked loop."""
    from journal_batch_processer_spark.streaming.jobs import (
        read_events_stream,
        sessionize_stateful,
    )

    name = "jbp_stream_session_mem"
    d = _events_stream_dir(sf_dir)
    stream = sessionize_stateful(read_events_stream(spark, d))
    return _drain_to_memory(
        spark,
        stream,
        name,
        "append",
        state_parts=_stateful_shuffle_partitions(
            spark, os.path.join(d, "events.parquet"), python_stateful=True
        ),
    )


# Mirrors the operator's two emission rules. ts is truncated to whole
# seconds exactly as the operator's int(t.timestamp()); the watermark
# comparison stays in ms ((end+gap)*1000 < max_ms − delay_ms, strict),
# matching Spark's timeoutTimestamp < eventTimeWatermark check.
SQL_STREAM_SESSION = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, ts FROM events
),
mx AS (SELECT max(epoch_ms(ts)) AS max_ms FROM e),
seq AS (
  SELECT user_id, ts_s,
         lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s) AS prev_ts
  FROM e
),
marked AS (
  SELECT user_id, ts_s,
         CASE WHEN prev_ts IS NULL OR ts_s - prev_ts > 1800
              THEN 1 ELSE 0 END AS is_start
  FROM seq
),
sess AS (
  SELECT user_id, ts_s,
         SUM(is_start) OVER (
             PARTITION BY user_id ORDER BY ts_s
             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
agg AS (
  SELECT user_id, sid, max(ts_s) AS session_end,
         CAST(count(*) AS BIGINT) AS n_events
  FROM sess GROUP BY 1, 2
),
last_sid AS (SELECT user_id, max(sid) AS max_sid FROM agg GROUP BY 1)
SELECT a.user_id, a.session_end, a.n_events
FROM agg a JOIN last_sid l USING (user_id) CROSS JOIN mx
WHERE a.sid < l.max_sid
   OR (a.session_end + 1800) * 1000 < mx.max_ms - 7200000
"""


def q_stream_slide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (2 h window / 1 h hop) watermarked aggregate executed as
    a genuine streaming job, drained with availableNow; complete-mode
    output over fully-drained input equals the batch sliding aggregate
    (= the window_slide oracle)."""
    from journal_batch_processer_spark.streaming.jobs import (
        read_events_stream,
        windowed_counts,
    )

    name = "jbp_stream_slide_mem"
    stream = windowed_counts(
        read_events_stream(spark, _events_stream_dir(sf_dir)),
        window="2 hours",
        slide="1 hour",
        start_col="window_start",
    )
    return _drain_to_memory(spark, stream, name, "complete")


SQL_STREAM_SLIDE = """
WITH x AS (
  SELECT date_trunc('hour', ts) AS wstart, event_type, value FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS wstart, event_type, value
  FROM events
)
SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM x
GROUP BY 1, 2
"""


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched against the
    static customer dimension (broadcast per micro-batch — the
    standard streaming-enrichment shape; the static side is re-read
    per batch, so a dimension update is picked up without restarting
    the query), then a complete-mode aggregate per market segment.
    Fully drained with availableNow, the result equals the batch
    join+group — the oracle."""
    import os as _os

    from pyspark.sql import functions as F

    from journal_batch_processer_spark.streaming.jobs import read_events_stream

    name = "jbp_stream_join_mem"
    customers = F.broadcast(
        spark.read.parquet(_os.path.join(sf_dir, "customer.parquet")).select(
            "c_custkey", "c_mktsegment"
        )
    )
    stream = (
        read_events_stream(spark, _events_stream_dir(sf_dir))
        .join(customers, F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    return _drain_to_memory(spark, stream, name, "complete")


SQL_STREAM_JOIN = """
SELECT c.c_mktsegment, COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""


def q_stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOUNDED-STATE streaming dedup: ``dropDuplicatesWithinWatermark``
    — state for a key is evicted once the watermark passes its event
    time + delay, which is what makes streaming dedup viable on an
    unbounded stream (plain dropDuplicates grows state forever). Over
    the fully-drained bounded fixture the surviving KEY SET equals
    plain distinct — the oracle; only key columns are emitted because
    which full row survives is arrival-order-dependent."""
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.streaming.jobs import read_events_stream

    name = "jbp_stream_dedup_wm_mem"
    stream = (
        read_events_stream(spark, _events_stream_dir(sf_dir))
        .select("user_id", "event_type", "ts")
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _drain_to_memory(spark, stream, name, "append")


SQL_STREAM_DEDUP_WM = """
SELECT DISTINCT user_id, event_type FROM events
"""


def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-apply: ``foreachBatch`` maintains a versioned
    last-value-per-user snapshot merged with every micro-batch (the
    keyed-materialized-view pattern for engines without MERGE INTO —
    see streaming/jobs.upsert_snapshot_sink for the idempotent
    version-swap). Drained availableNow over the full fixture, the
    snapshot equals the batch latest-row-per-key query — the oracle —
    REGARDLESS of batch boundaries, because the latest-row choice is a
    total-order integer struct max and counts are additive."""
    from journal_batch_processer_spark.streaming.jobs import (
        read_events_stream,
        read_snapshot,
        upsert_snapshot_sink,
    )

    snap_root = scratch_dir("jbp_snap_")
    ckpt = scratch_dir("jbp_snap_ckpt_")
    stream = read_events_stream(spark, _events_stream_dir(sf_dir))
    q = upsert_snapshot_sink(stream, snap_root, ckpt)
    _await_drain(q, "stream_upsert")
    return read_snapshot(spark, snap_root)


SQL_STREAM_UPSERT = """
WITH ranked AS (
    SELECT user_id, event_id, value, ts,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n_events
    FROM events
)
SELECT user_id,
       epoch_us(ts) AS last_ts_us,
       event_id AS last_event_id,
       value AS last_value,
       CAST(n_events AS BIGINT) AS n_events
FROM ranked WHERE rn = 1
"""


def q_stream_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unwindowed keyed streaming aggregate: running per-user stats
    (event count, decimal-exact value sum, min/max value) over the
    events stream, complete-mode memory sink, availableNow drain. This
    is the OTHER streaming-state layout — one state row per key
    forever, no window eviction — the shape of live per-entity
    counters; at production scale it runs in update mode with state
    TTL. Fully drained, complete mode equals the batch aggregate,
    which is what the oracle computes."""
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.streaming.jobs import (
        read_events_stream,
    )

    name = "jbp_stream_stats_mem"
    dv = F.col("value").cast("decimal(18,6)")
    stream = (
        read_events_stream(spark, _events_stream_dir(sf_dir))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dv).cast("double").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    return _drain_to_memory(spark, stream, name, "complete")


SQL_STREAM_STATS = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events GROUP BY 1
"""


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events stream joined to the
    STATIC customer dimension (the lookup-table join every live
    pipeline runs — stream-static joins need no watermark and no
    stream-side state; the static side is simply broadcast into each
    micro-batch), then a keyed aggregate per market segment,
    complete-mode drain. Oracle = the batch join + aggregate."""
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.streaming.jobs import (
        read_events_stream,
    )

    name = "jbp_stream_enrich_mem"
    cust = (
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    dv = F.col("value").cast("decimal(18,6)")
    stream = (
        read_events_stream(spark, _events_stream_dir(sf_dir))
        .join(F.broadcast(cust), "user_id")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dv).cast("double").alias("sum_value"),
        )
    )
    return _drain_to_memory(spark, stream, name, "complete")


SQL_STREAM_ENRICH = """
SELECT c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""


def q_stream_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN streaming session windows (session_window +
    watermark — the managed-state counterpart to stream_session's
    hand-rolled applyInPandasWithState sessionizer): 30-minute-gap
    sessions per user over the events stream, complete-mode drain.
    Fully drained single-batch input closes every session at the final
    watermark, so the output equals the batch session_window aggregate
    — the same gaps-and-islands oracle as window_session_native."""
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.streaming.jobs import (
        read_events_stream,
    )

    name = "jbp_stream_session_native_mem"
    stream = (
        read_events_stream(spark, _events_stream_dir(sf_dir))
        .withWatermark("ts", "2 hours")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(
                F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("session_start"),
            F.date_format(
                F.col("w.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("session_end"),
            "n_events",
        )
    )
    return _drain_to_memory(spark, stream, name, "complete")


SQL_STREAM_SESSION_NATIVE = """
WITH marked AS (
    SELECT user_id, ts,
           CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts))
                    >= 1800 * 1000000
                THEN 1 ELSE 0 END AS b
    FROM events),
grp AS (
    SELECT user_id, ts,
           SUM(b) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS g
    FROM marked)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f')
           AS session_end,
       COUNT(*) AS n_events
FROM grp GROUP BY user_id, g
"""


def q_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING source via the Python DataSource API's
    SimpleDataSourceStreamReader — the third leg of the connector
    story (batch read and two-phase-commit write are
    python_datasource / python_datasink). The source hands out one
    deterministic md5-derived batch per offset; the query drains it
    with THREE sequential availableNow runs sharing one checkpoint, so
    offsets persist and advance across restarts: each run consumes
    exactly the next batch, none is skipped, none is re-read. The
    union of the three drains — value-oracled by regenerating the
    stream content in SQL — is therefore an exactly-once proof for
    the custom source's offset/commit protocol.

    (availableNow against a Simple reader captures one prefetched
    batch per run by design — which is precisely what makes the
    restart loop a meaningful offset-tracking test rather than a
    single-drain formality.)"""
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.sources.python_source import (
        TICK_BATCHES,
        TickStreamSource,
        register_once,
    )

    register_once(spark, TickStreamSource)
    root = scratch_dir("jbp_ticks_")
    ckpt, outdir = f"{root}/ckpt", f"{root}/out"
    for run in range(TICK_BATCHES):
        stream = spark.readStream.format("jbp_ticks").load()
        q = (
            stream.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(q, f"jbp_ticks_run{run}")
    # the parquet STREAMING sink is fault-tolerant (its _spark_metadata
    # commit log names exactly the committed files), unlike the memory
    # sink, which refuses checkpoint recovery outright
    out = spark.read.parquet(outdir)
    return out.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
        F.sum("i").alias("i_checksum"),
    )


def _pyss_oracle_sql() -> str:
    from journal_batch_processer_spark.sources.python_source import (
        TICK_BATCHES,
        TICK_PER_BATCH,
    )

    from journal_batch_processer_spark.sources.python_source import (
        HEXPOS_SQL,
    )

    c = [HEXPOS_SQL.format(i=i) for i in range(1, 5)]
    return f"""
WITH g AS (
    SELECT b.batch, q.i,
           md5('tick:' || b.batch || ':' || q.i) AS h
    FROM generate_series(0, {TICK_BATCHES - 1}) b(batch),
         generate_series(0, {TICK_PER_BATCH - 1}) q(i)
),
r AS (
    SELECT CAST(batch AS INTEGER) AS batch, i,
           ({c[0]}) * 4096 + ({c[1]}) * 256
           + ({c[2]}) * 16 + ({c[3]}) AS value
    FROM g
)
SELECT batch, COUNT(*) AS n,
       CAST(SUM(value) AS BIGINT) AS sum_value,
       CAST(SUM(i) AS BIGINT) AS i_checksum
FROM r GROUP BY 1
"""


SQL_PYTHON_STREAM_SOURCE = _pyss_oracle_sql


def q_python_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING SINK via the Python DataSource API's
    DataSourceStreamWriter — the final leg of the connector story
    (batch read/write and the streaming source are covered by
    python_datasource / python_datasink / python_stream_source). The
    deterministic tick source drains through
    ``writeStream.format("avro_py")``: tasks write uuid-named Avro
    containers, each epoch's commit() records them in a
    _commits/<batchId> manifest, and the avro_py BATCH reader lists
    only manifest-committed parts — so an aborted or replayed epoch
    can never leak rows into the read-back (the same exactly-once
    read contract as the parquet sink's _spark_metadata log). The
    read-back aggregate is value-oracled by regenerating the stream
    content in SQL."""
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.sources.avro import make_avro_source
    from journal_batch_processer_spark.sources.python_source import (
        TICK_BATCHES,
        TickStreamSource,
        register_once,
    )

    register_once(spark, TickStreamSource)
    register_once(spark, make_avro_source())
    root = scratch_dir("jbp_avsink_")
    ckpt, outdir = f"{root}/ckpt", f"{root}/out"
    for run in range(TICK_BATCHES):
        stream = spark.readStream.format("jbp_ticks").load()
        q = (
            stream.writeStream.format("avro_py")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(q, f"jbp_avsink_run{run}")
    out = spark.read.format("avro_py").load(outdir)
    return out.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
        F.sum("i").alias("i_checksum"),
    )


# identical stream content, identical aggregate → the same oracle
SQL_PYTHON_STREAM_SINK = _pyss_oracle_sql


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join (the attribution join: each view
    matched to the clicks that follow it within 2 hours) — distinct
    from the stream-static enrichment joins: BOTH sides are unbounded,
    both carry watermarks, and the event-time range condition is what
    lets Spark bound each side's join state (a view can be evicted
    once the click watermark passes its ts + 2 h). Fully drained in
    one availableNow batch, the emitted pair set equals the batch
    range join — the oracle. Timestamps emitted as epoch-µs integers."""
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.streaming.jobs import (
        read_events_stream,
    )

    name = "jbp_stream_stream_join_mem"
    d = _events_stream_dir(sf_dir)
    views = (
        read_events_stream(spark, d)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    clicks = (
        read_events_stream(spark, d)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("interval 2 hours")),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        F.unix_micros("v_ts").alias("view_ts_us"),
        F.unix_micros("c_ts").alias("click_ts_us"),
    )
    return _drain_to_memory(spark, joined, name, "append")


SQL_STREAM_STREAM_JOIN = """
SELECT v.user_id,
       v.event_id AS view_id,
       c.event_id AS click_id,
       epoch_us(v.ts) AS view_ts_us,
       epoch_us(c.ts) AS click_ts_us
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 2 HOUR
"""


QUERIES = {
    "stream_upsert": (q_stream_upsert, SQL_STREAM_UPSERT),
    "stream_stream_join": (q_stream_stream_join, SQL_STREAM_STREAM_JOIN),
    "python_stream_source": (q_python_stream_source, SQL_PYTHON_STREAM_SOURCE),
    "python_stream_sink": (q_python_stream_sink, SQL_PYTHON_STREAM_SINK),
    "stream_stats": (q_stream_stats, SQL_STREAM_STATS),
    "stream_enrich": (q_stream_enrich, SQL_STREAM_ENRICH),
    "stream_session_native": (q_stream_session_native, SQL_STREAM_SESSION_NATIVE),
    "stream_tumble": (q_stream_tumble, SQL_STREAM_TUMBLE),
    "stream_dedup": (q_stream_dedup, SQL_STREAM_DEDUP),
    "stream_dedup_watermarked": (
        q_stream_dedup_watermarked,
        SQL_STREAM_DEDUP_WM,
    ),
    "stream_session": (q_stream_session, SQL_STREAM_SESSION),
    "stream_slide": (q_stream_slide, SQL_STREAM_SLIDE),
    "stream_join": (q_stream_join, SQL_STREAM_JOIN),
}
