"""Structured Streaming jobs over the events stream.

The reference is pure batch; its closest analog is the update stage's
record-at-a-time loop (BatchUpdate.py:463-563), which maps naturally
to ``foreachBatch``. The engine exposes the standard streaming surface
on top of the same expression trees as the batch operators:

- ``tumbling_counts``: watermarked 1-hour tumbling windows — identical
  aggregation expressions to queries.relational.q_window_tumble, so
  stream and batch results are comparable (tested with availableNow).
- ``sessionize_stateful``: per-user session assembly via
  ``applyInPandasWithState`` — the custom-stateful-operator template
  (timeout-driven state eviction, Arrow-batched).
- ``foreach_batch_push``: the streaming flavor of the REST push sink.

At scale: the file source becomes Kafka; watermark bounds state, and
shuffle partitioning is per window/user key exactly as in batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..metadata import file_fingerprint, memo_get
from ..session import env_int


# Session-scoped schema memo (r14 — the table_format._path_relation
# precedent, guide §6): the stream reader probes the source schema via
# a batch footer read on EVERY call (~80-100 ms of relation resolution
# per bench rep). Schema is METADATA, keyed by the resolved files'
# (path, mtime_ns, size) so a rewritten source misses; in-process and
# bounded (metadata.memo_get).
_SCHEMA_MEMO: dict = {}


def _probe_events_schema(spark: SparkSession, events_dir: str):
    try:
        fkey = file_fingerprint(
            sorted(
                os.path.realpath(os.path.join(events_dir, f))
                for f in os.listdir(events_dir)
                if f.endswith(".parquet")
            )
        )
    except OSError:
        return spark.read.parquet(events_dir).schema
    return memo_get(
        _SCHEMA_MEMO,
        (spark.sparkContext.applicationId, fkey),
        lambda: spark.read.parquet(events_dir).schema,
    )


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream of events parquet.

    The stream schema is probed from the files themselves (one cheap
    footer read via the batch reader) rather than hardcoded — the lake
    has carried both ns-as-long and µs-NTZ encodings of ``ts``, and a
    pinned schema silently corrupts timestamps when the encoding
    changes. Normalization is shared with the batch loader
    (session.normalize_events_ts): one conversion, both paths.
    """
    from journal_batch_processer_spark.session import normalize_events_ts

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001
        pass
    try:
        # date_format / window rendering downstream is session-tz
        # dependent; a driver-supplied non-UTC session would silently
        # shift every rendered timestamp against the oracle (same pin
        # as the batch loader, session.load_events)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # noqa: BLE001
        pass
    schema = _probe_events_schema(spark, events_dir)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    return normalize_events_ts(raw)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    start_col: str = "hour_start",
) -> DataFrame:
    """Watermarked windowed counts per event type — tumbling when
    ``slide`` is None, sliding (hopping) otherwise. Late rows beyond
    the watermark are dropped; state is bounded per open window."""
    dv = F.col("value").cast("decimal(18,6)")
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(dv).cast("double").alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(start_col),
            "event_type",
            "n",
            "sum_value",
        )
    )


def tumbling_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling 1-hour counts per event type."""
    return windowed_counts(events, "1 hour", None, watermark)


SESSION_STATE_SCHEMA = "last_ts long, n_events long"
SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_end long, n_events long"
)


def sessionize_stateful(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Custom stateful operator: emit a session row when a user's gap
    exceeds ``gap_seconds`` (applyInPandasWithState).

    Timeouts are EVENT-time (watermark-driven), not processing-time:
    a session closes when the watermark passes ``last_ts + gap`` —
    deterministic and replayable (the same input always yields the
    same sessions, independent of wall clock), and a bounded
    availableNow drain terminates instead of idling until wall-clock
    timers fire (processing-time timers kept the micro-batch engine
    alive for the full 30-minute gap after input drained).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        user_id = key[0]
        if state.hasTimedOut:
            last_ts, n = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user_id], "session_end": [last_ts], "n_events": [n]}
            )
            return
        last_ts, n = state.get if state.exists else (0, 0)
        out = []
        # sort across ALL Arrow chunks — a heavy user's batch arrives
        # as several pdfs, and per-chunk sorting would interleave time.
        # Vectorized ns→s conversion: the per-element .timestamp()
        # Python call was the per-group hot spot at 100× (150k groups).
        all_ts: list[int] = []
        for pdf in pdfs:
            ts_ns = pd.to_datetime(pdf["ts"]).astype("int64")
            all_ts.extend((ts_ns // 1_000_000_000).tolist())
        all_ts.sort()
        for ts in all_ts:
            if last_ts and ts - last_ts > gap_seconds:
                out.append((user_id, last_ts, n))
                n = 0
            last_ts, n = ts, n + 1
        state.update((last_ts, n))
        # event-time timer must sit above the current watermark
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
            max((last_ts + gap_seconds) * 1000, wm_ms + 1)
        )
        if out:  # an empty per-group DataFrame is pure overhead
            yield pd.DataFrame(
                out, columns=["user_id", "session_end", "n_events"]
            )

    return (
        events.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def foreach_batch_push(
    items: DataFrame,
    checkpoint_dir: str,
    collector: list | None = None,
) -> "StreamingQuery":  # noqa: F821 - pyspark.sql.streaming type
    """Streaming flavor of the REST push sink: each micro-batch runs
    the same simulate_push routing as the batch update stage, then
    hands the success side to the (simulated) PUT writer and keeps the
    error side for the error route.

    ``foreachBatch`` is the right shape because the push is an
    external side effect with its own idempotence story: the batch_id
    is the replay key (a restarted query re-delivers the same batch_id
    with the same rows, so a sink that records batch_id achieves
    exactly-once). ``collector``, when given, receives
    ``(batch_id, n_success, n_error)`` per batch — the test/metrics
    hook; production swaps http_push_foreach_partition into the body.
    """
    from journal_batch_processer_spark.sinks.rest_push import simulate_push

    def process(batch_df: DataFrame, batch_id: int) -> None:
        routed = simulate_push(batch_df)
        n_ok = routed.good.count()
        n_err = routed.error.count()
        if collector is not None:
            collector.append((batch_id, n_ok, n_err))

    return (
        items.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> list:
    """Drain the stream with availableNow into an in-memory sink and
    return the collected rows (test/bench harness)."""
    # bounded wait: stateful queries with processing-time timeouts can
    # otherwise idle past the drained input; the bound is env-tunable
    # because a 100× availableNow drain legitimately needs minutes
    timeout = env_int("SPARK_GRAFT_STREAM_DRAIN_TIMEOUT", 180)
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=timeout)
    if q.isActive:
        q.stop()
        raise TimeoutError(
            f"stream {query_name!r} did not drain within {timeout}s; "
            "refusing to return a partially-filled sink"
        )
    spark = stream_df.sparkSession
    return spark.sql(f"SELECT * FROM {query_name}").collect()


def _latest_snapshot_version(root: str) -> int:
    import os

    if not os.path.isdir(root):
        return -1
    vs = [
        int(d[1:])
        for d in os.listdir(root)
        if d.startswith("v") and d[1:].isdigit()
    ]
    return max(vs, default=-1)


def merge_snapshot_batch(batch_df: DataFrame, snap_root: str) -> None:
    """One CDC-apply step: merge a batch of events into the newest
    snapshot version under ``snap_root`` and write the next version.
    Shared by the ``foreachBatch`` sink and the boundary-invariance
    test (so the tested code IS the production merge)."""
    import os

    spark = batch_df.sparkSession
    b = batch_df.select(
        "user_id",
        F.unix_micros("ts").alias("last_ts_us"),
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
        F.lit(1).cast("bigint").alias("n_events"),
    )
    v = _latest_snapshot_version(snap_root)
    if v >= 0:
        cur = spark.read.parquet(os.path.join(snap_root, f"v{v}"))
        b = b.unionByName(cur)
    merged = (
        b.groupBy("user_id")
        .agg(
            F.max(
                F.struct("last_ts_us", "last_event_id", "last_value")
            ).alias("m"),
            F.sum("n_events").alias("n_events"),
        )
        .select(
            "user_id",
            "m.last_ts_us",
            "m.last_event_id",
            "m.last_value",
            "n_events",
        )
    )
    merged.write.mode("overwrite").parquet(os.path.join(snap_root, f"v{v + 1}"))


def upsert_snapshot_sink(
    events: DataFrame,
    snap_root: str,
    checkpoint_dir: str,
) -> "StreamingQuery":  # noqa: F821 - pyspark.sql.streaming type
    """CDC-apply via ``foreachBatch``: maintain a last-value-per-key
    snapshot (latest event per user, by (ts, event_id)) merged with
    each micro-batch — the streaming MERGE pattern engines without
    MERGE INTO run everywhere (Kafka topic → keyed materialized view).

    The snapshot is versioned (``snap_root/v{n}``): each batch reads
    the newest version, merges, and writes ``v{n+1}`` — never
    overwriting the directory it is reading (Spark forbids that), and
    a crashed batch leaves the previous version intact, so replay from
    the checkpoint is idempotent (same batch_id → same v{n+1}).

    Determinism: the latest row is chosen by integer struct max over
    (epoch-µs, event_id) — a total order — and counts are additive
    across merges, so the drained snapshot equals the batch
    QUALIFY-row_number oracle regardless of batch boundaries (pinned
    by tests/test_streaming.py's boundary-invariance test, which
    drives this same merge_snapshot_batch over different cuts).
    """

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_snapshot_batch(batch_df, snap_root)

    return (
        events.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_snapshot(spark: SparkSession, snap_root: str) -> DataFrame:
    """Read the newest snapshot version written by
    ``upsert_snapshot_sink`` (fails loud if no version exists — a
    drained stream over non-empty input must have produced one)."""
    import os

    vs = [
        int(d[1:])
        for d in os.listdir(snap_root)
        if d.startswith("v") and d[1:].isdigit()
    ]
    if not vs:
        raise RuntimeError(f"no snapshot versions under {snap_root!r}")
    return spark.read.parquet(os.path.join(snap_root, f"v{max(vs)}"))
