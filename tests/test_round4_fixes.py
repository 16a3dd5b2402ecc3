"""Round-4 regression tests: the defect classes VERDICT.md round 3
diagnosed — physical-encoding assumptions on events.ts, one-sided
cogroup groups, existence-gated fixture caches, and conf-string
parsing — each pinned so they cannot recur.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from journal_batch_processer_spark.metadata import fixture_dir
from journal_batch_processer_spark.queries.llmops import _parse_byte_size
from journal_batch_processer_spark.session import load_events, normalize_events_ts

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# events.ts normalization: every physical encoding → one canonical type
# ---------------------------------------------------------------------------


def test_load_events_canonical_timestamp(spark):
    ev = load_events(spark, SF_DIR)
    assert isinstance(ev.schema["ts"].dataType, TimestampType)
    # unix_micros (the sessionization path) must analyze against it
    ev.select(F.unix_micros("ts")).limit(1).collect()


def test_normalize_events_ts_ntz(spark):
    ntz = spark.sql(
        "SELECT TIMESTAMP_NTZ '2024-01-01 12:00:00' AS ts"
    )
    out = normalize_events_ts(ntz)
    assert isinstance(out.schema["ts"].dataType, TimestampType)
    # session tz is UTC → wall clock preserved under UTC interpretation
    assert F and out.select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("s")
    ).collect()[0].s == "2024-01-01 12:00:00"


def test_normalize_events_ts_ns_long(spark):
    ns = spark.sql("SELECT CAST(1704110400000000000 AS LONG) AS ts")
    out = normalize_events_ts(ns)
    assert isinstance(out.schema["ts"].dataType, TimestampType)
    assert (
        out.select(F.unix_micros("ts").alias("us")).collect()[0].us
        == 1704110400000000
    )


def test_stream_schema_matches_batch(spark):
    """The streaming reader must see the same canonical ts type as the
    batch loader regardless of the fixture's physical encoding."""
    from journal_batch_processer_spark.queries.streaming_q import (
        _events_stream_dir,
    )
    from journal_batch_processer_spark.streaming.jobs import read_events_stream

    stream = read_events_stream(spark, _events_stream_dir(SF_DIR))
    assert isinstance(stream.schema["ts"].dataType, TimestampType)


# ---------------------------------------------------------------------------
# cogroup: keys present on only one side must not crash
# ---------------------------------------------------------------------------


def test_cogroup_conversion_one_sided_keys(spark):
    """Users with clicks-but-no-purchases AND purchases-but-no-clicks
    (guaranteed at real scale; sf0.01 happens to have neither)."""
    from journal_batch_processer_spark.queries.llmops import q_cogroup_conversion

    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10, "click", 1.0, "{}"),
            (2, "2024-01-01 00:00:01", 10, "click", 2.0, "{}"),
            (3, "2024-01-01 00:00:02", 20, "purchase", 5.5, "{}"),
            (4, "2024-01-01 00:00:03", 30, "click", 1.0, "{}"),
            (5, "2024-01-01 00:00:04", 30, "purchase", 7.25, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))

    import tempfile

    d = tempfile.mkdtemp(prefix="jbp_cogroup_onesided_")
    events.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    rows = {
        r.user_id: r for r in q_cogroup_conversion(spark, d).collect()
    }
    assert rows[10].n_clicks == 2 and rows[10].n_purchases == 0
    assert rows[10].spend == 0.0
    assert rows[20].n_clicks == 0 and rows[20].n_purchases == 1
    assert rows[20].spend == 5.5
    assert rows[30].n_clicks == 1 and rows[30].spend == 7.25


# ---------------------------------------------------------------------------
# fixture caches: source fingerprint, not existence
# ---------------------------------------------------------------------------


def test_fixture_cache_invalidates_on_source_change(tmp_path):
    src = tmp_path / "src.parquet"
    src.write_bytes(b"v1-bytes")
    cache = tmp_path / "cache"
    builds = []

    def build():
        cache.mkdir()
        (cache / "copy").write_bytes(src.read_bytes())
        builds.append(1)

    def ensure():
        return fixture_dir(str(cache), "copy-v1", [str(src)], build)

    assert ensure() == str(cache) and len(builds) == 1  # unstamped: built
    ensure()
    assert len(builds) == 1  # stamped: reused

    # regenerate the source (different size ⇒ different fingerprint
    # even if mtime granularity collapses)
    src.write_bytes(b"v2-bytes-longer")
    ensure()
    assert len(builds) == 2
    assert (cache / "copy").read_bytes() == b"v2-bytes-longer"


def test_fixture_cache_missing_source_not_stamped(tmp_path):
    cache = tmp_path / "cache"
    with pytest.raises(FileNotFoundError):
        fixture_dir(str(cache), "k", [str(tmp_path / "nope")], cache.mkdir)
    assert not cache.exists()  # nothing built, so nothing stamped


# ---------------------------------------------------------------------------
# conf parsing
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    ("raw", "expected"),
    [
        ("134217728", 134217728),
        ("134217728b", 134217728),
        ("128m", 128 << 20),
        ("128MB", 128 << 20),
        ("1g", 1 << 30),
        ("512k", 512 << 10),
        ("garbage", 128 << 20),
        ("", 128 << 20),
    ],
)
def test_parse_byte_size(raw, expected):
    assert _parse_byte_size(raw) == expected


# ---------------------------------------------------------------------------
# fail-loud drain contract
# ---------------------------------------------------------------------------


def test_run_available_now_raises_on_hung_drain(spark, monkeypatch):
    """A timed-out drain must raise, never return a partial sink."""
    from journal_batch_processer_spark.streaming import jobs

    class FakeQuery:
        isActive = True

        def awaitTermination(self, timeout=None):
            return False

        def stop(self):
            self.isActive = False  # noqa: the raise must already be decided

    class FakeWriter:
        def __getattr__(self, _name):
            def chain(*_a, **_k):
                return self

            return chain

        def start(self):
            return FakeQuery()

    class FakeDF:
        writeStream = FakeWriter()
        sparkSession = spark

    with pytest.raises(TimeoutError):
        jobs.run_available_now(FakeDF(), "jbp_never_drains")


# ---------------------------------------------------------------------------
# CC small-graph fast path must equal the distributed star rounds
# ---------------------------------------------------------------------------


def test_cc_small_graph_path_matches_star(spark, monkeypatch):
    from journal_batch_processer_spark.operators import graph

    edges = spark.createDataFrame(
        # two components (one a 4-chain — worst case for label prop),
        # plus self-loop and duplicate edges
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (5, 5)],
        "src long, dst long",
    )
    monkeypatch.delenv("SPARK_GRAFT_FORCE_DISTRIBUTED", raising=False)
    small = sorted(
        (r.n, r.component)
        for r in graph.connected_components_star(edges).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_FORCE_DISTRIBUTED", "1")
    star = sorted(
        (r.n, r.component)
        for r in graph.connected_components_star(edges).collect()
    )
    assert small == star
    assert dict(small)[4] == 1 and dict(small)[11] == 10
