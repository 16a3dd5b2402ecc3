"""SparkSession bootstrap with scale-appropriate defaults.

Local testing runs on local[N]; the same config block is what we'd
ship to a 1000-executor cluster (AQE on, skew-join handling on,
sane broadcast threshold, Arrow enabled for the pandas-UDF paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def small_input(n: int | None, bound: int) -> bool:
    """The one small-input gate of every adaptive driver/distributed
    branch: True when the counted size ``n`` is known and <= ``bound``.
    SPARK_GRAFT_FORCE_DISTRIBUTED=1 makes it False for any ``n``, so
    every gate takes its DISTRIBUTED branch — the shapes test SFs never
    reach (timed by tools/distributed_tripwire.py). Both branches of
    every gate return the same rows (pinned in tests)."""
    if os.environ.get("SPARK_GRAFT_FORCE_DISTRIBUTED", "") == "1":
        return False
    return n is not None and n <= bound


def oracle_sf_dir() -> str:
    """The sf dir the lazy DuckDB-oracle builders train on and build
    fixtures for (SPARK_GRAFT_ORACLE_SF_DIR; the oracle runs at one
    fixed scale, sf0.01 unless set). The only reader of that var."""
    return os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def env_int(name: str, default: int | None = None) -> int | None:
    """Integer value of env var ``name``, or ``default`` when it is
    unset or empty. Fails early — naming the variable and its value —
    on anything but an integer >= 1, instead of a bad Spark conf or a
    zero-second timeout surfacing much later."""
    raw = os.environ.get(name, "")
    if not raw:
        return default
    try:
        value = int(raw)
    except ValueError:
        value = 0  # reported below like any other value < 1
    if value < 1:
        raise ValueError(f"{name} must be an integer >= 1, got {raw!r}")
    return value


def get_spark(
    app_name: str = "journal-batch-processer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Defaults are driven by env vars the bench/test driver sets:
    ``SPARK_GRAFT_CPUS`` (local parallelism) — falls back to local[*].
    """
    cpus = env_int("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus or 32

    # Python workers must be able to import this package (pandas-UDF
    # closures reference it) regardless of the driver's cwd.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if repo_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + py_path if py_path else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
        # At 100 TB these matter more than any static tuning.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing assumes stage cost ∝ shuffle bytes; regex/UDF
        # stages violate that — a few-MB shuffle feeding a CPU-bound
        # stage must NOT collapse to one task (measured 8× on the
        # format→split pipeline). A 16 KB floor keeps small
        # intermediates parallel while leaving large-shuffle coalescing
        # (advisory 64 MB targets) untouched.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16kb")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Dimension tables (code tables, nation/region) broadcast freely.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for the pandas-UDF operators (year_impute, HTTP enrich, ANN).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamps vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Don't let tiny local files produce one giant partition at scale;
        # 128 MB splits are the classic sweet spot for parquet scans.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Large streaming state (session_window over a 100×-scale drain
        # holds millions of pre-merge sessions) overflows the default
        # in-heap HDFSBackedStateStore; RocksDB is the disk-backed
        # provider built for exactly that. Opt-in via env because the
        # in-heap store is faster for fixture-sized tests.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
            if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower()
            == "rocksdb"
            else "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider",
        )
        # The driver's events table carries TIMESTAMP(NANOS) parquet,
        # which Spark rejects by default; read as long and convert at
        # the source (see load_events).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def normalize_events_ts(df):
    """Normalize any physical encoding of ``events.ts`` to one canonical
    logical type: session-zoned TIMESTAMP at µs precision.

    A 100 TB lake mixes parquet written by different engines/epochs —
    ns-as-long (legacy nanosAsLong reads), µs TIMESTAMP_NTZ
    (isAdjustedToUTC=0), and instant-semantics TIMESTAMP all denote the
    same logical data. Every downstream consumer (window sessionization,
    streaming tumble, as-of joins) must see exactly one type, so the
    branch lives here — never at call sites.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        # ns since epoch; integer `div` — double division would round
        # above 2^53 ns (matches DuckDB's µs truncation)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, TimestampNTZType):
        # wall-clock µs, to be read as UTC. The NTZ→TIMESTAMP cast
        # interprets the wall clock in the SESSION timezone (instant =
        # wall − off(tz)), so compose it with from_utc_timestamp(·, tz)
        # which adds off(tz) back: the result is the UTC instant for
        # any session timezone, not just UTC-pinned sessions. (The two
        # offsets are evaluated an offset apart; they can only diverge
        # inside a DST transition hour of the session zone — canonical
        # loaders pin UTC, where the offset is constant zero.)
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        df = df.withColumn(
            "ts", F.from_utc_timestamp(F.col("ts").cast("timestamp"), tz)
        )
    return df


def load_events(spark: SparkSession, sf_dir: str):
    """Read events.parquet and canonicalize ``ts`` (see
    normalize_events_ts) so consumers never branch on the fixture's
    physical timestamp encoding."""
    try:  # driver-supplied sessions may lack the builder config
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001 - static conf on some builds
        pass
    try:
        # date_format / window-start rendering is session-tz dependent;
        # a driver-supplied session without UTC would shift every
        # rendered timestamp against the oracle
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # noqa: BLE001
        pass
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return normalize_events_ts(df)
