"""Contract tests for operators/table_format.py: commit atomicity and
conflict detection, copy-on-write file carrying, stats pruning,
compaction identity, time-travel resolution, schema evolution.

(The DuckDB oracle sweep — queries/lakehouse.py keys — is the value
gate; these pin the table-format mechanics the oracle can't see:
WHICH files rewrote, WHAT a losing writer observes.)
"""

from __future__ import annotations

import os

import pytest

from journal_batch_processer_spark.operators.table_format import (
    CommitConflictError,
    SnapshotTable,
)
from journal_batch_processer_spark.queries import lakehouse
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def fixture_table(spark):
    root = lakehouse.materialize_table(spark, SF_DIR)
    return SnapshotTable(root)


def test_fixture_table_rebuilds_after_in_place_source_rewrite(
    spark, tmp_path, monkeypatch
):
    """Rewriting events.parquet in place (same path, fewer rows) must
    rebuild the fixture table, not serve the old rows."""
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))  # own root
    sf = tmp_path / "sf_rewrite"
    shutil.copytree(SF_DIR, sf)
    src = sf / "events.parquet"
    os.chmod(src, 0o644)  # the copy keeps a read-only fixture's mode

    def expected(ev):  # all events + id%1000==0 inserts + ==1 gen-2
        ids = ev.column("event_id").to_pylist()
        return len(ids) + sum(1 for i in ids if i % 1000 in (0, 1))

    def table_rows():
        root = lakehouse.materialize_table(spark, str(sf))
        return SnapshotTable(root).read(spark).count()

    ev = pq.read_table(src)
    assert table_rows() == expected(ev)
    half = ev.slice(0, ev.num_rows // 2)
    pq.write_table(half, src)  # in place: same path, fewer rows
    assert table_rows() == expected(half) < expected(ev)


def _mk(spark, tmp_path, name="t"):
    t = SnapshotTable.create(
        str(tmp_path / name),
        [("k", "bigint"), ("v", "bigint")],
        committed_at_us=1_000_000,
    )
    return t


def _df(spark, lo, hi):
    from pyspark.sql import functions as F

    return (
        spark.range(lo, hi)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .repartitionByRange(2, "k")
    )


def test_commit_conflict_exactly_one_winner(spark, tmp_path):
    t = _mk(spark, tmp_path)
    man = t.manifest(1)
    win = dict(man, version=2, parent=1, operation="append")
    lose = dict(man, version=2, parent=1, operation="merge")
    assert t._try_commit(win) == 2
    with pytest.raises(CommitConflictError):
        t._try_commit(lose)
    # the losing commit leaves no temp debris and the winner's
    # manifest is intact
    assert [p for p in os.listdir(t._manifest_dir) if p.startswith(".tmp")] == []
    assert t.manifest(2)["operation"] == "append"


def test_append_rebases_after_lost_race(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 100), committed_at_us=2_000_000)
    # a second handle that planned against v1 must still land: appends
    # rebase onto the new latest instead of failing
    t2 = SnapshotTable(t.root)
    v = t2.append(_df(spark, 100, 200), committed_at_us=3_000_000)
    assert v == 3
    assert t2.read(spark).count() == 200


def test_merge_conflict_not_retried(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 100), committed_at_us=2_000_000)
    base = t.latest_version()
    t.append(_df(spark, 100, 200), committed_at_us=3_000_000)  # concurrent
    with pytest.raises(CommitConflictError):
        t.merge(_df(spark, 0, 10), "k", expected_version=base)


def test_merge_carries_untouched_files(fixture_table):
    """The v4 COW merge is key-local ([MERGE_LO,MERGE_HI] + inserts): some v3
    files MUST survive by reference and some MUST be rewritten —
    all-carried means the merge wrote nothing, none-carried means the
    pruning never pruned."""
    before = {f["path"] for f in fixture_table.manifest(3)["files"]}
    after = {f["path"] for f in fixture_table.manifest(4)["files"]}
    carried = before & after
    rewritten = before - after
    assert carried, "merge carried no files — COW pruning inert"
    assert rewritten, "merge rewrote no files"
    # inserts land beyond every base range, so at least one NEW file
    assert after - before


def test_prune_skips_files_and_matches_full_scan(spark, fixture_table):
    kept, skipped = fixture_table.pruned_files("event_id", 1500, 2499)
    assert skipped, "stats pruning skipped nothing — check file ranges"
    pruned = fixture_table.read_pruned(spark, "event_id", 1500, 2499)
    from pyspark.sql import functions as F

    full = fixture_table.read(spark).filter(F.col("event_id").between(1500, 2499))
    assert sorted(pruned.collect()) == sorted(full.collect())


def test_compact_reduces_files_same_rows(spark, fixture_table):
    n5 = len(fixture_table.manifest(5)["files"])
    n6 = len(fixture_table.manifest(6)["files"])
    assert n6 < n5
    r5 = fixture_table.read(spark, version=5)
    r6 = fixture_table.read(spark, version=6)
    assert sorted(r5.collect()) == sorted(r6.collect())


def test_time_travel_resolution(fixture_table):
    # version_as_of: greatest committed_at_us <= ts (commits pinned at
    # version * 1s)
    assert fixture_table.version_as_of(1_000_000) == 1
    assert fixture_table.version_as_of(3_500_000) == 3
    assert fixture_table.version_as_of(99_000_000) == 6
    with pytest.raises(LookupError):
        fixture_table.version_as_of(999_999)


def test_schema_evolution_null_fills_old_files(spark, fixture_table):
    from pyspark.sql import functions as F

    df = fixture_table.read(spark, version=5)
    assert "priority" in df.columns
    old = df.filter(F.col("event_id") < 20_000_000)
    new = df.filter(F.col("event_id") >= 20_000_000)
    assert old.filter(F.col("priority").isNotNull()).count() == 0
    assert new.filter(F.col("priority").isNull()).count() == 0
    # v4 (pre-evolution) read doesn't know the column at all
    assert "priority" not in fixture_table.read(spark, version=4).columns


def test_abandoned_staging_is_invisible(spark, tmp_path):
    """Files staged but never committed must not appear to readers —
    snapshot isolation comes from the manifest, not directory
    listings."""
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 50), committed_at_us=2_000_000)
    # stage data files directly without committing a manifest
    t._stage_files(_df(spark, 50, 90), version_hint=99)
    assert t.read(spark).count() == 50
    assert t.latest_version() == 2


def test_delete_range_three_way_split(spark, tmp_path):
    """Range DELETE must exercise all three planner outcomes on a
    range-clustered table: whole files dropped metadata-only, boundary
    files rewritten, outside files carried."""
    t = _mk(spark, tmp_path)
    df = _df(spark, 0, 800).repartitionByRange(8, "k")
    t.append(df, committed_at_us=2_000_000)
    t.delete_range(spark, "k", 150, 450, committed_at_us=3_000_000)
    man = t.manifest(3)
    d = man["delete"]
    assert d["dropped_files"] >= 1, d
    assert d["rewritten_files"] >= 1, d
    assert d["carried_files"] >= 1, d
    got = sorted(r.k for r in t.read(spark).collect())
    assert got == [k for k in range(800) if not 150 <= k <= 450]
    # dropped files still on disk (time travel) until vacuum
    assert t.read(spark, version=2).count() == 800


def test_vacuum_reclaims_dead_files_only(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 800).repartitionByRange(8, "k"),
             committed_at_us=2_000_000)
    t.delete_range(spark, "k", 150, 450, committed_at_us=3_000_000)
    import os as _os

    n_before = len(_os.listdir(t._data_dir))
    head = sorted(t.read(spark).collect())
    stats = t.vacuum(retain_last=1)
    assert stats["files_removed"] >= 1
    assert stats["manifests_removed"] == 2  # v1 + v2 expired
    assert len(_os.listdir(t._data_dir)) == n_before - stats["files_removed"]
    # head snapshot unharmed; expired version unreadable, loudly
    assert sorted(t.read(spark).collect()) == head
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.read(spark, version=2)


def test_stream_batch_append_exactly_once(spark, tmp_path):
    """A replayed micro-batch (same batch id) must be a no-op: the
    manifest-recorded txn id, not the checkpoint, is what upgrades
    foreachBatch from at-least-once to exactly-once."""
    t = _mk(spark, tmp_path)
    b0, b1 = _df(spark, 0, 50), _df(spark, 50, 80)
    assert t.append_stream_batch(b0, 0) == 2
    assert t.append_stream_batch(b1, 1) == 3
    assert t.append_stream_batch(b1, 1) is None  # replay → skip
    assert t.append_stream_batch(b0, 0) is None  # older replay → skip
    assert t.read(spark).count() == 80
    assert t.last_stream_batch_id() == 1


def test_restore_preserves_history_and_reverts_head(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 60), committed_at_us=2_000_000)
    t.append(_df(spark, 60, 100), committed_at_us=3_000_000)
    v = t.restore(2, committed_at_us=4_000_000)
    assert v == 4
    assert t.manifest(4)["operation"] == "restore"
    assert t.manifest(4)["restored_from"] == 2
    # head == v2 state; the backed-out commit is STILL time-travelable
    assert t.read(spark).count() == 60
    assert t.read(spark, version=3).count() == 100
    # restore references, never copies: no new data files were written
    assert {f["path"] for f in t.manifest(4)["files"]} == {
        f["path"] for f in t.manifest(2)["files"]
    }


def test_restore_of_vacuumed_version_fails_loud(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 60), committed_at_us=2_000_000)
    t.delete_range(spark, "k", 0, 59, committed_at_us=3_000_000)
    t.vacuum(retain_last=1)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.restore(2)


def test_zorder_optimize_improves_two_dim_pruning(spark):
    """Before OPTIMIZE ZORDER the event_id-clustered layout prunes
    nothing on user_id; after, per-file user_id ranges are tight and
    the same predicate skips files — while the row multiset is
    unchanged (the content half is the DuckDB oracle's job)."""
    from journal_batch_processer_spark.queries.lakehouse import (
        _materialize_zorder_table,
    )

    from pyspark.sql import functions as F

    t = SnapshotTable(_materialize_zorder_table(spark, SF_DIR))
    max_u = t.read(spark).agg(F.max("user_id")).collect()[0][0]
    lo, hi = 0, max_u // 4  # bottom quarter of the user domain
    _, skipped_before = t.pruned_files("user_id", lo, hi, version=2)
    _, skipped_after = t.pruned_files("user_id", lo, hi, version=3)
    assert not skipped_before, "event_id layout should NOT prune on user_id"
    assert skipped_after, "zorder layout must prune on user_id"
    # the clustered layout still prunes on the other dimension too
    max_e = t.read(spark).agg(F.max("event_id")).collect()[0][0]
    _, skipped_eid = t.pruned_files("event_id", 0, max_e // 8, version=3)
    assert skipped_eid, "zorder layout must still prune on event_id"
    r2 = t.read(spark, version=2)
    r3 = t.read(spark, version=3)
    assert sorted(r2.collect()) == sorted(r3.collect())


def _drain_stream(spark, root, ckpt, outdir, skip="true"):
    from journal_batch_processer_spark.queries.streaming_q import _await_drain
    from journal_batch_processer_spark.sources.python_source import register_once
    from journal_batch_processer_spark.sources.table_stream import (
        TableStreamSource,
    )

    register_once(spark, TableStreamSource)
    q = (
        spark.readStream.format("jbp_table_stream")
        .option("path", root)
        .option("skipChangeCommits", skip)
        .load()
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_drain(q, "tstream_test")


def test_table_stream_change_commit_fails_loud(spark, tmp_path):
    """Default (no skipChangeCommits): a merge commit in the offset
    range aborts planning — re-emitting rewritten files would
    double-count (the Delta 'data update detected' contract)."""
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 100), committed_at_us=2_000_000)
    batch = _df(spark, 10, 20)
    t.merge(batch, "k", committed_at_us=3_000_000)
    with pytest.raises(Exception, match="skipChangeCommits"):
        _drain_stream(
            spark,
            t.root,
            str(tmp_path / "ckpt"),
            str(tmp_path / "out"),
            skip="false",
        )


def test_table_stream_null_fills_pre_evolution_files(spark, tmp_path):
    """A file written BEFORE an additive schema evolution streams out
    null-filled in the evolved schema (from partition metadata — the
    executor never probes other files' footers), and commit_version
    attributes each row to the commit that added it."""
    from pyspark.sql import functions as F

    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 50), committed_at_us=2_000_000)
    t.append(
        _df(spark, 100, 150).withColumn("w", F.col("k") + 1),
        committed_at_us=3_000_000,
        new_columns=[("w", "bigint")],
    )
    outdir = str(tmp_path / "out")
    _drain_stream(spark, t.root, str(tmp_path / "ckpt"), outdir)
    rows = spark.read.parquet(outdir).collect()
    assert len(rows) == 100
    by_commit = {}
    for r in rows:
        by_commit.setdefault(r.commit_version, []).append(r)
    assert sorted(by_commit) == [2, 3]
    assert all(r.w is None for r in by_commit[2])
    assert all(r.w == r.k + 1 for r in by_commit[3])


def test_cdf_equals_snapshot_diff_and_orders_by_commit(spark, fixture_table):
    """The write-time merge CDC (diff of the rewritten file group
    only) must equal the LOGICAL snapshot diff — carried files cancel
    by construction; and per-commit attribution covers every commit."""
    from pyspark.sql import functions as F

    t = fixture_table
    feed = t.read_changes(spark, 3, 4)
    cols = ["event_id", "user_id", "value", "event_type"]
    old = t.read(spark, version=3).select(cols)
    new = t.read(spark, version=4).select(cols)
    ins = feed.filter("_change = 'insert'").select(cols)
    dels = feed.filter("_change = 'delete'").select(cols)
    assert ins.exceptAll(new.exceptAll(old)).count() == 0
    assert new.exceptAll(old).exceptAll(ins).count() == 0
    assert dels.exceptAll(old.exceptAll(new)).count() == 0
    assert old.exceptAll(new).exceptAll(dels).count() == 0
    # whole-history feed: v6 compact emits nothing, appends emit adds
    all_feed = t.read_changes(spark, 0, t.latest_version())
    vers = {
        r._commit_version
        for r in all_feed.select("_commit_version").distinct().collect()
    }
    assert vers == {2, 3, 4, 5}
    n2 = all_feed.filter(
        (F.col("_commit_version") == 2) & (F.col("_change") == "insert")
    ).count()
    assert n2 == t.read(spark, version=2).count()


def test_cdf_restore_fails_loud_and_vacuum_keeps_live_cdc(spark, tmp_path):
    import pytest as _pt

    from pyspark.sql import functions as F

    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 100), committed_at_us=2_000_000)
    # CHANGED values — an identical-value upsert is a no-op in a
    # value-diff feed and would rightly emit nothing
    batch = _df(spark, 10, 20).withColumn("v", F.col("v") + 1)
    t.merge(batch, "k", committed_at_us=3_000_000)  # v3 w/ cdc
    t.restore(2, committed_at_us=4_000_000)  # v4
    with _pt.raises(NotImplementedError, match="restore"):
        t.read_changes(spark, 0, 4).count()
    # v3 retained -> its cdc files survive vacuum and still read
    t.append(_df(spark, 200, 210), committed_at_us=5_000_000)  # v5
    t.vacuum(retain_last=3)  # keeps v3..v5
    assert t.read_changes(spark, 2, 3).count() > 0
    # expire v3: its manifest AND cdc files go away
    import glob as _g
    import os as _os

    t.vacuum(retain_last=1)
    assert _g.glob(_os.path.join(t.root, "cdc", "v00003-*")) == []


@pytest.mark.parametrize("seed", [88, 1234, 777])
def test_table_format_random_ops_match_python_model(spark, tmp_path, seed):
    """Model-based randomized check: a seeded random sequence of
    append / COW-merge / MOR-merge / range-delete / compact /
    MOR-equality-delete / positional-delete (delete_where) /
    apply-deletes commits is mirrored into a plain Python dict-of-rows
    model (merge_resolve = last-wins max(old, new) per key; appends
    are randomly hidden-bucketed and may RE-INSERT tombstoned keys —
    the applies_below visibility rule on a random walk; merge_mor and
    delete_pos legally stack OVER pending deletes). After every
    commit: head read == model; after the run: every historical
    version == its recorded model state (time travel), and every
    consecutive CDC window == the model diff (write-time feed ==
    logical diff, compact/apply windows empty). One seed, ~18 ops —
    small but it walks op INTERLEAVINGS none of the targeted tests
    cover."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(seed)
    t = SnapshotTable.create(
        str(tmp_path / "rt"),
        [("k", "bigint"), ("v", "bigint")],
        committed_at_us=1_000_000,
    )
    model: dict = {}  # key -> multiset impossible: keys unique via merge

    def mk_df(pairs):
        return spark.createDataFrame(pairs, "k long, v long").repartitionByRange(
            2, "k"
        )

    def snap(df):
        return sorted((r.k, r.v) for r in df.collect())

    states = {1: []}
    ops = {1: "create"}
    ts = 1_000_000
    pending = False  # MOR delete files awaiting apply_deletes
    tombstoned: list = []  # keys removed by delete_mor, re-insertable
    for step in range(18):
        ts += 1_000_000
        op = rng.choice(
            [
                "append",
                "merge",
                "merge",
                "merge_resolve",
                "merge_mor",
                "merge_mor",
                "delete",
                "compact",
                "delete_mor",
                "delete_mor",
                "delete_pos",
                "apply_deletes",
            ]
        )
        if pending and op in ("merge", "merge_resolve", "delete", "compact"):
            # guarded while deletes are pending (targeted tests pin
            # the guard itself) — resolve instead; merge_mor and
            # delete_pos legally stack OVER pending deletes
            op = "apply_deletes"
        if op == "append":
            lo = rng.randrange(0, 500) * 10 + 100000 * step
            pairs = [(lo + i, rng.randrange(1000)) for i in range(rng.randrange(1, 30))]
            # occasionally RE-INSERT a tombstoned key: the new file is
            # younger than the delete file, so the row must be visible
            revive = [
                (k, rng.randrange(1000))
                for k in rng.sample(tombstoned, min(len(tombstoned), rng.randrange(0, 3)))
            ]
            pairs = [(k, v) for k, v in pairs + revive if k not in model]
            if not pairs:
                continue
            t.append(
                mk_df(pairs),
                committed_at_us=ts,
                bucket_by=rng.choice([None, ("k", 2), ("k", 4)]),
            )
            model.update(dict(pairs))
            tombstoned = [k for k in tombstoned if k not in model]
        elif op == "delete_mor":
            if not model:
                continue
            ks = rng.sample(sorted(model), min(len(model), rng.randrange(1, 6)))
            t.delete_mor(
                spark.createDataFrame([(k,) for k in ks], "k long"),
                "k",
                committed_at_us=ts,
            )
            for k in ks:
                model.pop(k, None)
            tombstoned.extend(ks)
            pending = True
        elif op == "apply_deletes":
            if not pending:
                continue
            t.apply_deletes(spark, committed_at_us=ts)
            pending = False
        elif op == "merge":
            keys = list(model)
            upd = rng.sample(keys, min(len(keys), rng.randrange(0, 8)))
            ins = [(100000 * step + 777 + i, rng.randrange(1000)) for i in range(rng.randrange(0, 4))]
            pairs = [(k, model[k] + 1 + rng.randrange(5)) for k in upd] + [
                (k, v) for k, v in ins if k not in model
            ]
            if not pairs:
                continue
            t.merge(mk_df(pairs), "k", committed_at_us=ts)
            model.update(dict(pairs))
        elif op == "merge_resolve":
            # LAST-WINS merge on v: the model keeps max(old, new) per
            # key — ties produce identical (k, v) rows either way
            keys = list(model)
            upd = rng.sample(keys, min(len(keys), rng.randrange(0, 8)))
            ins = [
                (100000 * step + 555 + i, rng.randrange(1000))
                for i in range(rng.randrange(0, 4))
            ]
            pairs = [(k, rng.randrange(1000)) for k in upd] + [
                (k, v) for k, v in ins if k not in model
            ]
            if not pairs:
                continue
            t.merge(mk_df(pairs), "k", committed_at_us=ts, resolve="v")
            for k, v_ in pairs:
                model[k] = max(model.get(k, v_), v_)
        elif op == "merge_mor":
            # MOR upsert: same logical contract as COW merge, commits
            # a positional delete + appended batch (stacks over any
            # pending deletes); matched rows make the delete pending
            keys = list(model)
            upd = rng.sample(keys, min(len(keys), rng.randrange(0, 8)))
            ins = [
                (100000 * step + 333 + i, rng.randrange(1000))
                for i in range(rng.randrange(0, 4))
            ]
            revive = [
                (k, rng.randrange(1000))
                for k in rng.sample(
                    tombstoned, min(len(tombstoned), rng.randrange(0, 2))
                )
            ]
            pairs = [(k, model[k] + 1 + rng.randrange(5)) for k in upd] + [
                (k, v) for k, v in ins + revive if k not in model
            ]
            if not pairs:
                continue
            t.merge_mor(mk_df(pairs), "k", committed_at_us=ts)
            model.update(dict(pairs))
            tombstoned = [k for k in tombstoned if k not in model]
            if upd:
                pending = True
        elif op == "delete_pos":
            if not model:
                continue
            ks = rng.sample(sorted(model), min(len(model), rng.randrange(1, 6)))
            t.delete_where(
                spark,
                "k in (" + ", ".join(str(k) for k in ks) + ")",
                committed_at_us=ts,
            )
            for k in ks:
                model.pop(k, None)
            tombstoned.extend(ks)
            pending = True
        elif op == "delete":
            if not model:
                continue
            ks = sorted(model)
            lo = rng.choice(ks)
            hi = lo + rng.randrange(0, 2000)
            t.delete_range(spark, "k", lo, hi, committed_at_us=ts)
            model = {k: v for k, v in model.items() if not (lo <= k <= hi)}
        else:
            t.compact(spark, 32 * 1024, committed_at_us=ts)
        v = t.latest_version()
        states[v] = sorted(model.items())
        ops[v] = op
        assert snap(t.read(spark)) == states[v], f"head mismatch after {op} v{v}"
    # time travel across the whole history
    for v, want in states.items():
        assert snap(t.read(spark, version=v)) == want, f"time travel v{v}"
    # CDC window invariants between consecutive recorded states
    vs = sorted(states)
    for a, b in zip(vs, vs[1:]):
        feed = t.read_changes(spark, a, b)
        got_ins = sorted(
            (r.k, r.v) for r in feed.filter(F.col("_change") == "insert").collect()
        )
        got_del = sorted(
            (r.k, r.v) for r in feed.filter(F.col("_change") == "delete").collect()
        )
        sa, sb = dict(states[a]), dict(states[b])
        want_ins = sorted(
            (k, v) for k, v in sb.items() if sa.get(k) != v
        )
        want_del = sorted(
            (k, v) for k, v in sa.items() if sb.get(k) != v
        )
        assert got_ins == want_ins, f"CDC inserts v{a}->v{b} ({ops[b]})"
        assert got_del == want_del, f"CDC deletes v{a}->v{b} ({ops[b]})"


def test_table_stream_random_commits_and_drains(spark, tmp_path):
    """Streaming-source property test: a seeded random interleaving of
    appends, change commits (COW merge AND MOR equality delete, with
    apply_deletes resolving pends), and checkpointed availableNow
    drains. The union of ALL drains must equal exactly the appended
    rows (each once, with its committing version) no matter where the
    drain boundaries fall — offset persistence, manifest-diff
    planning, and skipChangeCommits are all on the hook at once;
    delete_mor/rewrite_deletes must neither re-emit nor retro-drop
    rows from the append-only stream."""
    import random

    from journal_batch_processer_spark.queries.streaming_q import _await_drain
    from journal_batch_processer_spark.sources.python_source import (
        register_once,
    )
    from journal_batch_processer_spark.sources.table_stream import (
        TableStreamSource,
    )

    register_once(spark, TableStreamSource)
    rng = random.Random(4242)
    t = _mk(spark, tmp_path, "st")
    ckpt, outdir = str(tmp_path / "ckpt"), str(tmp_path / "out")
    expected = []  # (k, v, commit_version)
    ts = 1_000_000
    nxt = 1000

    def drain():
        q = (
            spark.readStream.format("jbp_table_stream")
            .option("path", t.root)
            .option("skipChangeCommits", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(q, "rand_drain")

    pending = False  # MOR delete files awaiting apply_deletes
    for _ in range(14):
        ts += 1_000_000
        op = rng.choice(
            ["append", "append", "merge", "compact", "delete_mor", "drain"]
        )
        if pending and op in ("merge", "compact"):
            op = "apply_deletes"  # guarded while equality deletes pend
        if op == "append":
            n = rng.randrange(1, 20)
            pairs = [(nxt + i, rng.randrange(100)) for i in range(n)]
            nxt += n
            v = t.append(
                spark.createDataFrame(pairs, "k long, v long"),
                committed_at_us=ts,
            )
            expected += [(k, val, v) for k, val in pairs]
        elif op == "merge":
            if not expected:
                continue
            ks = rng.sample([e[0] for e in expected], min(3, len(expected)))
            t.merge(
                spark.createDataFrame(
                    [(k, 999) for k in ks], "k long, v long"
                ),
                "k",
                committed_at_us=ts,
            )  # change commit: must NOT re-emit under skipChangeCommits
        elif op == "delete_mor":
            if not expected:
                continue
            ks = rng.sample([e[0] for e in expected], min(2, len(expected)))
            t.delete_mor(
                spark.createDataFrame([(k,) for k in ks], "k long"),
                "k",
                committed_at_us=ts,
            )  # change commit too: already-appended files must not
            #    re-emit, and the APPEND-STREAM contract keeps rows
            #    emitted at append time regardless of later deletes
            pending = True
        elif op == "apply_deletes":
            t.apply_deletes(spark, committed_at_us=ts)
            pending = False  # dataChange=false: skipped whole, no emit
        elif op == "compact":
            t.compact(spark, 32 * 1024, committed_at_us=ts)
        else:
            drain()
    drain()  # final drain picks up everything outstanding
    got = sorted(
        (r.k, r.v, r.commit_version)
        for r in spark.read.parquet(outdir).collect()
    )
    assert got == sorted(expected)


def test_manifest_lists_shard_resolve_and_vacuum(spark, tmp_path):
    """Manifest LISTS: above the shard threshold the commit writes
    side shard JSONs and the top manifest references them; readers,
    COW merges, CDC, and the streaming planner all see the resolved
    list transparently; vacuum reclaims expired shards with their
    manifest."""
    import glob as _g
    import json as _json
    import os as _os

    t = _mk(spark, tmp_path)
    t.shard_threshold = 3
    t.append(_df(spark, 0, 400).repartitionByRange(8, "k"),
             committed_at_us=2_000_000)
    raw = _json.load(
        open(_os.path.join(t._manifest_dir, "v00002.json"))
    )
    assert "files" not in raw and len(raw["file_shards"]) == 3  # ceil(8/3)
    assert len(t.manifest(2)["files"]) == 8  # transparently resolved
    assert t.read(spark).count() == 400
    # a COW merge against a sharded manifest: plans from resolved stats
    from pyspark.sql import functions as F

    t.merge(
        _df(spark, 10, 20).withColumn("v", F.col("v") + 1),
        "k",
        committed_at_us=3_000_000,
    )
    assert sorted(r.v for r in t.read(spark).filter("k = 15").collect()) == [151]
    assert t.read_changes(spark, 2, 3).count() > 0
    # expire v2: its shard files go with its manifest
    t.append(_df(spark, 1000, 1010), committed_at_us=4_000_000)
    t.vacuum(retain_last=2)
    assert _g.glob(_os.path.join(t._manifest_dir, "shards", "v00002-*")) == []
    assert t.read(spark).count() == 400 + 10 - 10 + 10


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    import glob as _glob

    t = _mk(spark, tmp_path, "src")
    t.append(_df(spark, 0, 100), committed_at_us=2_000_000)
    c = t.clone(str(tmp_path / "cl"), committed_at_us=3_000_000)
    # zero-copy: the clone owns NO parquet yet, only references
    assert _glob.glob(str(tmp_path / "cl" / "**" / "*.parquet"),
                      recursive=True) == []
    assert c.manifest(1)["operation"] == "clone"
    assert c.read(spark).count() == 100
    # divergence is copy-on-write into the CLONE's root
    c.delete_range(spark, "k", 0, 9, committed_at_us=4_000_000)
    assert c.read(spark).count() == 90
    assert t.read(spark).count() == 100  # source untouched
    # source commits after the clone point stay invisible to the clone
    t.append(_df(spark, 100, 150), committed_at_us=5_000_000)
    assert c.read(spark).count() == 90
    # every file the clone now references under its own root exists
    for f in c.manifest()["files"]:
        assert os.path.exists(os.path.join(c.root, f["path"]))


def test_clone_vacuum_never_reclaims_shared_source_files(spark, tmp_path):
    t = _mk(spark, tmp_path, "src")
    t.append(_df(spark, 0, 100), committed_at_us=2_000_000)
    src_files = [
        os.path.join(t.root, f["path"]) for f in t.manifest()["files"]
    ]
    c = t.clone(str(tmp_path / "cl"), committed_at_us=3_000_000)
    c.delete_range(spark, "k", 0, 99, committed_at_us=4_000_000)
    stats = c.vacuum(retain_last=1)
    # v1's only refs are the source's files: the guard must skip ALL
    # of them (removed==0), and the source must still read clean
    assert stats["files_removed"] == 0
    assert all(os.path.exists(p) for p in src_files)
    assert t.read(spark).count() == 100
    with pytest.raises(FileNotFoundError):
        c.manifest(1)  # the expired manifest itself IS reclaimed


def test_clone_of_time_travel_version(spark, tmp_path):
    t = _mk(spark, tmp_path, "src")
    t.append(_df(spark, 0, 50), committed_at_us=2_000_000)
    t.append(_df(spark, 50, 80), committed_at_us=3_000_000)
    c = t.clone(str(tmp_path / "cl"), version=2, committed_at_us=4_000_000)
    assert c.read(spark).count() == 50  # the pinned snapshot, not head
    assert c.manifest(1)["cloned_from"]["version"] == 2


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v bigint, seq bigint")


def test_merge_stream_batch_last_wins_and_replay(spark, tmp_path):
    t = SnapshotTable.create(
        str(tmp_path / "t"),
        [("k", "bigint"), ("v", "bigint"), ("seq", "bigint")],
        committed_at_us=1_000_000,
    )
    assert t.merge_stream_batch(
        _kv(spark, [(1, 10, 100), (2, 20, 100), (1, 11, 101)]),
        0, key="k", resolve="seq",
    ) is not None
    # intra-batch dup of k=1: the higher seq won
    state = {r.k: (r.v, r.seq) for r in t.read(spark).collect()}
    assert state == {1: (11, 101), 2: (20, 100)}
    # REPLAY of batch 0 (same id) must skip — even with different rows
    assert t.merge_stream_batch(
        _kv(spark, [(9, 99, 999)]), 0, key="k", resolve="seq"
    ) is None
    assert 9 not in {r.k for r in t.read(spark).collect()}
    # batch 1: out-of-order upsert for k=1 (older seq) must LOSE;
    # newer seq for k=2 must win; new key inserts
    t.merge_stream_batch(
        _kv(spark, [(1, 12, 50), (2, 21, 200), (3, 30, 1)]),
        1, key="k", resolve="seq",
    )
    state = {r.k: (r.v, r.seq) for r in t.read(spark).collect()}
    assert state == {1: (11, 101), 2: (21, 200), 3: (30, 1)}


def test_merge_resolve_end_state_invariant_to_batch_split(spark, tmp_path):
    """The property that makes streaming MERGE sound: the same upsert
    set applied as one batch or split into three reaches the SAME end
    state (last-wins on seq is associative and order-independent
    because base rows re-enter the window on every merge)."""
    ups = [(k, 100 * k + i, 10 * i + k % 3) for k in range(6) for i in range(4)]

    def run(splits):
        t = SnapshotTable.create(
            str(tmp_path / f"t{len(splits)}"),
            [("k", "bigint"), ("v", "bigint"), ("seq", "bigint")],
            committed_at_us=1_000_000,
        )
        for b, chunk in enumerate(splits):
            t.merge_stream_batch(_kv(spark, chunk), b, key="k", resolve="seq")
        return sorted(
            (r.k, r.v, r.seq) for r in t.read(spark).collect()
        )

    one = run([ups])
    # reversed chunks: later batches carry LOWER seqs — end state holds
    three = run([ups[16:], ups[8:16], ups[:8]])
    assert one == three
    assert len(one) == 6


# ---------------------------------------------------------------------------
# merge-on-read equality deletes (delete_mor / apply_deletes)
# ---------------------------------------------------------------------------
def test_mor_delete_rewrites_nothing_and_stacks(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 100), committed_at_us=2_000_000)
    keys = spark.range(0, 100, 10).selectExpr("id as k")
    t.delete_mor(keys, "k", committed_at_us=3_000_000)
    # zero data files rewritten: the commit carries v2's files verbatim
    assert [f["path"] for f in t.manifest(3)["files"]] == [
        f["path"] for f in t.manifest(2)["files"]
    ]
    got = {r.k for r in t.read(spark).collect()}
    assert got == {i for i in range(100) if i % 10 != 0}
    # re-insert one deleted key: the NEW file is younger than the
    # delete (added_version >= applies_below) so the row is visible
    t.append(
        spark.createDataFrame([(20, 999)], "k bigint, v bigint"),
        committed_at_us=4_000_000,
    )
    assert (20, 999) in {(r.k, r.v) for r in t.read(spark).collect()}
    # a second, stacked delete hits old and re-inserted files alike
    t.delete_mor(
        spark.createDataFrame([(20,), (55,)], "k bigint"),
        "k",
        committed_at_us=5_000_000,
    )
    got = {r.k for r in t.read(spark).collect()}
    assert 20 not in got and 55 not in got and 30 not in got and 21 in got
    # time travel between the deletes sees the intermediate MOR state
    got4 = {r.k for r in t.read(spark, version=4).collect()}
    assert 20 in got4 and 30 not in got4 and 55 in got4


def test_mor_cdf_emits_only_logically_deleted_rows(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 100), committed_at_us=2_000_000)
    t.delete_mor(
        spark.range(0, 100, 10).selectExpr("id as k"), "k",
        committed_at_us=3_000_000,
    )
    assert sorted(r.k for r in t.read_changes(spark, 2, 3).collect()) == list(
        range(0, 100, 10)
    )
    t.append(
        spark.createDataFrame([(20, 999)], "k bigint, v bigint"),
        committed_at_us=4_000_000,
    )
    t.delete_mor(
        spark.createDataFrame([(20,), (55,)], "k bigint"), "k",
        committed_at_us=5_000_000,
    )
    # k=20's V2 row was already deleted at v3 — only the re-inserted
    # (20, 999) and the live (55, 550) leave the logical state at v5
    ch = sorted(
        (r.k, r.v, r._change, r._commit_version)
        for r in t.read_changes(spark, 4, 5).collect()
    )
    assert ch == [(20, 999, "delete", 5), (55, 550, "delete", 5)]


def test_mor_guards_file_rewriting_ops(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 50), committed_at_us=2_000_000)
    t.delete_mor(
        spark.createDataFrame([(7,)], "k bigint"), "k",
        committed_at_us=3_000_000,
    )
    batch = spark.createDataFrame([(1, 2)], "k bigint, v bigint")
    with pytest.raises(NotImplementedError):
        t.merge(batch, "k")
    with pytest.raises(NotImplementedError):
        t.compact(spark, 10**6)
    with pytest.raises(NotImplementedError):
        t.delete_range(spark, "k", 0, 5)
    with pytest.raises(NotImplementedError):
        t.clone(str(tmp_path / "c"))
    # appends are fine and CARRY the pending delete
    t.append(_df(spark, 100, 110), committed_at_us=4_000_000)
    assert len(t.manifest(4)["delete_files"]) == 1
    assert 7 not in {r.k for r in t.read(spark).collect()}


def test_apply_deletes_rewrites_only_key_containing_files(spark, tmp_path):
    t = _mk(spark, tmp_path)
    # two range-disjoint files: [0,49] and [50,99]
    t.append(_df(spark, 0, 100), committed_at_us=2_000_000)
    t.delete_mor(
        spark.createDataFrame([(5,), (7,)], "k bigint"), "k",
        committed_at_us=3_000_000,
    )
    before = sorted((r.k, r.v) for r in t.read(spark).collect())
    paths3 = {f["path"] for f in t.manifest(3)["files"]}
    v = t.apply_deletes(spark, committed_at_us=4_000_000)
    man = t.manifest(v)
    assert not man.get("delete_files")
    assert man["rewrite_deletes"]["rewritten_files"] == 1
    assert man["rewrite_deletes"]["carried_files"] == 1
    # the untouched upper-range file carried by path
    assert len(paths3 & {f["path"] for f in man["files"]}) == 1
    # content identity (dataChange=false) and no change-feed emission
    assert before == sorted((r.k, r.v) for r in t.read(spark).collect())
    assert t.read_changes(spark, 3, 4).count() == 0


def test_vacuum_tracks_delete_file_liveness(spark, tmp_path):
    import glob as _glob

    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 100), committed_at_us=2_000_000)
    t.delete_mor(
        spark.range(0, 100, 10).selectExpr("id as k"), "k",
        committed_at_us=3_000_000,
    )
    t.append(_df(spark, 100, 120), committed_at_us=4_000_000)
    root = t.root
    # retain v3+v4: both reference the delete file -> it must survive
    t.vacuum(retain_last=2)
    assert len(_glob.glob(os.path.join(root, "delete", "*"))) == 1
    assert {r.k for r in t.read(spark, version=3).collect()} == {
        i for i in range(100) if i % 10 != 0
    }
    # resolve the deletes, then retain only the head: the delete file's
    # last referencing manifest expires and vacuum reclaims it
    t.apply_deletes(spark, committed_at_us=5_000_000)
    before = sorted((r.k, r.v) for r in t.read(spark).collect())
    t.vacuum(retain_last=1)
    assert _glob.glob(os.path.join(root, "delete", "*")) == []
    assert before == sorted((r.k, r.v) for r in t.read(spark).collect())


def test_restore_carries_pending_deletes(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 50), committed_at_us=2_000_000)
    t.delete_mor(
        spark.createDataFrame([(7,), (8,)], "k bigint"), "k",
        committed_at_us=3_000_000,
    )
    t.apply_deletes(spark, committed_at_us=4_000_000)
    # restore to the pending-deletes snapshot: logical state preserved
    v = t.restore(3, committed_at_us=5_000_000)
    assert len(t.manifest(v)["delete_files"]) == 1
    got = {r.k for r in t.read(spark).collect()}
    assert 7 not in got and 8 not in got and 9 in got


def test_bucket_partition_prunes_point_lookups_across_specs(spark, tmp_path):
    t = _mk(spark, tmp_path)
    # gen 1 under bucket(k, 4); gen 2 (overlapping keys) under
    # bucket(k, 2) — partition-spec evolution, two specs in one table
    t.append(_df(spark, 0, 100), committed_at_us=2_000_000, bucket_by=("k", 4))
    assert len(t.manifest(2)["files"]) == 4
    t.append(
        spark.createDataFrame(
            [(10, 111), (11, 222)], "k bigint, v bigint"
        ),
        committed_at_us=3_000_000,
        bucket_by=("k", 2),
    )
    # lookup k=10: one file per spec survives (10%4=2, 10%2=0); the
    # other 4 skip on bucket metadata ALONE — every gen-1 bucket file
    # spans [~0, ~99] so min/max could never prune this
    kept, skipped = t.eq_files("k", 10)
    assert len(kept) == 2 and len(skipped) == 4
    assert {f["partition"]["value"] for f in kept} == {2, 0}
    rows = sorted((r.k, r.v) for r in t.read_eq(spark, "k", 10).collect())
    assert rows == [(10, 100), (10, 111)]
    # a file WITHOUT partition metadata (plain append) falls back to
    # stats pruning: k=999 can't contain 10, so it skips on min/max
    t.append(
        spark.createDataFrame([(999, 1)], "k bigint, v bigint"),
        committed_at_us=4_000_000,
    )
    kept, skipped = t.eq_files("k", 10)
    assert len(kept) == 2 and len(skipped) == 5
    assert any("partition" not in f for f in skipped)
    assert sorted(
        (r.k, r.v) for r in t.read_eq(spark, "k", 10).collect()
    ) == [(10, 100), (10, 111)]


def test_join_view_cross_term_is_load_bearing(spark):
    """The ΔA⋈ΔB cross term of matview_join_incremental must be (a)
    NON-EMPTY on the fixture — the merge window rewrites events whose
    users simultaneously change segment, otherwise the key would pass
    with the term dropped and prove nothing — and (b) load-bearing:
    the signed fold over v0+t1+t2 alone must NOT equal the direct
    head-state join."""
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.queries.lakehouse import (
        _materialize_dim_table,
        materialize_table,
        q_matview_join_incremental,
    )
    from tests.conftest import SF_DIR

    root_a = materialize_table(spark, SF_DIR)
    root_b = _materialize_dim_table(spark, SF_DIR)
    ta, tb = SnapshotTable(root_a), SnapshotTable(root_b)
    sgn = F.when(F.col("_change") == "insert", F.lit(1)).otherwise(F.lit(-1))
    acols = ["event_id", "user_id", "value", "event_type"]
    da = ta.read_changes(spark, 3, 4).select(*acols, sgn.alias("sa"))
    db = tb.read_changes(spark, 2, 3).select(
        "user_id", "segment", sgn.alias("sb")
    )
    assert da.join(db, "user_id").count() > 0  # (a) overlap exists
    # (b) direct head join == the incremental result (the oracle says
    # so too, but pin it here against the DIRECT Spark recompute), and
    # both differ from the fold with t3 dropped
    out_cols = ["event_id", "user_id", "value", "event_type", "segment"]
    direct = sorted(
        map(tuple, ta.read(spark, version=4).select(acols)
            .join(tb.read(spark, version=3), "user_id")
            .select(out_cols).collect())
    )
    incr = sorted(
        map(tuple, q_matview_join_incremental(spark, SF_DIR).collect())
    )
    assert incr == direct
    a0 = ta.read(spark, version=3).select(acols)
    b0 = tb.read(spark, version=2)
    v0 = a0.join(b0, "user_id").select(*out_cols, F.lit(1).alias("sign"))
    t1 = da.join(b0, "user_id").select(*out_cols, F.col("sa").alias("sign"))
    t2 = a0.join(db, "user_id").select(*out_cols, F.col("sb").alias("sign"))
    without_cross = sorted(
        map(tuple,
            v0.unionByName(t1).unionByName(t2)
            .groupBy(out_cols).agg(F.sum("sign").alias("m"))
            .filter(F.col("m") > 0).select(out_cols).collect())
    )
    assert without_cross != direct


# ---------------------------------------------------------------------------
# write-audit-publish
# ---------------------------------------------------------------------------


def test_wap_staged_invisible_until_publish(spark, tmp_path):
    """A staged batch is invisible to head reads, time travel, and the
    change feed; publish makes it visible exactly once."""
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 50), committed_at_us=2_000_000)
    v3 = t.append_wap(_df(spark, 50, 80), "w1", committed_at_us=3_000_000)
    assert t.read(spark).count() == 50          # head blind to staged
    assert t.read(spark, version=v3).count() == 50
    assert t.pending_wap_ids() == ["w1"]
    # audit sees the table as-if-published
    assert t.read_wap(spark, "w1").count() == 80
    # CDF over the stage commit: nothing
    assert t.read_changes(spark, 2, v3).count() == 0
    v4 = t.publish_wap("w1", committed_at_us=4_000_000)
    assert t.read(spark).count() == 80
    assert t.pending_wap_ids() == []
    # CDF emits the published rows as inserts AT the publish version
    ch = t.read_changes(spark, v3, v4).collect()
    assert len(ch) == 30
    assert {r._change for r in ch} == {"insert"}
    assert {r._commit_version for r in ch} == {v4}


def test_wap_abort_never_reaches_logical_state(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 50), committed_at_us=2_000_000)
    t.append_wap(_df(spark, 50, 80), "bad", committed_at_us=3_000_000)
    va = t.abort_wap("bad", committed_at_us=4_000_000)
    assert t.read(spark).count() == 50
    assert t.pending_wap_ids() == []
    assert t.read_changes(spark, 1, va).count() == 50  # only the real append
    with pytest.raises(LookupError):
        t.read_wap(spark, "bad")
    # time travel to the pre-abort version can still audit-read it
    assert t.read_wap(spark, "bad", version=3).count() == 80
    # after the retention window, vacuum reclaims the staged files
    import glob as _glob
    import os as _os

    t.append(_df(spark, 80, 90), committed_at_us=5_000_000)
    t.append(_df(spark, 90, 95), committed_at_us=6_000_000)
    t.vacuum(retain_last=2)
    assert _glob.glob(_os.path.join(t.root, "wap", "*.parquet")) == []


def test_wap_pending_carries_through_other_commits(spark, tmp_path):
    """Interleaved append, COW merge, and compaction all carry the
    pending staged batch; selective publish among two pending ids."""
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 50), committed_at_us=2_000_000)
    t.append_wap(_df(spark, 100, 130), "w1", committed_at_us=3_000_000)
    t.append_wap(_df(spark, 200, 220), "w2", committed_at_us=4_000_000)
    t.append(_df(spark, 50, 60), committed_at_us=5_000_000)
    t.merge(_df(spark, 0, 5), "k", committed_at_us=6_000_000)
    t.compact(spark, 1 << 20, committed_at_us=7_000_000)
    assert t.pending_wap_ids() == ["w1", "w2"]
    # each audit sees only its own batch on top of committed state
    assert t.read_wap(spark, "w1").count() == 60 + 30
    assert t.read_wap(spark, "w2").count() == 60 + 20
    t.publish_wap("w1", committed_at_us=8_000_000)
    assert t.read(spark).count() == 90
    assert t.pending_wap_ids() == ["w2"]
    t.abort_wap("w2", committed_at_us=9_000_000)
    assert t.read(spark).count() == 90
    # restore across the whole story keeps nothing staged resurrected
    assert t.pending_wap_ids() == []


def test_wap_publish_restamps_added_version_for_mor(spark, tmp_path):
    """A MOR equality delete committed while the batch was staged must
    NOT hide the published rows: publish re-stamps added_version
    (cherry-pick sequence numbers), so the delete's applies_below
    excludes them — while the audit read (pre-publish preview) does
    apply it."""
    from pyspark.sql import functions as F

    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 50), committed_at_us=2_000_000)
    t.append_wap(_df(spark, 40, 70), "w1", committed_at_us=3_000_000)
    keys = spark.range(45, 100).select(F.col("id").alias("k"))
    t.delete_mor(keys, "k", committed_at_us=4_000_000)
    # audit preview: delete applies to the staged rows too
    # (base 0..44 survive; staged 40..69 loses 45..69 -> 40..44 remain)
    assert t.read_wap(spark, "w1").count() == 45 + 5
    t.publish_wap("w1", committed_at_us=5_000_000)
    got = sorted(r.k for r in t.read(spark).collect())
    # base rows 0..44 survive the delete; published 40..69 ALL visible
    # (append semantics: 40..44 duplicate across base and batch)
    assert got == sorted(list(range(45)) + list(range(40, 70)))


def test_wap_streaming_source_emits_only_published(spark, tmp_path):
    """The table-as-stream source skips stage/abort commits and emits
    the published batch at its publish commit, tagged insert in CDF
    mode."""
    from journal_batch_processer_spark.queries.streaming_q import _await_drain
    from journal_batch_processer_spark.sources.python_source import register_once
    from journal_batch_processer_spark.sources.table_stream import (
        TableStreamSource,
    )

    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 20), committed_at_us=2_000_000)
    t.append_wap(_df(spark, 20, 35), "w1", committed_at_us=3_000_000)
    t.append_wap(_df(spark, 50, 60), "w2", committed_at_us=4_000_000)
    vp = t.publish_wap("w1", committed_at_us=5_000_000)
    t.abort_wap("w2", committed_at_us=6_000_000)
    register_once(spark, TableStreamSource)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("jbp_table_stream")
        .option("path", t.root)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_drain(q, "wap_stream_test")
    rows = spark.read.parquet(out).collect()
    ks = sorted(r.k for r in rows)
    assert ks == list(range(35))  # base 0..19 + published 20..34, no w2
    assert all(r._change == "insert" for r in rows)
    pub = [r for r in rows if r.k >= 20]
    assert {r.commit_version for r in pub} == {vp}


def test_incremental_band_index_equals_scratch(spark, tmp_path):
    """apply_index_changes over a multi-commit CDF window (COW merge
    THEN range delete — including a doc updated in the merge and
    deleted afterwards) reproduces the from-scratch band index of the
    head snapshot row-for-row."""
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.operators.dedup import (
        apply_index_changes,
        banded_signatures,
    )

    rows = [
        (i, f"alpha beta gamma delta epsilon zeta token{i} eta theta iota")
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    t = SnapshotTable.create(
        str(tmp_path / "docs"),
        [("doc_id", "bigint"), ("text", "string")],
        committed_at_us=1_000_000,
    )
    t.append(docs.repartitionByRange(2, "doc_id"), committed_at_us=2_000_000)
    batch = spark.createDataFrame(
        [
            (2, "alpha beta gamma delta epsilon zeta CHANGED eta theta"),
            (3, "alpha beta gamma delta epsilon zeta ALSO CHANGED theta"),
            (10, "alpha beta gamma delta epsilon zeta token0 eta theta iota"),
        ],
        "doc_id bigint, text string",
    )
    t.merge(batch, "doc_id", committed_at_us=3_000_000)
    # doc 3 (just updated) and doc 4 (untouched) now leave the table
    t.delete_range(spark, "doc_id", 3, 4, committed_at_us=4_000_000)
    idx0 = banded_signatures(t.read(spark, version=2), "doc_id", "text")
    ch = t.read_changes(spark, 2, t.latest_version())
    maintained = apply_index_changes(idx0, ch, "doc_id", "text")
    scratch = banded_signatures(t.read(spark), "doc_id", "text")
    assert sorted(map(tuple, maintained.collect())) == sorted(
        map(tuple, scratch.collect())
    )
    # non-vacuous: the window really nets updated-then-deleted to gone
    assert 3 not in {r.doc for r in maintained.collect()}


def test_stats_summary_metadata_only_contracts(spark, tmp_path):
    """stats_summary: exact counts/min/max from manifests; columns a
    file carries without stats report None (never a wrong number);
    pending MOR deletes fail loud (metadata would overcount)."""
    from pyspark.sql import functions as F

    t = _mk(spark, tmp_path)
    t.append(_df(spark, 10, 60), committed_at_us=2_000_000)
    t.append(_df(spark, 0, 10), committed_at_us=3_000_000)
    st = t.stats_summary(["k", "v"])
    assert st == {
        "n_rows": 60, "min_k": 0, "max_k": 59, "min_v": 0, "max_v": 590,
    }
    # a string column whose footer stats pyarrow reports are absent or
    # truncated must never produce a wrong bound: simulate a file with
    # the column but no stats entry
    man = t.manifest()
    man["files"][0]["stats"].pop("k")
    import json as _json
    import os as _os

    path = _os.path.join(t._manifest_dir, f"v{t.latest_version():05d}.json")
    _os.unlink(path)
    with open(path, "w") as fh:
        _json.dump(man, fh)
    st2 = t.stats_summary(["k", "v"])
    assert st2["min_k"] is None and st2["max_k"] is None
    assert st2["n_rows"] == 60 and st2["max_v"] == 590
    keys = spark.range(5).select(F.col("id").alias("k"))
    t.delete_mor(keys, "k", committed_at_us=4_000_000)
    with pytest.raises(NotImplementedError, match="apply_deletes"):
        t.stats_summary(["k"])


# ---------------------------------------------------------------------------
# merge-on-read POSITIONAL deletes (positions_where / delete_mor_pos)
# ---------------------------------------------------------------------------
def test_pos_delete_targets_one_physical_copy(spark, tmp_path):
    """A positional delete removes exactly the addressed rows — with
    every key physically duplicated, one copy dies and the other
    survives, which no equality predicate could express."""
    from pyspark.sql import functions as F

    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 40), committed_at_us=2_000_000)          # copy 1
    t.append(
        _df(spark, 0, 40).withColumn("v", F.col("v") + 1),
        committed_at_us=3_000_000,                                  # copy 2
    )
    pos = t.positions_where(spark, "k % 10 = 3", files_added_version=2)
    assert pos.count() == 4  # 3,13,23,33 — copy-1 rows only
    t.delete_mor_pos(pos, committed_at_us=4_000_000)
    # zero data files rewritten: v4 carries v3's files verbatim
    assert [f["path"] for f in t.manifest(4)["files"]] == [
        f["path"] for f in t.manifest(3)["files"]
    ]
    got = sorted((r.k, r.v) for r in t.read(spark).collect())
    for k in (3, 13, 23, 33):
        assert (k, k * 10) not in got       # copy-1 row gone
        assert (k, k * 10 + 1) in got       # duplicate copy-2 row lives
    assert (7, 70) in got and (7, 71) in got
    # manifest entry carries kind + named refs
    d = t.manifest(4)["delete_files"][0]
    assert d["kind"] == "pos" and set(d["refs"]) <= {
        f["path"] for f in t.manifest(2)["files"]
    }
    # a later re-insert of a deleted address's key is untouched by the
    # pending positional delete (it lives in an unreferenced new file)
    t.append(
        spark.createDataFrame([(3, 999)], "k bigint, v bigint"),
        committed_at_us=5_000_000,
    )
    assert (3, 999) in {(r.k, r.v) for r in t.read(spark).collect()}


def test_positions_where_excludes_hidden_rows_and_cdf_is_visible_only(
    spark, tmp_path
):
    """positions_where addresses only LOGICALLY visible rows; a stale
    address set aimed at a row an equality delete already hides emits
    no CDF row for it (the feed reports rows actually leaving)."""
    from pyspark.sql import functions as F

    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 100), committed_at_us=2_000_000)
    stale = t.positions_where(spark, "k = 20 or k = 21").collect()
    assert len(stale) == 2
    t.delete_mor(
        spark.createDataFrame([(20,)], "k bigint"), "k",
        committed_at_us=3_000_000,
    )
    # visible-only: the hidden k=20 row no longer has an address
    assert t.positions_where(spark, "k = 20 or k = 21").count() == 1
    stale_df = spark.createDataFrame(stale, "`_file` string, `_pos` bigint")
    t.delete_mor_pos(stale_df, committed_at_us=4_000_000)
    ch = [(r.k, r._change) for r in t.read_changes(spark, 3, 4).collect()]
    assert ch == [(21, "delete")]
    got = {r.k for r in t.read(spark).collect()}
    assert 20 not in got and 21 not in got and 22 in got


def test_pos_delete_unknown_path_fails_loud(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 10), committed_at_us=2_000_000)
    bad = spark.createDataFrame(
        [("data/nope.parquet", 0)], "`_file` string, `_pos` bigint"
    )
    with pytest.raises(ValueError, match="not in snapshot"):
        t.delete_mor_pos(bad)


def test_apply_deletes_folds_both_kinds(spark, tmp_path):
    """One maintenance rewrite resolves positional AND equality
    deletes: referenced/key-containing files rewrite, younger files
    carry, both delete files drop, content is identical."""
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 100), committed_at_us=2_000_000)  # files [0,49],[50,99]
    t.delete_mor_pos(
        t.positions_where(spark, "k = 5"), committed_at_us=3_000_000
    )
    t.delete_mor(
        spark.createDataFrame([(60,)], "k bigint"), "k",
        committed_at_us=4_000_000,
    )
    t.append(_df(spark, 100, 110), committed_at_us=5_000_000)  # younger, untouched
    before = sorted((r.k, r.v) for r in t.read(spark).collect())
    v = t.apply_deletes(spark, committed_at_us=6_000_000)
    man = t.manifest(v)
    assert not man.get("delete_files")
    assert man["rewrite_deletes"]["rewritten_files"] == 2
    assert man["rewrite_deletes"]["carried_files"] == 2
    assert before == sorted((r.k, r.v) for r in t.read(spark).collect())
    assert t.read_changes(spark, 5, v).count() == 0
    # the guard held while deletes were pending
    t2 = _mk(spark, tmp_path, name="t2")
    t2.append(_df(spark, 0, 10), committed_at_us=2_000_000)
    t2.delete_mor_pos(t2.positions_where(spark, "k = 1"), committed_at_us=3_000_000)
    with pytest.raises(NotImplementedError, match="apply_deletes"):
        t2.compact(spark, 10**6)


# ---------------------------------------------------------------------------
# concurrent multi-writer stress (VERDICT r09 item 2)
# ---------------------------------------------------------------------------
def _hammer_commits(args):
    """Worker for the multiprocess commit race: repeatedly read the
    head and try to commit the next version. Pure-Python metadata ops
    only (no Spark/JVM touched in the child)."""
    root, wid, n_ops = args
    from journal_batch_processer_spark.operators.table_format import (
        CommitConflictError,
        SnapshotTable,
    )

    t = SnapshotTable(root)
    won = []
    for i in range(n_ops):
        while True:
            man = t.manifest(t.latest_version())
            out = {
                "format_version": 1,
                "version": man["version"] + 1,
                "parent": man["version"],
                "operation": "append",
                "committed_at_us": man["committed_at_us"] + 1,
                "schema": man["schema"],
                "files": man["files"],
                "writer": wid,
                "op_seq": i,
            }
            try:
                won.append(t._try_commit(out))
                break
            except CommitConflictError:
                continue
    return wid, won


def test_concurrent_processes_exactly_one_winner_per_version(spark, tmp_path):
    """SEPARATE PROCESSES hammer the commit protocol: 6 workers × 20
    commits each race `link(2)` for every version. Exactly one winner
    per version, an unbroken parent chain, every worker's every op
    lands exactly once, no temp debris."""
    import multiprocessing as mp

    t = _mk(spark, tmp_path)
    ctx = mp.get_context("fork")
    n_workers, n_ops = 6, 20
    with ctx.Pool(n_workers) as pool:
        results = pool.map(
            _hammer_commits, [(t.root, w, n_ops) for w in range(n_workers)]
        )
    head = t.latest_version()
    assert head == 1 + n_workers * n_ops
    # one manifest per version, parent chain unbroken
    assert t.versions() == list(range(1, head + 1))
    for v in range(2, head + 1):
        assert t.manifest(v)["parent"] == v - 1
    # every (writer, op_seq) landed exactly once, at its claimed version
    seen = {}
    for v in range(2, head + 1):
        man = t.manifest(v)
        key = (man["writer"], man["op_seq"])
        assert key not in seen
        seen[key] = v
    assert len(seen) == n_workers * n_ops
    for wid, won in results:
        assert sorted(won) == sorted(
            v for (w, _), v in seen.items() if w == wid
        )
    assert [p for p in os.listdir(t._manifest_dir) if p.startswith(".tmp")] == []


def test_concurrent_interleaved_writers_model_equal(spark, tmp_path):
    """GENUINELY CONCURRENT interleaved writers: 4 threads race
    append / COW MERGE / MOR equality delete / MOR positional delete /
    apply_deletes / WAP stage+publish against ONE table, each op in a
    retry loop that replans on CommitConflictError (and resolves
    pending deletes when the rewrite guard fires) — so writers really
    do plan against head X while another lands X+1, exercising the
    optimistic-rebase paths. Threads share the JVM, but the commit
    section is pure-Python `link(2)` — the same kernel arbitration as
    separate processes (pinned by the multiprocess hammer above); what
    threads add is concurrent PLANNING over shared files, which is
    where rebase bugs live. Key spaces are thread-disjoint (cross-key
    concurrency is last-wins by contract), yet files span threads, so
    one thread's merge rewrites files holding another thread's rows —
    correctness is on the hook. Asserts: unbroken chain, and the final
    table equals a dict model replaying the COMMITTED ops in version
    order."""
    import threading

    from pyspark.sql import functions as F

    t0 = _mk(spark, tmp_path)
    n_threads = 4
    committed: dict[int, tuple] = {}  # version -> (op, payload)
    lock = threading.Lock()
    barrier = threading.Barrier(n_threads)
    errors: list = []

    def record(version, op, payload):
        with lock:
            assert version not in committed, f"two ops claim v{version}"
            committed[version] = (op, payload)

    def retry(fn, t, *, max_tries=25):
        """Run fn() retrying the races its contract makes retryable."""
        for _ in range(max_tries):
            try:
                return fn()
            except CommitConflictError:
                continue
            except NotImplementedError:
                # rewrite guard: pending deletes — resolve them first
                try:
                    v = t.apply_deletes(spark)
                    record(v, "noop", None)
                except (ValueError, CommitConflictError):
                    pass  # someone else resolved / won; replan
                continue
            except ValueError as e:
                if "not in snapshot" in str(e):
                    continue  # pos refs went stale under a rewrite; replan
                raise
        raise AssertionError("op starved after max retries")

    def rows(lo, hi, mul=1):
        return [(k, k * 10 * mul) for k in range(lo, hi)]

    def mk_df(pairs):
        return spark.createDataFrame(pairs, "k bigint, v bigint").repartition(2)

    def writer(tid):
        try:
            t = SnapshotTable(t0.root)
            B = 10_000 * (tid + 1)
            barrier.wait()
            # 1. append a fresh key range
            p1 = rows(B, B + 60)
            record(t.append(mk_df(p1)), "insert", p1)
            # 2. COW merge: update the low 20, insert 20 more
            p2 = rows(B, B + 20, mul=7) + rows(B + 200, B + 220)
            record(
                retry(lambda: t.merge(mk_df(p2), "k"), t), "upsert", p2
            )
            # 2b. MOR merge: zero-rewrite upsert racing the COW merges
            p2b = rows(B + 40, B + 50, mul=3) + rows(B + 240, B + 250)
            record(
                retry(lambda: t.merge_mor(mk_df(p2b), "k"), t), "upsert", p2b
            )
            # 3. MOR equality delete
            d3 = list(range(B + 50, B + 58))
            record(
                retry(
                    lambda: t.delete_mor(
                        spark.createDataFrame([(k,) for k in d3], "k bigint"),
                        "k",
                    ),
                    t,
                ),
                "delete",
                d3,
            )
            # 4. MOR positional delete (addresses replanned per retry)
            d4 = list(range(B + 30, B + 35))
            cond = f"k >= {B + 30} and k < {B + 35}"
            record(
                retry(
                    lambda: t.delete_mor_pos(t.positions_where(spark, cond)),
                    t,
                ),
                "delete",
                d4,
            )
            # 5. WAP: stage, audit is assumed green, publish
            p5 = rows(B + 300, B + 320)
            wid = f"wap-{tid}"
            retry(lambda: t.append_wap(mk_df(p5), wid), t)
            record(retry(lambda: t.publish_wap(wid), t), "insert", p5)
            # 6. resolve anything still pending (may be a no-op)
            try:
                record(retry(lambda: t.apply_deletes(spark), t), "noop", None)
            except (ValueError, AssertionError):
                pass
        except Exception as e:  # surfaced after join
            errors.append((tid, e))

    threads = [
        threading.Thread(target=writer, args=(i,)) for i in range(n_threads)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not errors, errors

    head = t0.latest_version()
    assert t0.versions() == list(range(1, head + 1))
    for v in range(2, head + 1):
        assert t0.manifest(v)["parent"] == v - 1
    # replay the committed ops in version order through a dict model
    model: dict[int, int] = {}
    for v in sorted(committed):
        op, payload = committed[v]
        if op == "insert":
            for k, val in payload:
                assert k not in model
                model[k] = val
        elif op == "upsert":
            model.update(payload)
        elif op == "delete":
            for k in payload:
                model.pop(k, None)
    got = sorted((r.k, r.v) for r in t0.read(spark).collect())
    assert got == sorted(model.items())


# ---------------------------------------------------------------------------
# merge-on-read MERGE (merge_mor)
# ---------------------------------------------------------------------------
def test_merge_mor_equals_cow_rewrites_nothing_cdf_parity(spark, tmp_path):
    """merge_mor and COW merge share one logical contract: same end
    state, same change feed — but merge_mor carries every data file
    verbatim (positional delete + appended batch only)."""
    batch = spark.createDataFrame(
        [(5, 999), (20, 888), (200, 777), (201, 666)], "k bigint, v bigint"
    )
    tm = _mk(spark, tmp_path, name="mor")
    tm.append(_df(spark, 0, 100), committed_at_us=2_000_000)
    tm.merge_mor(batch, "k", committed_at_us=3_000_000)
    tc = _mk(spark, tmp_path, name="cow")
    tc.append(_df(spark, 0, 100), committed_at_us=2_000_000)
    tc.merge(batch, "k", committed_at_us=3_000_000)
    assert sorted((r.k, r.v) for r in tm.read(spark).collect()) == sorted(
        (r.k, r.v) for r in tc.read(spark).collect()
    )
    p2 = {f["path"] for f in tm.manifest(2)["files"]}
    p3 = {f["path"] for f in tm.manifest(3)["files"]}
    assert p2 <= p3  # zero rewrite
    d = tm.manifest(3)["delete_files"][0]
    assert d["kind"] == "pos" and set(d["refs"]) <= p2
    assert sorted(
        (r.k, r.v, r._change) for r in tm.read_changes(spark, 2, 3).collect()
    ) == sorted(
        (r.k, r.v, r._change) for r in tc.read_changes(spark, 2, 3).collect()
    )
    # a same-value upsert emits NOTHING on either path (the exceptAll
    # symmetric-difference CDF contract both verbs share)
    noop = spark.createDataFrame([(30, 300)], "k bigint, v bigint")
    tm.merge_mor(noop, "k", committed_at_us=4_000_000)
    tc.merge(noop, "k", committed_at_us=4_000_000)
    assert tm.read_changes(spark, 3, 4).count() == 0
    assert tc.read_changes(spark, 3, 4).count() == 0


def test_merge_mor_over_pending_deletes_and_fold(spark, tmp_path):
    """merge_mor commits over pending deletes (COW merge guards
    there): the batch re-upserts a hidden key (unmatched → insert),
    and apply_deletes folds the whole stack content-identically."""
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 50), committed_at_us=2_000_000)
    t.delete_mor(
        spark.createDataFrame([(7,), (9,)], "k bigint"), "k",
        committed_at_us=3_000_000,
    )
    batch = spark.createDataFrame([(7, 123), (8, 456)], "k bigint, v bigint")
    with pytest.raises(NotImplementedError):
        t.merge(batch, "k")  # COW guards over pending deletes
    t.merge_mor(batch, "k", committed_at_us=4_000_000)
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got[7] == 123 and got[8] == 456 and 9 not in got and got[6] == 60
    before = sorted(got.items())
    t.apply_deletes(spark, committed_at_us=5_000_000)
    assert sorted((r.k, r.v) for r in t.read(spark).collect()) == before
    assert not t.manifest().get("delete_files")


def test_merge_mor_stream_batching_invariance_and_replay(spark, tmp_path):
    """The same upsert stream split into different micro-batch
    boundaries must produce the identical end state through
    merge_mor_stream_batch (the `resolve` contract), and a replayed
    batch id must be a no-op (exactly-once)."""
    rows = [(k % 7, 10 * i + k, (10 * i + k) * 100) for i, k in enumerate(range(20))]

    def run(splits, name):
        t = SnapshotTable.create(
            str(tmp_path / name),
            [("k", "bigint"), ("v", "bigint"), ("seq", "bigint")],
            committed_at_us=1_000_000,
        )
        bid = 0
        for lo, hi in splits:
            df = spark.createDataFrame(
                rows[lo:hi], "k bigint, v bigint, seq bigint"
            )
            t.merge_mor_stream_batch(df, bid, key="k", resolve="seq")
            bid += 1
        return t

    ta = run([(0, 5), (5, 12), (12, 20)], "a")
    tb = run([(0, 14), (14, 20)], "b")
    got_a = sorted((r.k, r.v, r.seq) for r in ta.read(spark).collect())
    got_b = sorted((r.k, r.v, r.seq) for r in tb.read(spark).collect())
    assert got_a == got_b and len(got_a) == 7
    # replay of an already-committed batch id is a no-op
    head = ta.latest_version()
    assert ta.merge_mor_stream_batch(
        spark.createDataFrame([(0, 1, 2)], "k bigint, v bigint, seq bigint"),
        1,
        key="k",
        resolve="seq",
    ) is None
    assert ta.latest_version() == head
    # zero rewrites across the whole drain: every commit carries all
    # prior data files
    for v in range(3, head + 1):
        prev = {f["path"] for f in ta.manifest(v - 1)["files"]}
        assert prev <= {f["path"] for f in ta.manifest(v)["files"]}


# ---------------------------------------------------------------------------
# branches (create_branch / fast_forward / drop_branch)
# ---------------------------------------------------------------------------
def test_branch_isolation_vacuum_protection_and_ff(spark, tmp_path):
    import glob as _glob

    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 100), committed_at_us=2_000_000)
    b = t.create_branch("audit")
    b.merge(
        spark.createDataFrame([(5, 999), (200, 777)], "k bigint, v bigint"),
        "k", committed_at_us=3_000_000,
    )
    b.append(_df(spark, 300, 310), committed_at_us=4_000_000)
    # isolation both ways: main blind to branch commits, branch sees its own
    assert t.latest_version() == 2 and b.latest_version() == 4
    assert t.read(spark).count() == 100 and b.read(spark).count() == 111
    # vacuum on main keeps every branch-referenced file (the merge
    # rewrote a main file: without protection it would be reclaimed)
    t.vacuum(retain_last=1)
    assert b.read(spark).count() == 111
    # fast-forward: main takes the branch line, metadata-only
    assert t.fast_forward("audit") == 4
    assert sorted((r.k, r.v) for r in t.read(spark).collect()) == sorted(
        (r.k, r.v) for r in b.read(spark).collect()
    )
    # time travel on main now resolves the branch-made commits
    assert t.read(spark, version=3).count() == 101
    # drop_branch reclaims what only the branch referenced (vacuum
    # can never see those files — they are in no main manifest)
    t2 = _mk(spark, tmp_path, name="t2")
    t2.append(_df(spark, 0, 10), committed_at_us=2_000_000)
    b2 = t2.create_branch("tmp")
    b2.append(_df(spark, 50, 60), committed_at_us=3_000_000)
    n_before = len(_glob.glob(os.path.join(t2.root, "data", "*")))
    t2.vacuum(retain_last=1)
    assert len(_glob.glob(os.path.join(t2.root, "data", "*"))) == n_before
    out = t2.drop_branch("tmp")
    assert out["files_removed"] > 0
    assert len(_glob.glob(os.path.join(t2.root, "data", "*"))) < n_before
    assert t2.read(spark).count() == 10


def test_branch_divergent_ff_and_guards(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 10), committed_at_us=2_000_000)
    b = t.create_branch("x")
    b.append(_df(spark, 20, 30), committed_at_us=3_000_000)
    t.append(_df(spark, 40, 50), committed_at_us=3_500_000)  # main diverges
    with pytest.raises(CommitConflictError, match="rebase"):
        t.fast_forward("x")
    # main state untouched by the refused fast-forward
    assert {r.k for r in t.read(spark).collect()} == set(range(10)) | set(
        range(40, 50)
    )
    with pytest.raises(ValueError, match="main handle"):
        b.create_branch("y")
    with pytest.raises(ValueError, match="main handle"):
        b.vacuum(retain_last=1)
    with pytest.raises(ValueError, match="already exists"):
        t.create_branch("x")
    with pytest.raises(ValueError, match="bad branch name"):
        t.create_branch("a/b")
    with pytest.raises(LookupError):
        t.fast_forward("nope")
    with pytest.raises(LookupError):
        t.drop_branch("nope")


# ---------------------------------------------------------------------------
# bloom file skipping (append bloom_for / read_bloom_point)
# ---------------------------------------------------------------------------
def test_bloom_skips_where_stats_cannot(spark, tmp_path):
    """Round-robin layout: every file spans the whole key range, so
    min/max stats keep ALL files; the bloom must still prune to the
    few files that really contain the probe — and never lose a row."""
    from pyspark.sql import functions as F

    t = _mk(spark, tmp_path)
    base = spark.range(4000).select(
        (F.col("id") * 2654435761 % 100000).alias("k"), F.col("id").alias("v")
    )
    t.append(base.repartition(8), committed_at_us=2_000_000, bloom_for=["k"])
    man = t.manifest()
    assert all("k" in (f.get("blooms") or {}) for f in man["files"])
    # probe a MID-RANGE value (closest to 50000): inside every file's
    # [min,max] by construction, so stats alone cannot skip anything
    probe = int(
        base.orderBy(F.abs(F.col("k") - 50000)).limit(1).collect()[0].k
    )
    kept_stats, skipped_stats = t.eq_files("k", probe)
    assert len(skipped_stats) == 0
    kept, skipped = t.bloom_files("k", probe)
    assert len(skipped) >= 6  # bloom does the real pruning
    got = sorted(r.v for r in t.read_bloom_point(spark, "k", probe).collect())
    want = sorted(
        r.v for r in t.read(spark).filter(F.col("k") == probe).collect()
    )
    assert got == want and got
    # absent key: every file skipped, zero rows — and a value that
    # hashes outside every file's set can't resurrect
    kept2, _ = t.bloom_files("k", 999_999_999)
    assert kept2 == []
    assert t.read_bloom_point(spark, "k", 999_999_999).count() == 0
    # files without blooms are conservatively kept (probe inside the
    # new file's stats range so only the missing bloom is in play)
    t.append(_df(spark, 0, 10), committed_at_us=3_000_000)  # no bloom_for
    kept3, _ = t.bloom_files("k", 5)
    assert any("blooms" not in f for f in kept3)


def test_delete_where_and_stats_under_pos_deletes(spark, tmp_path):
    """delete_where commits a predicate as a positional delete in one
    call; stats_summary stays EXACT on row count under pure-positional
    pending deletes (physical addresses count metadata-side), reports
    min/max as unknowable, and still fails loud once an equality
    delete stacks."""
    from pyspark.sql import functions as F

    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 100), committed_at_us=2_000_000)
    t.delete_where(spark, "k % 10 = 3", committed_at_us=3_000_000)
    assert {r.k for r in t.read(spark).collect()} == {
        i for i in range(100) if i % 10 != 3
    }
    st = t.stats_summary(["k"])
    assert st["n_rows"] == 90
    assert st["min_k"] is None and st["max_k"] is None
    # overlapping second predicate: shared addresses must not
    # double-subtract (distinct across delete files)
    t.delete_where(spark, "k >= 30 and k < 40", committed_at_us=4_000_000)
    assert t.stats_summary([])["n_rows"] == 81  # 90 - 9 (33 already gone)
    assert t.read(spark).count() == 81
    t.delete_mor(
        spark.createDataFrame([(7,)], "k bigint"), "k",
        committed_at_us=5_000_000,
    )
    with pytest.raises(NotImplementedError, match="apply_deletes"):
        t.stats_summary(["k"])


def test_gc_orphans_removes_uncommitted_keeps_referenced(spark, tmp_path):
    """A crashed writer's renamed-but-never-committed file is an
    orphan: invisible to readers but not free. gc_orphans reclaims it
    (after the in-flight grace window), never touching referenced
    files — including ones only a BRANCH references."""
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 50), committed_at_us=2_000_000)
    b = t.create_branch("wip")
    b.append(_df(spark, 100, 110), committed_at_us=3_000_000)
    # simulate the crash: a staged file renamed into data/ whose
    # commit never landed
    orphan = os.path.join(t.root, "data", "v99999-0000-deadbeef.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")
    before = t.read(spark).count()
    # inside the grace window: kept (possibly in-flight)
    assert t.gc_orphans(older_than_s=3600)["files_removed"] == 0
    assert os.path.exists(orphan)
    out = t.gc_orphans(older_than_s=0)
    assert out["files_removed"] == 1 and not os.path.exists(orphan)
    # everything referenced survives — main and branch alike
    assert t.read(spark).count() == before
    assert b.read(spark).count() == 60
    with pytest.raises(ValueError, match="main handle"):
        b.gc_orphans()


def test_matview_incremental_over_merge_mor_cdf(spark, tmp_path):
    """A CDF-maintained aggregate view folds a merge_mor commit
    exactly like a COW merge: apply the signed change feed (+insert /
    -delete) to the pre-merge base aggregate and match the direct
    post-merge aggregate — the Delta-Live-Tables loop over the new
    commit kind."""
    from pyspark.sql import functions as F

    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 100), committed_at_us=2_000_000)
    base = (
        t.read(spark, version=2)
        .groupBy((F.col("k") % 5).alias("g"))
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
    )
    batch = spark.createDataFrame(
        [(5, 999), (20, 888), (200, 777)], "k bigint, v bigint"
    )
    t.merge_mor(batch, "k", committed_at_us=3_000_000)
    ch = t.read_changes(spark, 2, 3).withColumn(
        "sgn", F.when(F.col("_change") == "insert", F.lit(1)).otherwise(F.lit(-1))
    )
    delta = ch.groupBy((F.col("k") % 5).alias("g")).agg(
        F.sum(F.col("v") * F.col("sgn")).alias("ds"),
        F.sum("sgn").alias("dn"),
    )
    folded = (
        base.join(delta, "g", "full")
        .select(
            "g",
            (F.coalesce("s", F.lit(0)) + F.coalesce("ds", F.lit(0))).alias("s"),
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
        )
        .filter(F.col("n") > 0)
    )
    direct = (
        t.read(spark)
        .groupBy((F.col("k") % 5).alias("g"))
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
    )
    assert sorted(map(tuple, folded.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_two_process_spark_writers_race(spark, tmp_path):
    """TWO SEPARATE PROCESSES, each with its OWN SparkSession/JVM,
    race full table ops (append / MOR merge / predicate positional
    delete / apply_deletes) against one table — the genuinely
    concurrent multi-writer shape a 100 TB lakehouse sees daily.
    Every committed op is logged by its winner; the parent replays
    the union in committed-version order through a dict model and
    must match the final table exactly: no lost update, no double
    apply, no mis-carried file under cross-process interleaving."""
    import json
    import subprocess
    import sys

    t = _mk(spark, tmp_path)
    worker = os.path.join(os.path.dirname(__file__), "race_worker.py")
    procs = []
    logs = []
    for wid in range(2):
        lp = str(tmp_path / f"race-{wid}.jsonl")
        logs.append(lp)
        procs.append(
            subprocess.Popen(
                [sys.executable, worker, t.root, str(wid), lp],
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
            )
        )
    for p in procs:
        out, err = p.communicate(timeout=420)
        assert p.returncode == 0, err.decode()[-2000:]
    committed: dict[int, tuple] = {}
    for lp in logs:
        with open(lp) as fh:
            for line in fh:
                rec = json.loads(line)
                assert rec["v"] not in committed, f"two ops claim v{rec['v']}"
                committed[rec["v"]] = (rec["op"], rec["p"])
    head = t.latest_version()
    assert t.versions() == list(range(1, head + 1))
    for v in range(2, head + 1):
        assert t.manifest(v)["parent"] == v - 1
    model: dict[int, int] = {}
    for v in sorted(committed):
        op, payload = committed[v]
        if op == "insert":
            for k, val in payload:
                model[k] = val
        elif op == "upsert":
            model.update((k, val) for k, val in payload)
        elif op == "delete":
            for k in payload:
                model.pop(k, None)
    got = sorted((r.k, r.v) for r in t.read(spark).collect())
    assert got == sorted(model.items())


def test_tags_pin_versions_through_vacuum_and_time_retention(spark, tmp_path):
    """Tags are immutable version pins that survive vacuum; the
    older_than_us knob keeps young snapshots regardless of count —
    the two retention rules compose with tag protection."""
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 50), committed_at_us=2_000_000)
    t.merge(
        spark.createDataFrame([(5, 999)], "k bigint, v bigint"), "k",
        committed_at_us=3_000_000,
    )
    t.append(_df(spark, 100, 110), committed_at_us=9_000_000)
    assert t.create_tag("rel-1", 2) == 2
    with pytest.raises(ValueError, match="immutable"):
        t.create_tag("rel-1", 3)
    # time-based retention keeps v3/v4 (young) + v2 (tagged); v1 expires
    t.vacuum(retain_last=1, older_than_us=2_500_000)
    assert t.versions() == [2, 3, 4]
    assert sorted(r.k for r in t.read_tag(spark, "rel-1").collect()) == list(
        range(50)
    )
    # drop the tag: the next count-based vacuum expires v2
    t.drop_tag("rel-1")
    t.vacuum(retain_last=1)
    assert t.versions() == [4]
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=2)
    with pytest.raises(LookupError):
        t.read_tag(spark, "rel-1")
    with pytest.raises(ValueError, match="bad tag name"):
        t.create_tag("a b")


def test_tag_create_race_exactly_one_winner(spark, tmp_path):
    """Two processes racing create_tag on one name: exactly one wins
    (exclusive link, no read-modify-write window), and concurrent
    DIFFERENT names never clobber each other."""
    import multiprocessing as mp

    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 10), committed_at_us=2_000_000)
    ctx = mp.get_context("fork")
    with ctx.Pool(4) as pool:
        results = pool.map(
            _tag_race_worker, [(t.root, w) for w in range(4)]
        )
    # same-name race: exactly one of the 4 workers won "rel"
    assert sum(r[0] for r in results) == 1
    # per-worker unique names: all landed
    assert t.tags()["rel"] in (2,)
    for w in range(4):
        assert t.tags()[f"w{w}"] == 2


def _tag_race_worker(args):
    root, wid = args
    from journal_batch_processer_spark.operators.table_format import (
        SnapshotTable,
    )

    t = SnapshotTable(root)
    won = 1
    try:
        t.create_tag("rel", 2)
    except ValueError:
        won = 0
    t.create_tag(f"w{wid}", 2)
    return (won, wid)


def test_table_stream_follows_branch(spark, tmp_path):
    """The streaming source with .option('branch', name) follows the
    BRANCH commit log: branch appends arrive, main's post-fork append
    does not; the main stream sees the inverse."""
    from journal_batch_processer_spark.queries.streaming_q import _await_drain
    from journal_batch_processer_spark.sources.python_source import register_once
    from journal_batch_processer_spark.sources.table_stream import (
        TableStreamSource,
    )

    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 10), committed_at_us=2_000_000)   # shared fork line
    b = t.create_branch("etl")
    b.append(_df(spark, 100, 105), committed_at_us=3_000_000)  # branch-only
    t.append(_df(spark, 200, 205), committed_at_us=3_500_000)  # main-only

    register_once(spark, TableStreamSource)

    def drain(branch):
        out = str(tmp_path / f"out-{branch or 'main'}")
        ckpt = str(tmp_path / f"ckpt-{branch or 'main'}")
        r = spark.readStream.format("jbp_table_stream").option("path", t.root)
        if branch:
            r = r.option("branch", branch)
        q = (
            r.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_drain(q, "branch_stream_test")
        return {r.k for r in spark.read.parquet(out).collect()}

    got_branch = drain("etl")
    got_main = drain(None)
    shared = set(range(10))
    assert got_branch == shared | set(range(100, 105))
    assert got_main == shared | set(range(200, 205))


def test_table_stream_cdf_over_merge_mor_and_pos_delete(spark, tmp_path):
    """The readChangeFeed stream consumes merge_mor and positional-
    delete commits from their write-time cdc_files — tagged rows,
    correct commit versions, nothing doubled."""
    from journal_batch_processer_spark.queries.streaming_q import _await_drain
    from journal_batch_processer_spark.sources.python_source import register_once
    from journal_batch_processer_spark.sources.table_stream import (
        TableStreamSource,
    )

    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 20), committed_at_us=2_000_000)
    t.merge_mor(
        spark.createDataFrame([(5, 999), (100, 111)], "k bigint, v bigint"),
        "k", committed_at_us=3_000_000,
    )
    t.delete_where(spark, "k = 7", committed_at_us=4_000_000)
    register_once(spark, TableStreamSource)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("jbp_table_stream")
        .option("path", t.root)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_drain(q, "cdf_mor_test")
    got = sorted(
        (r.k, r.v, r._change, r.commit_version)
        for r in spark.read.parquet(out).filter("commit_version > 2").collect()
    )
    assert got == [
        (5, 50, "delete", 3),
        (5, 999, "insert", 3),
        (7, 70, "delete", 4),
        (100, 111, "insert", 3),
    ]


def test_pos_delete_across_schema_evolution(spark, tmp_path):
    """A positional delete addressing rows in a PRE-EVOLUTION file:
    the reader must null-fill the old file's missing column AND apply
    the (file, pos) anti-join in the same pass; apply_deletes folds it
    with the evolved schema intact."""
    from pyspark.sql import functions as F

    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 20), committed_at_us=2_000_000)  # pre-evolution
    t.append(
        spark.createDataFrame([(100, 1000, 7)], "k bigint, v bigint, extra bigint"),
        committed_at_us=3_000_000,
        new_columns=[("extra", "bigint")],
    )
    t.delete_where(spark, "k >= 5 and k < 8", committed_at_us=4_000_000)
    got = t.read(spark)
    assert set(got.columns) == {"k", "v", "extra"}
    rows = {r.k: (r.v, r.extra) for r in got.collect()}
    assert 5 not in rows and 6 not in rows and 7 not in rows
    assert rows[4] == (40, None) and rows[100] == (1000, 7)
    t.apply_deletes(spark, committed_at_us=5_000_000)
    rows2 = {r.k: (r.v, r.extra) for r in t.read(spark).collect()}
    assert rows2 == rows


def test_branch_and_maintenance_race_model(spark, tmp_path):
    """Randomized MULTI-PROCESS ref + maintenance race (VERDICT r11
    item 4): two writer JVMs (append / MOR upsert / predicate delete),
    one brancher JVM (create_branch → branch appends → fast_forward or
    drop_branch), and one maintenance process (gc_orphans + count- and
    time-based vacuum) all race one table, across 3 seeds. The parent
    replays the union of the committed-op logs in version order
    through a dict model; the final table read must match exactly —
    a lost update, a double apply, a vacuum/gc reclaiming a live file,
    or a fast-forward/drop corrupting main all surface as a mismatch
    (or a worker traceback). A planted pre-aged orphan file must be
    reclaimed by gc, proving maintenance really ran."""
    import json
    import subprocess
    import sys
    import time as _time

    worker = os.path.join(os.path.dirname(__file__), "branch_race_worker.py")
    for seed in (1, 2, 3):
        t = _mk(spark, tmp_path, name=f"race{seed}")
        seed_v = t.append(_df(spark, 0, 10), committed_at_us=2_000_000)
        # planted orphan: on disk, referenced by no manifest, old
        # enough to clear the gc grace window
        orphan = os.path.join(t.root, "data", "orphan-planted.parquet")
        with open(orphan, "wb") as fh:
            fh.write(b"junk")
        os.utime(orphan, (_time.time() - 3600, _time.time() - 3600))

        roles = ["writer0", "writer1", "brancher", "maint"]
        procs, logs = [], {}
        for role in roles:
            lp = str(tmp_path / f"race{seed}-{role}.jsonl")
            logs[role] = lp
            procs.append(
                (
                    role,
                    subprocess.Popen(
                        [sys.executable, worker, t.root, role, str(seed), lp],
                        stdout=subprocess.PIPE,
                        stderr=subprocess.PIPE,
                    ),
                )
            )
        for role, p in procs:
            out, err = p.communicate(timeout=600)
            assert p.returncode == 0, f"{role}: {err.decode()[-3000:]}"

        committed: dict[int, tuple] = {}
        for role in ("writer0", "writer1", "brancher"):
            with open(logs[role]) as fh:
                for line in fh:
                    rec = json.loads(line)
                    assert rec["v"] not in committed, (
                        f"seed {seed}: two ops claim v{rec['v']}"
                    )
                    committed[rec["v"]] = (rec["op"], rec["p"])

        # retained manifest suffix is contiguous with intact parents
        vs = t.versions()
        head = vs[-1]
        assert vs == list(range(vs[0], head + 1))
        for v in vs[1:]:
            assert t.manifest(v)["parent"] == v - 1
        # every committed op at or after the retained floor has a log
        # row (version numbers the logs never claimed would mean an
        # unlogged commit — e.g. a double-published fast-forward)
        for v in vs:
            if v > seed_v:
                assert v in committed, f"seed {seed}: v{v} has no log row"

        model: dict[int, int] = {}
        for v in sorted(committed):
            op, payload = committed[v]
            if op == "insert":
                for k, val in payload:
                    model[k] = val
            elif op == "upsert":
                model.update((k, val) for k, val in payload)
            elif op == "delete":
                for k in payload:
                    model.pop(k, None)
            # "noop" (apply_deletes maintenance commits): no change
        for k in range(10):  # the parent's seed append
            model.setdefault(k, k * 10)
        got = sorted((r.k, r.v) for r in t.read(spark).collect())
        assert got == sorted(model.items()), f"seed {seed}: model mismatch"

        assert t.branches() == [], f"seed {seed}: leftover branch refs"
        assert not os.path.exists(orphan), (
            f"seed {seed}: planted orphan survived gc"
        )
        with open(logs["maint"]) as fh:
            stats = json.loads(fh.read())["stats"]
        assert stats["gc_files"] >= 1  # at least the planted orphan
