"""CLI surface smoke test: the reference's command-line workflow."""

from __future__ import annotations

import csv
import glob
import os

from journal_batch_processer_spark.cli import main


def test_cli_format_split(spark, fixture_csv, tmp_path):
    rc = main(
        [
            fixture_csv,
            "-f",
            "-s",
            "--out-dir",
            str(tmp_path),
            "--single-file",
            "--strict-reference-mode",
        ]
    )
    assert rc == 0
    f_dir = os.path.join(str(tmp_path), "f_item_records.csv")
    s_dir = os.path.join(str(tmp_path), "s_item_records.csv")
    assert os.path.isdir(f_dir) and os.path.isdir(s_dir)
    part = glob.glob(s_dir + "/part-*.csv")
    assert len(part) == 1  # --single-file
    lines = open(part[0]).read().splitlines()
    header = lines[0].split(",")
    assert header[-2:] == ["Pattern", "Notes"]
    assert len(lines) == 169  # header + 168 fixture rows


def test_cli_refuses_update_without_review(fixture_csv, tmp_path):
    rc = main([fixture_csv, "-f", "-u", "--items-remote", "x.parquet",
               "--out-dir", str(tmp_path)])
    assert rc == 1


def _remote_store(spark, fixture_csv, path):
    """Remote item store (FIXTURES.md A3) for the fixture's barcodes:
    every 10th barcode missing (404), every 7th failing its PUT (409),
    an ``item`` struct per row."""
    with open(fixture_csv, newline="") as fh:
        barcodes = [r["Barcode"] for r in csv.DictReader(fh) if r["Barcode"]]
    coded = {"code": "ISSUE", "desc": "Issue"}
    rows = [
        (bc, f"https://items.example/{bc}", 200, 409 if i % 7 == 0 else 200,
         (coded, coded, None if i % 3 else f"v.{i}", None, None, None))
        for i, bc in enumerate(barcodes)
        if i % 10
    ]
    spark.createDataFrame(
        rows,
        "barcode string, update_url string, http_status int, put_status int, "
        "item struct<physical_material_type: struct<code: string, desc: string>, "
        "policy: struct<code: string, desc: string>, enumeration_a: string, "
        "enumeration_b: string, chronology_i: string, chronology_j: string>",
    ).write.parquet(path)


def _csv_rows(out_dir):
    rows = []
    for part in glob.glob(os.path.join(out_dir, "part-*.csv")):
        with open(part, newline="") as fh:
            # Spark's CSV writer escapes quotes with a backslash
            rows += list(csv.DictReader(fh, escapechar="\\", doublequote=False))
    return rows


def test_cli_format_split_update(spark, fixture_csv, tmp_path):
    """-f -s -u end to end against a remote store whose ``item`` column
    is a struct: the suc_/err_ CSVs carry it as JSON text and together
    hold every input row."""
    remote = str(tmp_path / "remote.parquet")
    _remote_store(spark, fixture_csv, remote)
    out = str(tmp_path / "out")
    rc = main([fixture_csv, "-f", "-s", "-u", "--yes", "--items-remote", remote,
               "--out-dir", out])
    assert rc == 0
    suc = _csv_rows(os.path.join(out, "suc_item_records.csv"))
    err = _csv_rows(os.path.join(out, "err_item_records.csv"))
    assert suc and err
    assert len(suc) + len(err) == 168
    assert all(r["item"].startswith('{"physical_material_type"') for r in suc)


def test_ivf_topk_recall(spark):
    """IVF with generous probes recovers most brute-force neighbors."""
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") < 5)
    exact = cosine_topk(embs, queries, k=3).collect()
    approx = ivf_topk(embs, queries, k=3, n_centroids=8, n_probe=4).collect()
    pe = {(r["query_id"], r["neighbor_id"]) for r in exact}
    pa = {(r["query_id"], r["neighbor_id"]) for r in approx}
    assert pe and pa
    assert len(pe & pa) >= len(pe) // 2


def test_cli_corpus_mode(spark, tmp_path):
    """Corpus pass end-to-end: gate → scrub → dedup → split → lake."""
    out = str(tmp_path / "lake")
    rc = main(["/root/testdata/sf0.001/documents.parquet", "--corpus",
               "--out-dir", out])
    assert rc == 0
    splits = sorted(d for d in os.listdir(out) if d.startswith("split="))
    assert splits == ["split=test", "split=train", "split=val"]
    back = spark.read.parquet(out)
    n_in = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).count()
    assert 0 < back.count() <= n_in
    # gate is effective (some docs dropped) and text was scrubbed-in-place
    cols = set(back.columns)
    assert {"doc_id", "text", "split", "n_email", "n_tokens"} <= cols
